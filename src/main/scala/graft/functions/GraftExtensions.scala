package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge

/** SQL surface for the graft function library.
  *
  * Deploy-time path: `--conf spark.sql.extensions=graft.functions.GraftExtensions`
  * injects the expressions into every session built on the cluster —
  * the standard `SparkSessionExtensions` plumbing.
  *
  * Runtime path: `GraftExtensions.register(spark)` installs the same
  * functions on an already-running session — needed because a session
  * handed to us by a driver has already been built.
  *
  * Each entry checks the arity, reads constant arguments, and calls the
  * same [[GraftFunctions]] builder as the Column API, so SQL and Scala
  * build the same expression. SQL functions:
  *  - `graft_dot(a, b)` — codegen'd sequential-fold dot product ([[DotProduct]])
  *  - `graft_pct_result(blob, p)` — percentile read over a histogram blob
  *    on the reference's 90-bucket LevelDB scale ([[PercentileResult]])
  *  - `graft_pct_hist(v)` — histogram-percentile aggregate on the same
  *    scale ([[PercentileHistogram]])
  *  - `graft_hyperplane_buckets(v, planes, bits)` — LSH bucket id per
  *    table over constant planes ([[HyperplaneBucketProbes]], one probe)
  *  - `graft_sorted_hash_jaccard(a, b)` — Jaccard of two sorted hash
  *    sets ([[SortedHashJaccard]])
  *  - `graft_simhash64(token_hashes)` — SimHash signature ([[SimHash64]])
  *  - `graft_rolling_hash(text)` — code-point Rabin-Karp ([[RollingHash]])
  *  - `graft_image_header(bytes)` — PNG/JPEG header ([[ImageHeader]])
  *  - `graft_wav_header(bytes)` — RIFF/WAVE probe ([[WavHeader]])
  *  - `graft_utf8_audit(bytes)` — UTF-8 validity audit ([[Utf8Audit]])
  *  - `graft_mp4_mvhd(bytes)` — ISO-BMFF mvhd probe ([[Mp4Mvhd]])
  *  - `graft_flac_streaminfo(bytes)` — FLAC probe ([[FlacStreaminfo]])
  *  - `graft_jaro_winkler(a, b)` — Jaro-Winkler similarity ([[JaroWinkler]])
  *  - `graft_ebml_header(bytes)` — EBML/Matroska probe ([[EbmlHeader]])
  *  - `graft_token_rule_stats(toks, stopwords)` — token rule metrics over
  *    constant stopwords ([[TokenRuleStats]])
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.expressions.foreach(ext.injectFunction)
}

object GraftExtensions {

  private type Builder = Seq[Expression] => Expression

  /** One registry entry: arity check, then the [[GraftFunctions]] builder
    * the Column API uses, over the SQL arguments as columns. */
  private def fn(name: String, arity: Int, usage: String)(
      build: Seq[Expression] => Column): (FunctionIdentifier, ExpressionInfo, Builder) =
    (FunctionIdentifier(name),
      new ExpressionInfo("graft.functions.GraftExtensions", null, name,
        s"$name$usage", "", "", "", "", "", "", "built-in"),
      (args: Seq[Expression]) => {
        require(args.length == arity, s"$name expects $arity argument" +
          s"${if (arity == 1) "" else "s"}, got ${args.length}")
        ColumnBridge.expression(build(args)) match {
          // SQL wraps aggregate functions itself (DISTINCT, FILTER)
          case agg: AggregateExpression => agg.aggregateFunction
          case e => e
        }
      })

  private def c(e: Expression): Column = ColumnBridge.column(e)

  /** A constant argument's value, e.g. a plane matrix or stopword list. */
  private def const(e: Expression, what: String): Any = {
    require(e.foldable, s"$what must be a constant")
    val v = e.eval()
    require(v != null, s"$what must not be null")
    v
  }

  private def int(e: Expression, what: String): Int =
    const(e, what).asInstanceOf[Number].intValue()

  private def elements(e: Expression, what: String): Seq[ArrayData] = {
    val ad = const(e, what).asInstanceOf[ArrayData]
    (0 until ad.numElements()).map(ad.getArray)
  }

  import GraftFunctions._

  val expressions: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = Seq(
    fn("graft_dot", 2,
      "(a, b) - sequential-fold double dot product of two numeric arrays")(
      a => dot(c(a(0)), c(a(1)))),
    fn("graft_pct_result", 2,
      "(blob, p) - percentile p from a histogram blob (LevelDB 90-bucket scale)")(
      a => pctResult(c(a(0)), c(a(1)), leveldbScale90)),
    fn("graft_pct_hist", 1,
      "(v) - histogram-percentile aggregate: the reference accumulator blob " +
        "(LevelDB 90-bucket scale)")(
      a => pctHist(c(a(0)), leveldbScale90)),
    fn("graft_hyperplane_buckets", 3,
      "(v, planes, bits) - all LSH bucket ids of vector v; planes is a " +
        "CONSTANT array<array<double>> (tables*bits hyperplanes), output " +
        "array<int> of length planes/bits")(
      a => hyperplaneBuckets(c(a(0)),
        elements(a(1), "planes").map(_.toDoubleArray().toSeq), int(a(2), "bits"))),
    fn("graft_sorted_hash_jaccard", 2,
      "(a, b) - Jaccard of two ascending-sorted array<long> hash sets via " +
        "one O(n+m) merge")(
      a => sortedHashJaccard(c(a(0)), c(a(1)))),
    fn("graft_simhash64", 1,
      "(token_hashes) - 64-bit SimHash signature from an array<long> of " +
        "token hashes (majority bit vote)")(
      a => simHash64(c(a(0)))),
    fn("graft_rolling_hash", 1,
      "(text) - Rabin-Karp code-point fingerprint, (h*31 + cp) mod 1e9+7")(
      a => rollingHash(c(a(0)))),
    fn("graft_image_header", 1,
      "(bytes) - PNG IHDR / JPEG SOFn header parse of a binary column; " +
        "packed fmt<<48 | width<<24 | height (fmt 1=PNG 2=JPEG 0=unknown)")(
      a => imageHeader(c(a(0)))),
    fn("graft_wav_header", 1,
      "(bytes) - RIFF/WAVE fmt+data chunk-walk probe; packed rate<<42 | " +
        "channels<<38 | bits<<32 | data_bytes (0=unknown)")(
      a => wavHeader(c(a(0)))),
    fn("graft_utf8_audit", 1,
      "(bytes) - RFC 3629 UTF-8 validity audit; packed valid<<32 | " +
        "overlong<<24 | surrogate<<16 | truncated<<8 | bad")(
      a => utf8Audit(c(a(0)))),
    fn("graft_mp4_mvhd", 1,
      "(bytes) - ISO-BMFF box walk to moov/mvhd; packed timescale<<31 | " +
        "duration (0=unknown)")(
      a => mp4Mvhd(c(a(0)))),
    fn("graft_flac_streaminfo", 1,
      "(bytes) - FLAC STREAMINFO bit-field probe; packed rate<<43 | " +
        "channels<<39 | bps<<33 | total_samples (0=unknown)")(
      a => flacStreaminfo(c(a(0)))),
    fn("graft_jaro_winkler", 2,
      "(a, b) - Jaro-Winkler similarity in [0, 1]; textbook semantics " +
        "(integer transposition halving, 0.7 boost threshold, prefix cap 4; " +
        "empty input scores 0). Quadratic in string length - a NAME " +
        "comparator; block and bound inputs")(
      a => jaroWinkler(c(a(0)), c(a(1)))),
    fn("graft_ebml_header", 1,
      "(bytes) - EBML/Matroska vint element walk; packed doctype_class<<32 | " +
        "ebml_version<<24 | doctype_version<<16 | header_bytes (class " +
        "1=matroska 2=webm 3=other, 0=unknown)")(
      a => ebmlHeader(c(a(0)))),
    fn("graft_token_rule_stats", 2,
      "(toks, stopwords) - one-pass token rule metrics: struct(n_words, " +
        "sum_wlen, n_alpha, n_stop, n_distinct_bigrams); stopwords is a " +
        "CONSTANT array<string>")(
      a => {
        val stop = const(a(1), "stopwords").asInstanceOf[ArrayData]
        tokenRuleStats(c(a(0)),
          (0 until stop.numElements()).map(stop.getUTF8String(_).toString))
      }))

  /** Install on a live session's function registry. Idempotent. */
  def register(spark: SparkSession): Unit =
    expressions.foreach { case (ident, inf, builder) =>
      ColumnBridge.registerFunction(spark, ident, inf, builder)
    }
}
