package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
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
  * SQL functions:
  *  - `graft_dot(a, b)` — codegen'd sequential-fold dot product ([[DotProduct]])
  *  - `graft_pct_result(blob, p)` — percentile read over a histogram blob
  *    on the reference's 90-bucket LevelDB scale ([[PercentileResult]])
  *  - `graft_pct_hist(v)` — histogram-percentile aggregate on the same
  *    scale ([[PercentileHistogram]]), on both paths
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.expressions.foreach(ext.injectFunction)
}

object GraftExtensions {

  private type Builder = Seq[Expression] => Expression

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo("graft.functions.GraftExtensions", null, name, usage,
      "", "", "", "", "", "", "built-in")

  val expressions: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = Seq(
    (FunctionIdentifier("graft_dot"),
      info("graft_dot", "graft_dot(a, b) - sequential-fold double dot product of two numeric arrays"),
      (args: Seq[Expression]) => {
        require(args.length == 2, s"graft_dot expects 2 arguments, got ${args.length}")
        DotProduct(args(0), args(1))
      }),
    (FunctionIdentifier("graft_pct_result"),
      info("graft_pct_result", "graft_pct_result(blob, p) - percentile p from a histogram blob (LevelDB 90-bucket scale)"),
      (args: Seq[Expression]) => {
        require(args.length == 2, s"graft_pct_result expects 2 arguments, got ${args.length}")
        PercentileResult(args(0), args(1), GraftFunctions.leveldbScale90.toSeq)
      }),
    (FunctionIdentifier("graft_pct_hist"),
      info("graft_pct_hist", "graft_pct_hist(v) - histogram-percentile aggregate: the reference accumulator blob (LevelDB 90-bucket scale)"),
      (args: Seq[Expression]) => {
        require(args.length == 1, s"graft_pct_hist expects 1 argument, got ${args.length}")
        PercentileHistogram(args(0), GraftFunctions.leveldbScale90.toSeq)
      }),
    (FunctionIdentifier("graft_hyperplane_buckets"),
      info("graft_hyperplane_buckets",
        "graft_hyperplane_buckets(v, planes, bits) - all LSH bucket ids of vector v; " +
          "planes is a CONSTANT array<array<double>> (tables*bits hyperplanes), " +
          "output array<int> of length planes/bits"),
      (args: Seq[Expression]) => {
        require(args.length == 3,
          s"graft_hyperplane_buckets expects 3 arguments, got ${args.length}")
        require(args(1).foldable && args(2).foldable,
          "planes and bits must be constants")
        val ad = args(1).eval()
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        val planes = (0 until ad.numElements())
          .map(i => ad.getArray(i).toDoubleArray().toSeq)
        HyperplaneBuckets(args(0), planes,
          args(2).eval().asInstanceOf[Number].intValue())
      }),
    (FunctionIdentifier("graft_sorted_hash_jaccard"),
      info("graft_sorted_hash_jaccard",
        "graft_sorted_hash_jaccard(a, b) - Jaccard of two ascending-sorted array<long> hash sets via one O(n+m) merge"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          s"graft_sorted_hash_jaccard expects 2 arguments, got ${args.length}")
        SortedHashJaccard(args(0), args(1))
      }),
    (FunctionIdentifier("graft_simhash64"),
      info("graft_simhash64",
        "graft_simhash64(token_hashes) - 64-bit SimHash signature from an array<long> of token hashes (majority bit vote)"),
      (args: Seq[Expression]) => {
        require(args.length == 1,
          s"graft_simhash64 expects 1 argument, got ${args.length}")
        SimHash64(args(0))
      }),
    (FunctionIdentifier("graft_rolling_hash"),
      info("graft_rolling_hash",
        "graft_rolling_hash(text) - Rabin-Karp code-point fingerprint, (h*31 + cp) mod 1e9+7"),
      (args: Seq[Expression]) => {
        require(args.length == 1,
          s"graft_rolling_hash expects 1 argument, got ${args.length}")
        RollingHash(args(0))
      }),
    (FunctionIdentifier("graft_image_header"),
      info("graft_image_header",
        "graft_image_header(bytes) - PNG IHDR / JPEG SOFn header parse of a " +
          "binary column; packed fmt<<48 | width<<24 | height (fmt 1=PNG " +
          "2=JPEG 0=unknown)"),
      (args: Seq[Expression]) => {
        require(args.length == 1,
          s"graft_image_header expects 1 argument, got ${args.length}")
        ImageHeader(args(0))
      }),
    (FunctionIdentifier("graft_wav_header"),
      info("graft_wav_header",
        "graft_wav_header(bytes) - RIFF/WAVE fmt+data chunk-walk probe; " +
          "packed rate<<42 | channels<<38 | bits<<32 | data_bytes (0=unknown)"),
      (args: Seq[Expression]) => {
        require(args.length == 1,
          s"graft_wav_header expects 1 argument, got ${args.length}")
        WavHeader(args(0))
      }),
    (FunctionIdentifier("graft_utf8_audit"),
      info("graft_utf8_audit",
        "graft_utf8_audit(bytes) - RFC 3629 UTF-8 validity audit; packed " +
          "valid<<32 | overlong<<24 | surrogate<<16 | truncated<<8 | bad"),
      (args: Seq[Expression]) => {
        require(args.length == 1,
          s"graft_utf8_audit expects 1 argument, got ${args.length}")
        Utf8Audit(args(0))
      }),
    (FunctionIdentifier("graft_mp4_mvhd"),
      info("graft_mp4_mvhd",
        "graft_mp4_mvhd(bytes) - ISO-BMFF box walk to moov/mvhd; packed " +
          "timescale<<31 | duration (0=unknown)"),
      (args: Seq[Expression]) => {
        require(args.length == 1,
          s"graft_mp4_mvhd expects 1 argument, got ${args.length}")
        Mp4Mvhd(args(0))
      }),
    (FunctionIdentifier("graft_flac_streaminfo"),
      info("graft_flac_streaminfo",
        "graft_flac_streaminfo(bytes) - FLAC STREAMINFO bit-field probe; " +
          "packed rate<<43 | channels<<39 | bps<<33 | total_samples " +
          "(0=unknown)"),
      (args: Seq[Expression]) => {
        require(args.length == 1,
          s"graft_flac_streaminfo expects 1 argument, got ${args.length}")
        FlacStreaminfo(args(0))
      }),
    (FunctionIdentifier("graft_jaro_winkler"),
      info("graft_jaro_winkler",
        "graft_jaro_winkler(a, b) - Jaro-Winkler similarity in [0, 1]; " +
          "textbook semantics (integer transposition halving, 0.7 boost " +
          "threshold, prefix cap 4; empty input scores 0). Quadratic in " +
          "string length - a NAME comparator; block and bound inputs"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          s"graft_jaro_winkler expects 2 arguments, got ${args.length}")
        JaroWinkler(args(0), args(1))
      }),
    (FunctionIdentifier("graft_ebml_header"),
      info("graft_ebml_header",
        "graft_ebml_header(bytes) - EBML/Matroska vint element walk; packed " +
          "doctype_class<<32 | ebml_version<<24 | doctype_version<<16 | " +
          "header_bytes (class 1=matroska 2=webm 3=other, 0=unknown)"),
      (args: Seq[Expression]) => {
        require(args.length == 1,
          s"graft_ebml_header expects 1 argument, got ${args.length}")
        EbmlHeader(args(0))
      }),
    (FunctionIdentifier("graft_token_rule_stats"),
      info("graft_token_rule_stats",
        "graft_token_rule_stats(toks, stopwords) - one-pass token rule metrics: " +
          "struct(n_words, sum_wlen, n_alpha, n_stop, n_distinct_bigrams); " +
          "stopwords is a CONSTANT array<string>"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          s"graft_token_rule_stats expects 2 arguments, got ${args.length}")
        require(args(1).foldable, "stopwords must be a constant array<string>")
        val evaled = args(1).eval()
        require(evaled != null, "stopwords must not be null")
        val ad = evaled
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        val stop = (0 until ad.numElements())
          .map(i => ad.getUTF8String(i).toString)
        TokenRuleStats(args(0), stop)
      }))

  /** Install on a live session's function registry. Idempotent. */
  def register(spark: SparkSession): Unit =
    expressions.foreach { case (ident, inf, builder) =>
      ColumnBridge.registerFunction(spark, ident, inf, builder)
    }
}
