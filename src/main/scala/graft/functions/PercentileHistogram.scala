package graft.functions

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType, IntegerType}

/** Fixed-boundary histogram percentile (LevelDB-histogram style), matching
  * the reference engine's accumulator bit-for-bit:
  * `rlink/src/functions/percentile/mod.rs` —
  * state = `(scale.len + 1) * 8` bytes, bucket i's count as a big-endian
  * u64 at offset `i*8`, total count in the trailing slot
  * (`percentile/mod.rs:1-3,14-25`). `eval` returns exactly that blob.
  *
  * `update` buckets a value to the smallest boundary >= value, clamped
  * to the first/last boundary (`percentile/mod.rs:59-122`); the input is
  * cast to double and NULL inputs are skipped.
  *
  * Deviation from the reference, by design: the reference's `merge`
  * (`percentile/mod.rs:124-128`) adds the two byte arrays **byte-wise
  * without carry**, which silently corrupts counts >= 256; it can afford
  * that only because its single-reduce-step runtime never merges partial
  * aggregates. Spark's distributed aggregation merges constantly, so we
  * merge the u64 counters arithmetically — identical results wherever the
  * reference is correct, and correct at any scale.
  *
  * State layout. In memory the buffer is the dense `Array[Long](n + 1)`,
  * updated in place. Between operators (partial-aggregate spill, shuffle,
  * streaming state store) it is serialized SPARSE: one format-tag byte,
  * then a `(bucket index, count)` varint pair per non-zero bucket in
  * strictly ascending index order; the total is not stored and is
  * recomputed on read. A windowed group typically holds a handful of
  * values, so a few bytes replace the 92-long array. `deserialize` rejects
  * a wrong tag, an out-of-range or non-ascending index, a zero count and a
  * truncated varint with an [[IllegalStateException]] — state written in
  * any other layout fails loudly instead of being misread.
  */
case class PercentileHistogram(
    child: Expression,
    scale: Seq[Double],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]]
    with ImplicitCastInputTypes with UnaryLike[Expression] {

  import PercentileHistogram._

  @transient private lazy val bounds: Array[Double] = scale.toArray
  private def n: Int = bounds.length

  override def prettyName: String = "graft_pct_hist"
  override def inputTypes = Seq(DoubleType)
  override def dataType: DataType = BinaryType
  // never null itself, but PercentileResult inherits nullability from this
  // column and returns null for an empty histogram
  override def nullable: Boolean = true

  /** Smallest boundary index >= v, clamped to [0, n-1]
    * (reference `position_in_value_array`, `percentile/mod.rs:78-122`).
    *
    * NaN lands in the LAST bucket (java.util.Arrays.binarySearch uses
    * Double's total order, where NaN sorts above every value, so the
    * insertion point clamps to n-1). The reference's Rust f64
    * `partial_cmp` has no defined NaN ordering — its binary search on NaN
    * input is unspecified — so top-bucket clamping is a deliberate,
    * documented tightening, not a parity break: on NaN-free data (all
    * gate corpora) the two are bit-identical. */
  private def bucket(v: Double): Int = {
    val i = java.util.Arrays.binarySearch(bounds, v)
    if (i >= 0) i
    else {
      val ins = -i - 1
      if (ins >= n) n - 1 else ins
    }
  }

  override def createAggregationBuffer(): Array[Long] = new Array[Long](n + 1)

  override def update(b: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      b(n) += 1L
      b(bucket(v.asInstanceOf[Double])) += 1L
    }
    b
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  /** Big-endian u64 blob, bit-identical to the reference accumulator. */
  override def eval(b: Array[Long]): Any = {
    val buf = ByteBuffer.allocate(b.length * 8).order(ByteOrder.BIG_ENDIAN)
    b.foreach(buf.putLong)
    buf.array()
  }

  override def serialize(b: Array[Long]): Array[Byte] = {
    var size = 1
    var i = 0
    while (i < n) {
      if (b(i) != 0L) size += varintSize(i) + varintSize(b(i))
      i += 1
    }
    val out = new Array[Byte](size)
    out(0) = FormatTag
    var pos = 1
    i = 0
    while (i < n) {
      if (b(i) != 0L) pos = putVarint(out, putVarint(out, pos, i), b(i))
      i += 1
    }
    out
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    if (bytes.length == 0 || bytes(0) != FormatTag)
      corrupt(s"format tag ${bytes.headOption.fold("missing")(t => f"0x$t%02x")}," +
        f" expected 0x$FormatTag%02x")
    val b = createAggregationBuffer()
    val in = new VarintReader(bytes, 1)
    var prev = -1L
    var total = 0L
    while (in.pos < bytes.length) {
      val idx = in.next()
      if (idx <= prev || idx >= n)
        corrupt(s"bucket index $idx after ${if (prev < 0) "none" else prev}" +
          s" (must ascend within [0, $n))")
      val c = in.next()
      if (c <= 0L) corrupt(s"count $c in bucket $idx (must be positive)")
      b(idx.toInt) = c
      total += c
      prev = idx
    }
    b(n) = total
    b
  }

  override def withNewMutableAggBufferOffset(off: Int): PercentileHistogram =
    copy(mutableAggBufferOffset = off)
  override def withNewInputAggBufferOffset(off: Int): PercentileHistogram =
    copy(inputAggBufferOffset = off)
  override protected def withNewChildInternal(c: Expression): PercentileHistogram =
    copy(child = c)
}

object PercentileHistogram {

  /** First byte of every serialized buffer. Neither 0 nor 1, so an
    * UnsafeRow-encoded buffer (whose first byte is its null bitset) can
    * never pass for one. */
  private val FormatTag: Byte = 0x47

  private def corrupt(what: String): Nothing =
    throw new IllegalStateException(
      s"graft_pct_hist: unreadable histogram state ($what). State written " +
        "by a different histogram layout cannot be restored.")

  private def varintSize(v: Long): Int = {
    var x = v >>> 7
    var s = 1
    while (x != 0L) { x >>>= 7; s += 1 }
    s
  }

  /** Unsigned LEB128; returns the position after the last byte written. */
  private def putVarint(out: Array[Byte], at: Int, v: Long): Int = {
    var x = v
    var pos = at
    while ((x & ~0x7fL) != 0L) {
      out(pos) = ((x & 0x7f) | 0x80).toByte
      x >>>= 7
      pos += 1
    }
    out(pos) = x.toByte
    pos + 1
  }

  private final class VarintReader(bytes: Array[Byte], var pos: Int) {
    def next(): Long = {
      var v = 0L
      var shift = 0
      var more = true
      while (more) {
        if (pos >= bytes.length) corrupt("truncated varint")
        if (shift > 63) corrupt("varint longer than 64 bits")
        val x = bytes(pos)
        pos += 1
        v |= (x & 0x7fL) << shift
        more = x < 0
        shift += 7
      }
      v
    }
  }
}

/** Scalar reader over the histogram blob — reference
  * `PercentileReader.get_result` (`percentile/mod.rs:171-211`): position =
  * `trunc(count * (100-p)/100)` clamped to `[1, count]`; scan buckets from
  * the top accumulating counts; the bucket where the running count crosses
  * the position yields its boundary value.
  *
  * CodegenFallback is fine here: this runs once per output group (post-
  * aggregation), never per input row.
  */
case class PercentileResult(left: Expression, right: Expression, scale: Seq[Double])
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = DoubleType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (left.dataType == BinaryType && right.dataType == IntegerType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"pct_result expects (binary, int), got (${left.dataType}, ${right.dataType})")
  }

  override def nullSafeEval(blob: Any, p: Any): Any = {
    val bytes = blob.asInstanceOf[Array[Byte]]
    val waterLine = p.asInstanceOf[Int]
    require(waterLine >= 0 && waterLine <= 100,
      s"waterLine must be within [0, 100], got $waterLine")
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    val n = scale.length
    val counter = bb.getLong(n * 8)
    if (counter == 0L) return null
    val rightFrac = (100 - waterLine).toDouble / 100.0
    val rawPos = (counter.toDouble * rightFrac).toLong
    val pos = if (rawPos <= 1L) 1L else if (rawPos >= counter) counter else rawPos
    var scanned = 0L
    var idx = n - 1
    while (idx >= 0) {
      val c = bb.getLong(idx * 8)
      if (c != 0L) {
        scanned += c
        if (scanned >= pos) return scale(idx)
      }
      idx -= 1
    }
    null // unreachable: every accumulated value lands in some bucket
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Column-level API for the graft function library. */
object GraftFunctions {

  /** The 90-bucket LevelDB-histogram scale the reference examples use
    * (`example/example-connect/src/percentile.rs:1-17`). */
  val leveldbScale90: Array[Double] = {
    val b = Array.newBuilder[Double]
    (1 to 10).foreach(i => b += i.toDouble)            // 1..10 step 1
    (12 to 20 by 2).foreach(i => b += i.toDouble)      // 12..20 step 2
    (25 to 50 by 5).foreach(i => b += i.toDouble)      // 25..50 step 5
    (60 to 100 by 10).foreach(i => b += i.toDouble)    // 60..100 step 10
    (120 to 200 by 20).foreach(i => b += i.toDouble)   // 120..200 step 20
    (250 to 500 by 50).foreach(i => b += i.toDouble)   // 250..500 step 50
    (600 to 1000 by 100).foreach(i => b += i.toDouble) // 600..1000 step 100
    Seq(1200, 1400, 1600, 1800, 2000).foreach(i => b += i.toDouble)
    Seq(2500, 3000, 3500, 4000, 4500, 5000).foreach(i => b += i.toDouble)
    Seq(6000, 7000, 8000, 9000, 10000).foreach(i => b += i.toDouble)
    Seq(12000, 14000, 16000, 18000, 20000).foreach(i => b += i.toDouble)
    Seq(25000, 30000, 35000, 40000, 45000, 50000).foreach(i => b += i.toDouble)
    Seq(60000, 70000, 80000, 90000, 100000).foreach(i => b += i.toDouble)
    Seq(120000, 140000, 160000, 180000, 200000).foreach(i => b += i.toDouble)
    Seq(250000, 300000, 350000, 400000, 450000, 500000).foreach(i => b += i.toDouble)
    Seq(600000, 700000, 800000, 900000, 1000000).foreach(i => b += i.toDouble)
    b.result()
  }

  /** Histogram-percentile aggregate: returns the binary accumulator blob. */
  def pctHist(c: Column, scale: Array[Double]): Column =
    ColumnBridge.column(PercentileHistogram(ColumnBridge.expression(c),
      scale.toSeq).toAggregateExpression())

  /** Read percentile `p` (integer water line, e.g. 90 / 99) from a blob. */
  def pctResult(blob: Column, p: Int, scale: Array[Double]): Column =
    ColumnBridge.column(
      PercentileResult(ColumnBridge.expression(blob), Literal(p), scale.toSeq))

  /** One-shot: percentile of a column at water line `p`. */
  def pct(c: Column, p: Int, scale: Array[Double]): Column =
    pctResult(pctHist(c, scale), p, scale)

  /** Codegen'd sequential-fold dot product of two numeric array columns
    * (see [[DotProduct]]); bit-identical to the `aggregate(zip_with(...))`
    * formulation and DuckDB's `list_dot_product`. */
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(
      DotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** All LSH bucket ids of a vector in one fused loop (see
    * [[HyperplaneBuckets]]): returns array<int> of length
    * planes.length / bitsPerTable; pair with posexplode to get
    * (table, bucket) rows. */
  def hyperplaneBuckets(v: Column, planes: Seq[Seq[Double]],
      bitsPerTable: Int): Column =
    ColumnBridge.column(
      HyperplaneBuckets(ColumnBridge.expression(v), planes, bitsPerTable))

  /** Query-directed multiprobe LSH buckets (see
    * [[HyperplaneBucketProbes]]): flat array<int> of numTables*numProbes
    * bucket ids — base bucket first per table, then perturbations of the
    * lowest-|dot| bits. Query-side companion of [[hyperplaneBuckets]]. */
  def hyperplaneBucketProbes(v: Column, planes: Seq[Seq[Double]],
      bitsPerTable: Int, numProbes: Int): Column =
    ColumnBridge.column(HyperplaneBucketProbes(
      ColumnBridge.expression(v), planes, bitsPerTable, numProbes))

  /** Cosine against every centroid of a coarse quantizer in one fused
    * loop (see [[CentroidScores]]): array<struct<s:double,c:int>> in
    * centroid order — `array_max`/`array_sort` pick cells by score.
    * The centroid matrix rides as a [[BcTensor]] broadcast (validated
    * and shipped here, once per call site, not per task). */
  def centroidScores(v: Column, norm: Column, cents: Seq[Seq[Double]]): Column = {
    require(cents.nonEmpty, "need at least one centroid")
    require(cents.forall(_.length == cents.head.length), "ragged centroids")
    ColumnBridge.column(CentroidScores(
      ColumnBridge.expression(v), ColumnBridge.expression(norm),
      BcTensor.of2(cents.map(_.toArray).toArray)))
  }

  /** Jaccard of two ascending-sorted array<long> hash sets in one O(n+m)
    * merge (see [[SortedHashJaccard]]): the exactness-preserving
    * prefilter for similarity-join verification (jaccard_hash >=
    * jaccard_string for any hash). */
  def sortedHashJaccard(a: Column, b: Column): Column =
    ColumnBridge.column(SortedHashJaccard(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** 64-bit SimHash signature of an array<long> of token hashes (see
    * [[SimHash64]]): bit b set iff more tokens have bit b set than clear.
    * Pure projection — pair with `transform(toks, t -> xxhash64(t))` for
    * a zero-shuffle document signature. */
  def simHash64(tokenHashes: Column): Column =
    ColumnBridge.column(SimHash64(ColumnBridge.expression(tokenHashes)))

  /** PNG-IHDR / JPEG-SOFn header parse of a binary column (see
    * [[ImageHeader]]): packed `fmt << 48 | width << 24 | height`
    * (fmt 1 = PNG, 2 = JPEG, 0 = unrecognized) — one codegen'd header
    * walk serves format, dimensions, and resize-plan columns. */
  def imageHeader(bytes: Column): Column =
    ColumnBridge.column(ImageHeader(ColumnBridge.expression(bytes)))

  /** RIFF/WAVE fmt+data chunk-walk probe of a binary column (see
    * [[WavHeader]]): packed `rate << 42 | channels << 38 | bits << 32 |
    * data_bytes` (0 = unrecognized). */
  def wavHeader(bytes: Column): Column =
    ColumnBridge.column(WavHeader(ColumnBridge.expression(bytes)))

  /** ISO-BMFF (MP4) box-walk probe to moov/mvhd (see [[Mp4Mvhd]]):
    * packed `timescale << 31 | duration` (0 = unrecognized). */
  def mp4Mvhd(bytes: Column): Column =
    ColumnBridge.column(Mp4Mvhd(ColumnBridge.expression(bytes)))

  /** EBML/Matroska header probe (see [[EbmlHeader]]): vint element walk;
    * packed `doctype_class << 32 | ebml_version << 24 | doctype_version
    * << 16 | header_bytes` (class 1 = matroska, 2 = webm, 3 = other;
    * 0 = unrecognized). */
  def ebmlHeader(bytes: Column): Column =
    ColumnBridge.column(EbmlHeader(ColumnBridge.expression(bytes)))

  /** FLAC STREAMINFO probe (see [[FlacStreaminfo]]): sub-byte bit-field
    * extraction of the stream parameters; packed `rate << 43 |
    * channels << 39 | bps << 33 | total_samples` (0 = unrecognized). */
  def flacStreaminfo(bytes: Column): Column =
    ColumnBridge.column(FlacStreaminfo(ColumnBridge.expression(bytes)))

  /** Jaro–Winkler similarity of two strings (see [[JaroWinkler]]):
    * textbook/DuckDB semantics — integer transposition halving, 0.7
    * boost threshold, prefix cap 4; 0.0 when either side is empty. */
  def jaroWinkler(a: Column, b: Column): Column =
    ColumnBridge.column(JaroWinkler(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** RFC 3629 UTF-8 validity/mojibake audit of a binary column (see
    * [[Utf8Audit]]): packed `valid << 32 | overlong << 24 | surrogate
    * << 16 | truncated << 8 | bad` — one codegen'd byte walk classifies
    * every sequence (valid count == codepoint count on clean text). */
  def utf8Audit(bytes: Column): Column =
    ColumnBridge.column(Utf8Audit(ColumnBridge.expression(bytes)))

  /** Rabin-Karp code-point fingerprint (see [[RollingHash]]):
    * (h*31 + codepoint) mod 1e9+7, matching DuckDB's code-point `ascii`
    * semantics on all inputs including surrogate pairs. */
  def rollingHash(c: Column): Column =
    ColumnBridge.column(RollingHash(ColumnBridge.expression(c)))

  /** All q62 token-level rule metrics in one fused loop (see
    * [[TokenRuleStats]]): struct(n_words, sum_wlen, n_alpha, n_stop,
    * n_distinct_bigrams). */
  def tokenRuleStats(toks: Column, stopwords: Seq[String]): Column =
    ColumnBridge.column(TokenRuleStats(ColumnBridge.expression(toks), stopwords))

  private def validPqBooks(books: Seq[Seq[Seq[Double]]], bits: Int): Unit = {
    val (m, k) = (books.length, books.head.length)
    require(m >= 1 && k >= 1 && k <= (1 << bits) && m * bits <= 64,
      s"PQ shape invalid: m=$m K=$k bits=$bits")
    require(books.forall(b => b.length == k &&
      b.forall(_.length == books.head.head.length)), "ragged codebook tensor")
  }

  /** Pack a vector's m per-subspace PQ code indices into one long (see
    * [[PqEncode]]): the 8-byte index-side representation of a PQ scan.
    * The codebook tensor rides as a [[BcTensor]] broadcast. */
  def pqEncode(v: Column, books: Seq[Seq[Seq[Double]]], bits: Int): Column = {
    validPqBooks(books, bits)
    ColumnBridge.column(PqEncode(ColumnBridge.expression(v),
      BcTensor.of3(books.map(_.map(_.toArray).toArray).toArray), bits))
  }

  /** Flat m*K ADC lookup table of a query vector against the PQ
    * codebooks (see [[PqLut]]): the query-side companion of
    * [[pqEncode]]. */
  def pqLut(q: Column, books: Seq[Seq[Seq[Double]]]): Column = {
    require(books.nonEmpty && books.forall(b => b.length == books.head.length
      && b.forall(_.length == books.head.head.length)), "ragged codebook tensor")
    ColumnBridge.column(PqLut(ColumnBridge.expression(q),
      BcTensor.of3(books.map(_.map(_.toArray).toArray).toArray)))
  }

  /** Asymmetric-distance score of a packed code against a query LUT
    * (see [[PqAdcScore]]): m table reads per candidate, inside
    * whole-stage codegen. */
  def pqAdcScore(code: Column, lut: Column, m: Int, bits: Int, k: Int): Column =
    ColumnBridge.column(PqAdcScore(ColumnBridge.expression(code),
      ColumnBridge.expression(lut), m, bits, k))

  /** Unit-normalize a numeric array column in one fused codegen loop
    * (see [[UnitNormalize]]): array<double> unit vector, NULL on zero
    * norm. Bit-identical to the norm-bound-once lambda formulation. */
  def unitNormalize(v: Column): Column =
    ColumnBridge.column(UnitNormalize(ColumnBridge.expression(v)))

  /** Cyclic-neighbor mix out[j] = a[j] + eps*a[(j+1) mod n] (see
    * [[NeighborMix]]) — the planted-near-dup generator of the ANN/dedup
    * fixtures, codegen'd. */
  def neighborMix(v: Column, eps: Double): Column =
    ColumnBridge.column(NeighborMix(ColumnBridge.expression(v), eps))

  /** Cosine similarity via [[dot]]; norms computed inline. Prefer
    * precomputing norms once per side when a side is reused (see
    * Similarity.withNorm). */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (org.apache.spark.sql.functions.sqrt(dot(a, a)) *
      org.apache.spark.sql.functions.sqrt(dot(b, b)))
}
