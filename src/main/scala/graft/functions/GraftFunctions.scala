package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.{Invoke, StaticInvoke}
import org.apache.spark.sql.graftbridge.{ByElementType, ColumnBridge}
import org.apache.spark.sql.types._

/** Column-level API for the graft function library, and the one builder
  * per function that the SQL surface ([[GraftExtensions]]) calls too.
  *
  * Every function but [[DotProduct]] and the two percentile expressions
  * is a kernel method on a Scala object, called through Spark's own
  * `StaticInvoke` — the way Spark writes `aes_encrypt` or `luhn_check` —
  * so whole-stage codegen emits one static call and interpreted eval
  * calls the same method. Spark's implicit casts coerce the inputs to the
  * kernel's declared types. Constant operands (planes, stopwords,
  * tensors) ride as one [[KernelConst]] literal each.
  */
object GraftFunctions {

  private def expr(c: Column): Expression = ColumnBridge.expression(c)

  /** `kernel.method(args)`, with `types` the inputs' declared types. A
    * NULL input yields NULL; `nullable` says the kernel itself may return
    * null (a shape or null-element violation). */
  private def kernel(obj: AnyRef, method: String, dataType: DataType,
      args: Seq[Expression], types: Seq[DataType],
      nullable: Boolean = true): Column =
    ColumnBridge.column(StaticInvoke(obj.getClass, dataType, method, args,
      types, returnNullable = nullable))

  /** A constant operand: its carrier literal, unwrapped per row by one
    * getter call. */
  private def operand(k: KernelConst[_]): Expression =
    Invoke(Literal.fromObject(k), "value", ObjectType(k.value.getClass),
      returnNullable = false)

  /** `obj.compute(vector, operands..., isFloat)`, the float or double
    * variant picked from the vector's resolved element type. */
  private def vectorKernel(obj: AnyRef, dataType: DataType, v: Column,
      operands: Seq[Expression], types: Seq[DataType]): Column =
    ColumnBridge.column(ByElementType(obj.getClass, dataType,
      expr(v) +: operands, types))

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
    ColumnBridge.column(PercentileHistogram(expr(c),
      scale.toSeq).toAggregateExpression())

  /** Read percentile `p` (integer water line, e.g. 90 / 99) from a blob. */
  def pctResult(blob: Column, p: Int, scale: Array[Double]): Column =
    pctResult(blob, org.apache.spark.sql.functions.lit(p), scale)

  /** [[pctResult]] with the water line as an int column. */
  def pctResult(blob: Column, p: Column, scale: Array[Double]): Column =
    ColumnBridge.column(PercentileResult(expr(blob), expr(p), scale.toSeq))

  /** One-shot: percentile of a column at water line `p`. */
  def pct(c: Column, p: Int, scale: Array[Double]): Column =
    pctResult(pctHist(c, scale), p, scale)

  /** Exact `SUM(CAST(c AS DECIMAL(25,6)))` on a fixed-point long buffer
    * (see [[FixedPointSum]]): the same `DECIMAL(35,6)` value, NULL for a
    * group with no non-null input, with no BigDecimal on the per-row
    * path. Fails past about 1.5e20 instead of wrapping. */
  def exactSum(c: Column): Column =
    ColumnBridge.column(FixedPointSum(expr(c), emitState = false).toAggregateExpression())

  /** [[exactSum]]'s partial state, a `struct<hi, lo>` of longs (NULL for
    * no input), for a second aggregation level to merge with
    * [[exactSumOfStates]]. */
  def exactSumState(c: Column): Column =
    ColumnBridge.column(FixedPointSum(expr(c), emitState = true).toAggregateExpression())

  /** The exact sum of [[exactSumState]] states: equal to [[exactSum]] of
    * the rows behind them. */
  def exactSumOfStates(state: Column): Column =
    ColumnBridge.column(FixedPointSumMerge(expr(state)).toAggregateExpression())

  /** Codegen'd sequential-fold dot product of two numeric array columns
    * (see [[DotProduct]]); bit-identical to the `aggregate(zip_with(...))`
    * formulation and DuckDB's `list_dot_product`. */
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(expr(a), expr(b)))

  /** All LSH bucket ids of a vector, one per table (see
    * [[HyperplaneBucketProbes]] with one probe): array<int> of length
    * planes.length / bitsPerTable; pair with posexplode to get
    * (table, bucket) rows. */
  def hyperplaneBuckets(v: Column, planes: Seq[Seq[Double]],
      bitsPerTable: Int): Column =
    hyperplaneBucketProbes(v, planes, bitsPerTable, 1)

  /** Query-directed multiprobe LSH buckets (see
    * [[HyperplaneBucketProbes]]): flat array<int> of numTables*numProbes
    * bucket ids — base bucket first per table, then perturbations of the
    * lowest-|dot| bits. Query-side companion of [[hyperplaneBuckets]]. */
  def hyperplaneBucketProbes(v: Column, planes: Seq[Seq[Double]],
      bitsPerTable: Int, numProbes: Int): Column = {
    // bucket ids are ints built by `1 << p`: p >= 31 would hit the sign
    // bit / wrap mod 32 and silently alias distinct sign patterns — fail
    // fast instead (callers' geometry laws cap at 30, e.g. DupMaxBits)
    require(bitsPerTable >= 1 && bitsPerTable <= 30,
      s"bitsPerTable must be in [1, 30], got $bitsPerTable")
    require(planes.nonEmpty && planes.length % bitsPerTable == 0,
      s"planes (${planes.length}) must be a multiple of bitsPerTable ($bitsPerTable)")
    require(planes.forall(_.length == planes.head.length), "ragged planes")
    require(numProbes >= 1 && numProbes <=
        1 + bitsPerTable + bitsPerTable * (bitsPerTable - 1) / 2,
      s"numProbes ($numProbes) must be in [1, 1 + bits + bits*(bits-1)/2]")
    val p = operand(new Const(planes.map(_.toArray).toArray))
    vectorKernel(HyperplaneBucketProbes, ArrayType(IntegerType, containsNull = false),
      v, Seq(p, Literal(bitsPerTable), Literal(numProbes)),
      Seq(p.dataType, IntegerType, IntegerType))
  }

  /** Cosine against every centroid of a coarse quantizer in one fused
    * loop (see [[CentroidScores]]): array<struct<s:double,c:int>> in
    * centroid order — `array_max`/`array_sort` pick cells by score.
    * The centroid matrix rides as a [[BcTensor]] broadcast (validated
    * and shipped here, once per call site, not per task). */
  def centroidScores(v: Column, norm: Column, cents: Seq[Seq[Double]]): Column = {
    require(cents.nonEmpty, "need at least one centroid")
    require(cents.forall(_.length == cents.head.length), "ragged centroids")
    centroidScores(v, norm, BcTensor(cents.map(_.toArray).toArray, "centroidScores"))
  }

  /** [[centroidScores]] over a tensor the caller owns (and may destroy
    * once the column's last job has run). */
  def centroidScores(v: Column, norm: Column,
      cents: BcTensor[Array[Array[Double]]]): Column = {
    val c = operand(cents)
    vectorKernel(CentroidScores, ArrayType(StructType(Seq(
        StructField("s", DoubleType, nullable = false),
        StructField("c", IntegerType, nullable = false))), containsNull = false),
      v, Seq(expr(norm), c), Seq(DoubleType, c.dataType))
  }

  /** Jaccard of two ascending-sorted array<long> hash sets in one O(n+m)
    * merge (see [[SortedHashJaccard]]): the exactness-preserving
    * prefilter for similarity-join verification (jaccard_hash >=
    * jaccard_string for any hash). */
  def sortedHashJaccard(a: Column, b: Column): Column =
    kernel(SortedHashJaccard, "compute", DoubleType, Seq(expr(a), expr(b)),
      Seq(ArrayType(LongType), ArrayType(LongType)))

  /** 64-bit SimHash signature of an array<long> of token hashes (see
    * [[SimHash64]]): bit b set iff more tokens have bit b set than clear.
    * Pure projection — pair with `transform(toks, t -> xxhash64(t))` for
    * a zero-shuffle document signature. */
  def simHash64(tokenHashes: Column): Column =
    kernel(SimHash64, "compute", LongType, Seq(expr(tokenHashes)),
      Seq(ArrayType(LongType)))

  /** A `binary -> bigint` header probe that never returns null itself. */
  private def probe(obj: AnyRef, bytes: Column): Column =
    kernel(obj, "parse", LongType, Seq(expr(bytes)), Seq(BinaryType),
      nullable = false)

  /** PNG-IHDR / JPEG-SOFn header parse of a binary column (see
    * [[ImageHeader]]): packed `fmt << 48 | width << 24 | height`
    * (fmt 1 = PNG, 2 = JPEG, 0 = unrecognized) — one codegen'd header
    * walk serves format, dimensions, and resize-plan columns. */
  def imageHeader(bytes: Column): Column = probe(ImageHeader, bytes)

  /** RIFF/WAVE fmt+data chunk-walk probe of a binary column (see
    * [[WavHeader]]): packed `rate << 42 | channels << 38 | bits << 32 |
    * data_bytes` (0 = unrecognized). */
  def wavHeader(bytes: Column): Column = probe(WavHeader, bytes)

  /** ISO-BMFF (MP4) box-walk probe to moov/mvhd (see [[Mp4Mvhd]]):
    * packed `timescale << 31 | duration` (0 = unrecognized). */
  def mp4Mvhd(bytes: Column): Column = probe(Mp4Mvhd, bytes)

  /** EBML/Matroska header probe (see [[EbmlHeader]]): vint element walk;
    * packed `doctype_class << 32 | ebml_version << 24 | doctype_version
    * << 16 | header_bytes` (class 1 = matroska, 2 = webm, 3 = other;
    * 0 = unrecognized). */
  def ebmlHeader(bytes: Column): Column = probe(EbmlHeader, bytes)

  /** FLAC STREAMINFO probe (see [[FlacStreaminfo]]): sub-byte bit-field
    * extraction of the stream parameters; packed `rate << 43 |
    * channels << 39 | bps << 33 | total_samples` (0 = unrecognized). */
  def flacStreaminfo(bytes: Column): Column = probe(FlacStreaminfo, bytes)

  /** RFC 3629 UTF-8 validity/mojibake audit of a binary column (see
    * [[Utf8Audit]]): packed `valid << 32 | overlong << 24 | surrogate
    * << 16 | truncated << 8 | bad` — one codegen'd byte walk classifies
    * every sequence (valid count == codepoint count on clean text). */
  def utf8Audit(bytes: Column): Column = probe(Utf8Audit, bytes)

  /** Jaro–Winkler similarity of two strings (see [[JaroWinkler]]):
    * textbook/DuckDB semantics — integer transposition halving, 0.7
    * boost threshold, prefix cap 4; 0.0 when either side is empty. */
  def jaroWinkler(a: Column, b: Column): Column =
    kernel(JaroWinkler, "jw", DoubleType, Seq(expr(a), expr(b)),
      Seq(StringType, StringType), nullable = false)

  /** Rabin-Karp code-point fingerprint (see [[RollingHash]]):
    * (h*31 + codepoint) mod 1e9+7, matching DuckDB's code-point `ascii`
    * semantics on all inputs including surrogate pairs. */
  def rollingHash(c: Column): Column =
    kernel(RollingHash, "hash", LongType, Seq(expr(c)), Seq(StringType),
      nullable = false)

  /** All q62 token-level rule metrics in one fused loop (see
    * [[TokenRuleStats]]): struct(n_words, sum_wlen, n_alpha, n_stop,
    * n_distinct_bigrams). */
  def tokenRuleStats(toks: Column, stopwords: Seq[String]): Column = {
    val stop = operand(new Const(
      stopwords.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray))
    kernel(TokenRuleStats, "compute", StructType(Seq(
        StructField("n_words", IntegerType, nullable = false),
        StructField("sum_wlen", LongType, nullable = false),
        StructField("n_alpha", IntegerType, nullable = false),
        StructField("n_stop", IntegerType, nullable = false),
        StructField("n_distinct_bigrams", IntegerType, nullable = false))),
      Seq(expr(toks), stop), Seq(ArrayType(StringType), stop.dataType))
  }

  /** The codebook tensor as an operand, shipped as a [[BcTensor]]. */
  private def pqBooks(books: Seq[Seq[Seq[Double]]], builder: String): Expression = {
    require(books.nonEmpty && books.forall(b => b.length == books.head.length
      && b.forall(_.length == books.head.head.length)), "ragged codebook tensor")
    operand(BcTensor(books.map(_.map(_.toArray).toArray).toArray, builder))
  }

  private def validPqShape(m: Int, k: Int, bits: Int): Unit =
    require(m >= 1 && k >= 1 && k <= (1 << bits) && m * bits <= 64,
      s"PQ shape invalid: m=$m K=$k bits=$bits")

  /** Pack a vector's m per-subspace PQ code indices into one long (see
    * [[PqEncode]]): the 8-byte index-side representation of a PQ scan.
    * The codebook tensor rides as a [[BcTensor]] broadcast. */
  def pqEncode(v: Column, books: Seq[Seq[Seq[Double]]], bits: Int): Column = {
    validPqShape(books.length, books.headOption.fold(0)(_.length), bits)
    val b = pqBooks(books, "pqEncode")
    vectorKernel(PqEncode, LongType, v, Seq(b, Literal(bits)),
      Seq(b.dataType, IntegerType))
  }

  /** Flat m*K ADC lookup table of a query vector against the PQ
    * codebooks (see [[PqLut]]): the query-side companion of
    * [[pqEncode]]. */
  def pqLut(q: Column, books: Seq[Seq[Seq[Double]]]): Column = {
    val b = pqBooks(books, "pqLut")
    vectorKernel(PqLut, ArrayType(DoubleType, containsNull = false), q,
      Seq(b), Seq(b.dataType))
  }

  /** Asymmetric-distance score of a packed code against a query LUT
    * (see [[PqAdcScore]]): m table reads per candidate, inside
    * whole-stage codegen. */
  def pqAdcScore(code: Column, lut: Column, m: Int, bits: Int, k: Int): Column = {
    validPqShape(m, k, bits)
    kernel(PqAdcScore, "compute", DoubleType,
      Seq(expr(code), expr(lut), Literal(m), Literal(bits), Literal(k)),
      Seq(LongType, ArrayType(DoubleType), IntegerType, IntegerType, IntegerType))
  }

  /** Unit-normalize a numeric array column in one fused codegen loop
    * (see [[UnitNormalize]]): array<double> unit vector, NULL on zero
    * norm. Bit-identical to the norm-bound-once lambda formulation. */
  def unitNormalize(v: Column): Column =
    vectorKernel(UnitNormalize, ArrayType(DoubleType, containsNull = false),
      v, Nil, Nil)

  /** Cyclic-neighbor mix out[j] = a[j] + eps*a[(j+1) mod n] (see
    * [[NeighborMix]]) — the planted-near-dup generator of the ANN/dedup
    * fixtures, codegen'd. */
  def neighborMix(v: Column, eps: Double): Column =
    vectorKernel(NeighborMix, ArrayType(DoubleType, containsNull = false),
      v, Seq(Literal(eps)), Seq(DoubleType))

  /** Cosine similarity via [[dot]]; norms computed inline. Prefer
    * precomputing norms once per side when a side is reused (see
    * Similarity.withNorm). */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (org.apache.spark.sql.functions.sqrt(dot(a, a)) *
      org.apache.spark.sql.functions.sqrt(dot(b, b)))
}
