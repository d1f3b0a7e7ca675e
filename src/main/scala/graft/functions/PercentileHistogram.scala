package graft.functions

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
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
