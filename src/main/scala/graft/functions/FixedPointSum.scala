package graft.functions

import java.math.{BigDecimal => JBigDecimal, BigInteger}

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.types._

/** Exact `SUM(CAST(x AS DECIMAL(25,6)))` on a fixed-point long buffer.
  *
  * Spark's own decimal sum pays `java.math.BigDecimal` on every row: the
  * double-to-decimal cast goes through `Double.toString`, and the
  * `DECIMAL(35,6)` buffer is wider than a long, so every update reads and
  * writes it as BigInteger bytes. This aggregate sums the same values as
  * unscaled micro-units in two longs and builds one `Decimal` per group:
  *
  *  - the buffer is `(hi, lo)` with `sum = hi * 2^24 + lo`, `lo >= 0`
  *    (`lo = -1` marks a group that has seen no non-null value). A row
  *    adds its micro-units' low 24 bits to `lo` and the rest to `hi`;
  *    merge carries `lo`'s overflow bits into `hi`. Every add is checked.
  *  - the result is the reference's type (`DECIMAL(35,6)`) and value, and
  *    NULL for a group with no non-null input, so `cast("double")` of it
  *    is bit-identical to the reference's.
  *  - range: exact while the sum stays within `hi`'s long range, i.e.
  *    `|sum| < 2^87` micro-units (about 1.5e20), which holds for every
  *    group whose `sum(|x|)` is below that. A group whose sum reaches it
  *    fails with an [[ArithmeticException]]; it never wraps or rounds.
  *
  * Per-row conversion ([[FixedPoint.micros]]) takes a floating-point fast
  * path only where that provably equals Spark's `Decimal(d)` rounded
  * HALF_UP to 6 places, and otherwise calls that Spark path itself. NaN,
  * ±Inf and values beyond a long's micro-units go through the `exact`
  * child (Spark's own `Cast`), so they keep its NULL or error under the
  * session's ANSI setting. Non-double inputs always take the `Cast`.
  *
  * `emitState` returns the buffer instead, as a [[FixedPoint.StateType]]
  * struct (NULL for no input), for a second aggregation level to merge
  * with [[FixedPointSumMerge]] — no level re-reads a decimal per row.
  */
abstract class FixedPointSumBase extends DeclarativeAggregate {
  import FixedPoint._

  protected def emitState: Boolean

  override def nullable: Boolean = true
  override def dataType: DataType = if (emitState) StateType else ResultType

  protected lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  protected lazy val lo = AttributeReference("lo", LongType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(hi, lo)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(Empty))

  /** Add another buffer's `(h, l)` to this one, carrying `lo`. */
  protected def absorb(h: Expression, l: Expression): Seq[Expression] =
    Seq(kernel("mergeHi", LongType, hi, lo, h, l), kernel("mergeLo", LongType, lo, l))

  override lazy val mergeExpressions: Seq[Expression] = absorb(hi.right, lo.right)

  override lazy val evaluateExpression: Expression =
    If(LessThan(lo, Literal(0L)), Literal(null, dataType),
      if (emitState) CreateNamedStruct(Seq(Literal("hi"), hi, Literal("lo"), lo))
      else kernel("toDecimal", ResultType, hi, lo))
}

/** The sum of a numeric column; see [[FixedPointSumBase]]. `exact` is
  * `CAST(child AS DECIMAL(25,6))`, evaluated only on rows the kernel
  * hands back. */
case class FixedPointSum(child: Expression, exact: Expression,
    emitState: Boolean) extends FixedPointSumBase with BinaryLike[Expression] {
  import FixedPoint._

  override def left: Expression = child
  override def right: Expression = exact
  override def prettyName: String = "graft_exact_sum"

  override lazy val updateExpressions: Seq[Expression] = {
    // a null row's parts are null: `add` propagates it and the coalesce
    // keeps the buffer
    val (h, l) = if (child.dataType == DoubleType) {
      val m = kernel("micros", LongType, child)
      val viaCast = EqualTo(m, Literal(Slow))
      (If(viaCast, kernel("hiOfDecimal", LongType, exact), kernel("hiOf", LongType, m)),
        If(viaCast, kernel("loOfDecimal", LongType, exact), kernel("loOf", LongType, m)))
    } else (kernel("hiOfDecimal", LongType, exact), kernel("loOfDecimal", LongType, exact))
    Seq(Coalesce(Seq(kernel("addHi", LongType, hi, h), hi)),
      Coalesce(Seq(kernel("addLo", LongType, lo, l), lo)))
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): FixedPointSum = copy(child = newLeft, exact = newRight)
}

object FixedPointSum {
  /** The sum of `child`, or its state when `emitState`. */
  def apply(child: Expression, emitState: Boolean): FixedPointSum =
    FixedPointSum(child, Cast(child, FixedPoint.InputType), emitState)
}

/** The exact sum of [[FixedPointSum]] states: the second aggregation
  * level. Its result equals the one-level sum of the rows behind the
  * states. */
case class FixedPointSumMerge(child: Expression)
    extends FixedPointSumBase with UnaryLike[Expression] {
  import FixedPoint._

  override protected def emitState: Boolean = false
  override def prettyName: String = "graft_exact_sum_merge"

  override def checkInputDataTypes(): TypeCheckResult =
    if (DataType.equalsStructurally(child.dataType, StateType, ignoreNullability = true))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName takes graft_exact_sum states, not ${child.dataType.catalogString}")

  override lazy val updateExpressions: Seq[Expression] = absorb(
    Coalesce(Seq(GetStructField(child, 0), Literal(0L))),
    Coalesce(Seq(GetStructField(child, 1), Literal(Empty))))

  override protected def withNewChildInternal(newChild: Expression): FixedPointSumMerge =
    copy(child = newChild)
}

/** The kernels behind [[FixedPointSum]], one static call each in
  * generated code. Micro-units are the value times 1e6. */
object FixedPoint {
  /** The per-row type whose sum this is, and the sum's own type. */
  val InputType: DecimalType = DecimalType(25, 6)
  val ResultType: DecimalType = DecimalType(35, 6)
  val StateType: StructType = StructType(Seq(
    StructField("hi", LongType, nullable = false),
    StructField("lo", LongType, nullable = false)))

  private val Bits = 24
  private val Mask = (1L << Bits) - 1
  private val MaskBig = BigInteger.valueOf(Mask)
  /** [[micros]]' answer for "take Spark's Cast". */
  val Slow: Long = Long.MinValue
  /** `lo` of a group with no non-null value yet. */
  val Empty: Long = -1L

  private val TwoPow52 = 4503599627370496.0
  /** Below this magnitude the micro-units of any double fit a long. */
  private val LongLimit = 9.0e12

  private[functions] def kernel(method: String, dataType: DataType,
      args: Expression*): Expression =
    StaticInvoke(FixedPoint.getClass, dataType, method, args, returnNullable = false)

  /** `d`'s micro-units exactly as `Decimal(d).changePrecision(25, 6)`
    * (HALF_UP) gives them, or [[Slow]] for NaN, ±Inf and `|d| >= 9e12`.
    *
    * Spark rounds the decimal `s` that `Double.toString(d)` prints, and
    * `|s - d| <= ulp(d)`; `x = d * 1e6` is within `ulp(x)` of `d * 1e6`.
    * So when `x` lies farther than `1e6 * ulp(d) + ulp(x)` from the
    * nearest half-integer (twice the proven error, so the bound's own
    * rounding cannot matter), `s * 1e6` rounds to the same integer as
    * `x`; otherwise Spark's Decimal path runs. */
  def micros(d: Double): Long = {
    val x = d * 1e6
    if (Math.abs(x) < TwoPow52) { // false for NaN and ±Inf
      val r = Math.rint(x)
      if (0.5 - Math.abs(x - r) > 1e6 * Math.ulp(d) + Math.ulp(x)) return r.toLong
    }
    if (Math.abs(d) < LongLimit) {
      val dec = Decimal(d)
      if (dec.changePrecision(InputType.precision, InputType.scale)) return dec.toUnscaledLong
    }
    Slow
  }

  def hiOf(m: Long): Long = m >> Bits
  def loOf(m: Long): Long = m & Mask

  private def unscaled(d: Decimal): BigInteger =
    d.toJavaBigDecimal.setScale(InputType.scale).unscaledValue

  def hiOfDecimal(d: Decimal): Long = unscaled(d).shiftRight(Bits).longValueExact
  def loOfDecimal(d: Decimal): Long = unscaled(d).and(MaskBig).longValue

  private def overflow(): Nothing = throw new ArithmeticException(
    "graft_exact_sum overflow: the sum reached 2^87 micro-units (about " +
      "1.5e20), beyond its exact fixed-point range")

  def addHi(a: Long, b: Long): Long =
    try Math.addExact(a, b) catch { case _: ArithmeticException => overflow() }

  def addLo(lo: Long, l: Long): Long =
    try Math.addExact(Math.max(lo, 0L), l) catch { case _: ArithmeticException => overflow() }

  def mergeHi(hi: Long, lo: Long, h: Long, l: Long): Long =
    addHi(addHi(hi, h), (Math.max(lo, 0L) >>> Bits) + (Math.max(l, 0L) >>> Bits))

  def mergeLo(lo: Long, l: Long): Long =
    if (lo < 0 && l < 0) Empty else (Math.max(lo, 0L) & Mask) + (Math.max(l, 0L) & Mask)

  /** A non-empty buffer's sum as a `DECIMAL(35,6)`. */
  def toDecimal(hi: Long, lo: Long): Decimal = {
    val h = addHi(hi, lo >>> Bits)
    val sum = BigInteger.valueOf(h).shiftLeft(Bits).or(BigInteger.valueOf(lo & Mask))
    Decimal(new JBigDecimal(sum, InputType.scale), ResultType.precision, ResultType.scale)
  }
}
