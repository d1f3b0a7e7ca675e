package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._

/** `compute(vector, operands..., isFloat)` on a vector kernel: the one
  * place the resolved element type picks the kernel's float or double
  * variant. array<float> is read as floats; any other numeric array is
  * implicitly cast to array<double>. Replaced by its `StaticInvoke`
  * before planning. Lives here for the `private[sql]` input-type
  * collection. */
case class ByElementType(kernel: Class[_], override val dataType: DataType,
    arguments: Seq[Expression], operandTypes: Seq[DataType])
    extends RuntimeReplaceable with ImplicitCastInputTypes {

  // name errors after the kernel, e.g. "unitnormalize(x)"
  override def prettyName: String = kernel.getSimpleName.stripSuffix("$").toLowerCase
  override def nullable: Boolean = true
  override def children: Seq[Expression] = arguments
  override def inputTypes: Seq[AbstractDataType] =
    TypeCollection(ArrayType(DoubleType), ArrayType(FloatType)) +: operandTypes

  override lazy val replacement: Expression = StaticInvoke(kernel, dataType,
    "compute", arguments :+ Literal(arguments.head.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }))

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(arguments = newChildren)
}
