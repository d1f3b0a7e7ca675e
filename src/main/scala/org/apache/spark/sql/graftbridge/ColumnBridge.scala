package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to Spark-private hooks: the `private[sql]` Column <->
  * Expression converters that Spark 4 moved behind the classic/connect
  * split, the live function registry, and blocking broadcast removal.
  * Lives under `org.apache.spark.sql` purely for access; contains no
  * Spark code.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a function on a live session's (private[sql]) registry —
    * the runtime twin of SparkSessionExtensions.injectFunction. */
  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      ident: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(ident, info, builder)

  /** Destroy a broadcast and wait until its blocks are removed (the
    * public `destroy()` only starts the removal). */
  def destroy(bc: org.apache.spark.broadcast.Broadcast[_]): Unit =
    bc.destroy(blocking = true)
}
