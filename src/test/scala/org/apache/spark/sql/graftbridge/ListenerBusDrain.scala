package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession

/** Blocks until every event posted so far (streaming progress events
  * included) has reached its listeners. The listener bus is private to
  * Spark, hence this file's package. */
object ListenerBusDrain {
  def apply(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
