package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession

/** Builds a session the way a deployed one is built: the session builder
  * reads `spark.sql.extensions` from the SparkContext's conf and applies
  * the named extension classes. The conf is private to Spark, hence this
  * file's package. The conf value and the default/active session are
  * restored afterwards, so the caller's session stays the JVM's default. */
object ExtensionConfSession {
  def withSession[T](spark: SparkSession, extensions: String)(
      f: SparkSession => T): T = {
    val sc = spark.sparkContext
    val key = "spark.sql.extensions"
    val prev = sc.conf.getOption(key)
    sc.conf.set(key, extensions)
    val built =
      try SparkSession.builder().sparkContext(sc).create()
      finally {
        prev.fold(sc.conf.remove(key))(sc.conf.set(key, _))
        SparkSession.setDefaultSession(spark)
        SparkSession.setActiveSession(spark)
      }
    f(built)
  }
}
