package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session), at
  * a fixed 8 cores so plans and partition counts do not follow the host. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(8)
}

abstract class SparkSpec extends AnyFunSuite
    with org.scalatest.BeforeAndAfterEach {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = "/root/testdata/sf0.001"

  // Cache hygiene mirror of Bench/Verify: each test's cached
  // intermediates are dropped afterwards, so the shared session never
  // accumulates pinned corpora (and re-caching the same plan in a later
  // test can't warn "Asked to cache already cached data").
  override protected def afterEach(): Unit = {
    spark.sharedState.cacheManager.clearCache()
    super.afterEach()
  }
}
