package graft.streaming

import java.nio.file.Paths

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The one spec for the one implementation of the batchId-stamped
  * ledger-fold discipline (it used to be 7+ inline copies, two of which
  * had dropped the idempotence guard — a double-count waiting for an
  * at-least-once retry). */
class StampedLedgerSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("cnt", LongType)))

  private def foldCounts(ledger: StampedLedger, batchId: Long, ks: Seq[Long]): Boolean =
    ledger.guard(batchId) {
      import spark.implicits._
      val stamp = ledger.stampFor(batchId)
      val batch = ks.toDF("k").groupBy("k").agg(count(lit(1)).as("cnt"))
      val prev = ledger.previousPath.map(spark.read.parquet(_)).getOrElse(
        spark.createDataFrame(java.util.Collections.emptyList[Row](), schema))
      prev.select(col("k"), col("cnt").as("pc"))
        .join(batch.select(col("k"), col("cnt").as("bc")), Seq("k"), "full")
        .select(col("k"),
          (coalesce(col("pc"), lit(0L)) + coalesce(col("bc"), lit(0L))).as("cnt"))
        .write.mode("overwrite").parquet(stamp)
      ledger.advanceTo(stamp)
      ()
    }

  private def readLedger(ledger: StampedLedger): Map[Long, Long] =
    ledger.previousPath.map(p => spark.read.parquet(p).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap).getOrElse(Map.empty)

  test("replaying a batch twice leaves the ledger unchanged (the at-least-once property)") {
    val root = java.nio.file.Files.createTempDirectory("ledger_prop").toString
    val ledger = new StampedLedger(root)
    assert(foldCounts(ledger, 0, Seq(1L, 1L, 2L)))
    assert(foldCounts(ledger, 1, Seq(1L, 3L)))
    val after = readLedger(ledger)
    assert(after == Map(1L -> 3L, 2L -> 1L, 3L -> 1L))
    // the retry: same batchId re-delivered — the additive fold would
    // double-count without the guard
    assert(!foldCounts(ledger, 1, Seq(1L, 3L)), "replay must be skipped")
    assert(readLedger(ledger) == after, "ledger unchanged under replay")
    // and a stale/earlier batchId is equally inert
    assert(!foldCounts(ledger, 0, Seq(9L)))
    assert(readLedger(ledger) == after)
    Replay.deleteTree(Paths.get(root))
  }

  test("superseded stamps are GC'd: temp usage stays O(ledger), not O(batches)") {
    val root = java.nio.file.Files.createTempDirectory("ledger_gc").toString
    val ledger = new StampedLedger(root)
    (0 to 4).foreach(i => assert(foldCounts(ledger, i, Seq(i.toLong))))
    val dirs = new java.io.File(root).listFiles().filter(_.isDirectory)
    assert(dirs.map(_.getName).toSeq == Seq("v4"),
      s"only the live stamp survives, got ${dirs.map(_.getName).toSeq}")
    assert(readLedger(ledger).keySet == Set(0L, 1L, 2L, 3L, 4L))
    Replay.deleteTree(Paths.get(root))
  }

  test("advanceTo refuses a missing dir (the zero-row dynamic-partition hazard)") {
    val root = java.nio.file.Files.createTempDirectory("ledger_adv").toString
    val ledger = new StampedLedger(root)
    assert(foldCounts(ledger, 0, Seq(7L)))
    val live = ledger.previousPath.get
    // a fold whose write emitted nothing (e.g. partitionBy over zero
    // rows) must not move the pointer off the prior live state
    assert(ledger.guard(1) { ledger.advanceTo(ledger.stampFor(1)); () },
      "guard still consumes the batchId")
    assert(ledger.previousPath.contains(live), "pointer stays on prior state")
    assert(readLedger(ledger) == Map(7L -> 1L))
    Replay.deleteTree(Paths.get(root))
  }

  test("guard-only ledger protects a driver accumulator and refuses stamps") {
    val ledger = new StampedLedger()
    var acc = 0L
    assert(ledger.guard(0) { acc += 10 })
    assert(!ledger.guard(0) { acc += 10 }, "replayed batch skipped")
    assert(ledger.guard(1) { acc += 1 })
    assert(acc == 11)
    intercept[IllegalArgumentException](ledger.stampFor(2))
  }

  test("a fold that THROWS does not consume its batchId (retry re-runs it)") {
    val ledger = new StampedLedger()
    var acc = 0L
    intercept[RuntimeException](
      ledger.guard(0) { sys.error("task failure mid-fold") })
    assert(ledger.guard(0) { acc += 10 },
      "the failed batch must fold on retry, not be dropped forever")
    assert(!ledger.guard(0) { acc += 10 }, "...and only once")
    assert(acc == 10)
  }
}
