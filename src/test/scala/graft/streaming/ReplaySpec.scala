package graft.streaming

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ListenerBusDrain
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.SparkSpec
import Replay.{ByRange, RocksDB, RoundRobin}

/** The replay harness's contract: file order, sentinel placement, one
  * trigger per file, and clean-up when a run fails. */
class ReplaySpec extends SparkSpec {

  private def list(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toList finally s.close()
  }

  private def parquetFiles(dir: Path): Seq[Path] =
    list(dir).filter(_.getFileName.toString.endsWith(".parquet"))
      .sortBy(_.getFileName.toString)

  /** Input rows of each progress event of the queries named `prefix*`
    * that `body` runs, in trigger order. */
  private def triggerRows(prefix: String)(body: => Unit): Seq[Long] = {
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        rows.add(Option(e.progress.name).getOrElse("") -> e.progress.numInputRows)
        ()
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try { body; ListenerBusDrain(spark) }
    finally spark.streams.removeListener(listener)
    rows.asScala.toSeq.collect { case (n, k) if n.startsWith(prefix) => k }
  }

  test("range and round-robin layouts: ascending mtimes in file order, sentinel last") {
    val ev = graft.Tables.events(spark, sf)
    Seq(ByRange("ts") -> 4, RoundRobin -> 3).foreach { case (order, n) =>
      val dir = Files.createTempDirectory("replayspec_layout")
      try {
        Replay.layout(ev, dir, order, n, sentinel = Map("user_id" -> -1L))
        val files = parquetFiles(dir)
        assert(files.size === n + 1, s"$order: $files")
        assert(files.last.getFileName.toString === "zz_sentinel.parquet")
        val mtimes = files.map(Files.getLastModifiedTime(_).toMillis)
        assert(mtimes.zip(mtimes.tail).forall { case (a, b) => a < b },
          s"$order: mtimes not strictly ascending in file order: $mtimes")
        // the sentinel is one row: the overrides, null elsewhere
        val sentinel = spark.read.parquet(files.last.toString).collect()
        assert(sentinel.length === 1)
        assert(sentinel.head.getAs[Long]("user_id") === -1L)
        assert(sentinel.head.isNullAt(sentinel.head.fieldIndex("ts")))
        // every row lands in exactly one data file
        assert(spark.read.parquet(files.init.map(_.toString): _*).count() ===
          ev.count())
        if (order.isInstanceOf[ByRange]) {
          // range files hold disjoint, ascending ts ranges
          val spans = files.init.map { f =>
            val r = spark.read.parquet(f.toString)
              .agg(min("ts"), max("ts")).head()
            (r.getTimestamp(0), r.getTimestamp(1))
          }
          assert(spans.zip(spans.tail).forall { case ((_, hi), (lo, _)) =>
            hi.before(lo) }, s"ts ranges overlap or descend: $spans")
        }
      } finally Replay.deleteTree(dir)
    }
  }

  test("one trigger per data file, plus the sentinel's trigger") {
    val nEvents = graft.Tables.events(spark, sf).count()
    // range layout with a sentinel: q71's time-range files, then the
    // sentinel file alone, then the engine's no-data flush
    val q71 = triggerRows("q71_stream_sessions") {
      StreamParity.q71StreamSessions(spark, sf).count(); ()
    }
    val q71Data = q71.filter(_ > 0)
    assert(q71Data.size === Replay.ReplayFiles + 1, s"q71 triggers: $q71")
    assert(q71Data.last === 1L, s"the sentinel is the last trigger, alone: $q71")
    assert(q71Data.sum === nEvents + 1)
    // round-robin layout, no sentinel, no watermark: data triggers only
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    val q49 = triggerRows("q49_stream_dedup") {
      StreamParity.q49StreamDedup(spark, sf).count(); ()
    }
    assert(q49.size === Replay.ReplayFiles, s"q49 triggers: $q49")
    assert(q49.forall(_ > 0) && q49.sum === nDocs, s"q49 triggers: $q49")
  }

  test("a failing foreachBatch leaves no replay dir behind and restores the state confs") {
    val partsKey = "spark.sql.shuffle.partitions"
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevParts = spark.conf.get(partsKey)
    val prevProvider = spark.conf.getOption(providerKey)
    spark.conf.set(partsKey, "12")
    try {
      val ev = graft.Tables.events(spark, sf)
      var seen = Option.empty[(String, String)]
      val err = intercept[Exception] {
        Replay.run(spark, "replayspec_failure") { r =>
          r.tempDir("out")
          r.await(r.files(ev, ByRange("ts"), sentinel = Map("user_id" -> -1L))
            .writeStream
            .foreachBatch { (batch: DataFrame, _: Long) =>
              val c = batch.sparkSession.conf
              seen = Some((c.get(partsKey), c.get(providerKey)))
              throw new IllegalStateException("replayspec boom")
            }, RocksDB)
        }
      }
      assert(Iterator.iterate(err: Throwable)(_.getCause).takeWhile(_ != null)
        .exists(e => Option(e.getMessage).exists(_.contains("replayspec boom"))))
      // the batch ran under the pinned RocksDB state conf ...
      assert(seen.exists { case (parts, provider) =>
        parts == "8" && provider.endsWith("RocksDBStateStoreProvider") }, s"$seen")
      // ... and neither outlives the run, nor does any of its dirs
      assert(spark.conf.get(partsKey) === "12")
      assert(spark.conf.getOption(providerKey) === prevProvider)
      val left = list(Paths.get(System.getProperty("java.io.tmpdir")))
        .filter(_.getFileName.toString.startsWith("replayspec_failure"))
      assert(left.isEmpty, s"replay dirs left behind: $left")
    } finally spark.conf.set(partsKey, prevParts)
  }
}
