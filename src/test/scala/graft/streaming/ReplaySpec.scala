package graft.streaming

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ListenerBusDrain
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.StructType

import graft.SparkSpec
import Replay.{ByRange, RocksDB, RoundRobin}

/** The replay harness's contract: file order, sentinel placement, one
  * trigger per file, clean-up when a run fails, and the mergeable folds'
  * exactly-once discipline. */
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

  private def causedBy(err: Throwable, msg: String): Boolean =
    Iterator.iterate(err)(_.getCause).takeWhile(_ != null)
      .exists(e => Option(e.getMessage).exists(_.contains(msg)))

  private def leftDirs(prefix: String): Seq[Path] =
    list(Paths.get(System.getProperty("java.io.tmpdir")))
      .filter(_.getFileName.toString.startsWith(prefix))

  /** A ledger summary: row counts per event type. */
  private def typeCounts(df: DataFrame): DataFrame =
    df.groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))

  private def addCounts(df: DataFrame): DataFrame =
    df.groupBy(col("event_type")).agg(sum(col("cnt")).as("cnt"))

  private def countMap(df: DataFrame): Map[String, Long] =
    df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("a two-file fold counts every row once, on the driver and in a ledger") {
    val ev = graft.Tables.events(spark, sf)
    val (n, ledger) = Replay.run(spark, "replayspec_fold") { r =>
      val n = r.foldDriver(r.files(ev, RoundRobin), 0L)((acc, b) => acc + b.count())
      (n, countMap(r.foldLedger(r.files(ev, RoundRobin))(typeCounts)(addCounts)))
    }
    assert(n === ev.count())
    assert(ledger === countMap(typeCounts(ev)))
    assert(leftDirs("replayspec_fold").isEmpty)
  }

  test("a batchId delivered twice is folded once") {
    val ev = graft.Tables.events(spark, sf).limit(5).cache()
    try {
      val driver = new Replay.DriverFold[Long](0L, (acc, b) => acc + b.count())
      Seq(0L, 0L, 1L, 1L, 0L).foreach(driver(ev, _))
      assert(driver.value === 10L)
      val root = Files.createTempDirectory("replayspec_twice")
      try {
        val ledger = new Replay.LedgerFold("replayspec_twice", root.toString,
          typeCounts, addCounts)
        Seq(0L, 0L, 1L, 1L, 0L).foreach(ledger(ev, _))
        assert(countMap(ledger.value(spark)) ===
          countMap(typeCounts(ev)).map { case (k, c) => k -> 2 * c })
        val emit = new Replay.EmitFold(root.resolve("emit").toString, { (prev, b) =>
          val rows = typeCounts(b)
          Replay.Emit(Map("rows" -> b.select(col("event_id"))),
            Some(prev.fold(rows)(p => addCounts(p.unionByName(rows)))))
        })
        Seq(0L, 0L, 1L, 1L, 0L).foreach(emit(ev, _))
        val out = emit.result(spark)
        assert(out.outputs("rows").count() === 2 * ev.count())
        assert(countMap(out.ledger.get) ===
          countMap(typeCounts(ev)).map { case (k, c) => k -> 2 * c })
      } finally Replay.deleteTree(root)
    } finally { ev.unpersist(); () }
  }

  test("a fold step that throws on batch 1 fails the run and keeps the batch-0 state") {
    val ev = graft.Tables.events(spark, sf)
    val boom = "replayspec fold boom"
    // the state: neither fold assigns what a throwing step would have made
    val b0 = ev.limit(3).cache()
    try {
      val driver = new Replay.DriverFold[Long](0L, (acc, b) =>
        if (acc > 0) throw new IllegalStateException(boom) else acc + b.count())
      driver(b0, 0)
      assert(causedBy(intercept[IllegalStateException](driver(b0, 1)), boom))
      assert(driver.value === 3L)
      val root = Files.createTempDirectory("replayspec_foldstate")
      try {
        val ledger = new Replay.LedgerFold("replayspec_foldstate", root.toString,
          typeCounts, _ => throw new IllegalStateException(boom))
        ledger(b0, 0)
        assert(causedBy(intercept[IllegalStateException](ledger(b0, 1)), boom))
        assert(countMap(ledger.value(spark)) === countMap(typeCounts(b0)))
        assert(list(root).map(_.getFileName.toString) === Seq("v0"))
      } finally Replay.deleteTree(root)
      val emitRoot = Files.createTempDirectory("replayspec_foldstate")
      try {
        val emit = new Replay.EmitFold(emitRoot.toString, (prev, b) =>
          if (prev.isDefined) throw new IllegalStateException(boom)
          else Replay.Emit(Map("rows" -> b.select(col("event_id"))), Some(typeCounts(b))))
        emit(b0, 0)
        assert(causedBy(intercept[IllegalStateException](emit(b0, 1)), boom))
        val out = emit.result(spark)
        assert(countMap(out.ledger.get) === countMap(typeCounts(b0)))
        assert(out.outputs("rows").count() === 3L, "no batch-1 output")
        assert(list(emitRoot).map(_.getFileName.toString) === Seq("v0"))
      } finally Replay.deleteTree(emitRoot)
    } finally { b0.unpersist(); () }
    // the run: the streams fail loudly, the step saw the batch-0 value,
    // and no dir of the run is left behind
    val handed = scala.collection.mutable.ArrayBuffer.empty[Long]
    val driverErr = intercept[Exception] {
      Replay.run(spark, "replayspec_foldfail") { r =>
        r.foldDriver(r.files(ev, ByRange("ts")), 0L) { (acc, b) =>
          handed += acc
          if (acc > 0) throw new IllegalStateException(boom) else acc + b.count()
        }
      }
    }
    assert(causedBy(driverErr, boom))
    assert(handed.size === 2 && handed(0) === 0L && handed(1) > 0L, s"$handed")
    val ledgerErr = intercept[Exception] {
      Replay.run(spark, "replayspec_foldfail") { r =>
        r.foldLedger(r.files(ev, ByRange("ts")))(typeCounts)(
          _ => throw new IllegalStateException(boom))
      }
    }
    assert(causedBy(ledgerErr, boom))
    val emitErr = intercept[Exception] {
      Replay.run(spark, "replayspec_foldfail") { r =>
        r.foldEmit(r.files(ev, ByRange("ts"))) { (prev, b) =>
          if (prev.isDefined) throw new IllegalStateException(boom)
          Replay.Emit(Map("rows" -> b.select(col("event_id"))), Some(typeCounts(b)))
        }
      }
    }
    assert(causedBy(emitErr, boom))
    assert(leftDirs("replayspec_foldfail").isEmpty)
  }

  test("two outputs and a ledger: an output no batch filled reads back empty in its schema") {
    val ev = graft.Tables.events(spark, sf)
    var noneSchema = Option.empty[StructType]
    val (kept, none, ledger) = Replay.run(spark, "replayspec_emit") { r =>
      val out = r.foldEmit(r.files(ev, RoundRobin)) { (prev, b) =>
        val rows = typeCounts(b)
        val none = b.filter(lit(false)).select(col("event_id"), col("value"))
        noneSchema = Some(none.schema)
        Replay.Emit(
          Map("kept" -> b.select(col("event_id"), col("event_type")), "none" -> none),
          Some(prev.fold(rows)(p => addCounts(p.unionByName(rows)))))
      }
      val kept = out.outputs("kept")
      assert(kept.columns.toSeq === Seq("event_id", "event_type"))
      (kept.select(col("event_id")).distinct().count(), out.outputs("none"),
        countMap(out.ledger.get))
    }
    assert(kept === ev.count())
    assert(none.schema === noneSchema.get)
    assert(none.isEmpty)
    assert(ledger === countMap(typeCounts(ev)))
    assert(leftDirs("replayspec_emit").isEmpty)
  }
}
