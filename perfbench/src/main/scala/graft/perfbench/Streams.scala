package graft.perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger => SparkTrigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.functions.GraftFunctions
import graft.streaming.api._

/** The flagship rlink pipeline through the api facade:
  * assignTimestampsAndWatermarks -> keyBy(name) -> sliding event-time
  * window -> reduce(sum, max, min, count, pct 90). */
object Flagship {
  val Pct = 90
  val Scale: Array[Double] = GraftFunctions.leveldbScale90
  val schema: StructType = StructType(Seq(StructField("timestamp", LongType),
    StructField("name", StringType), StructField("value", LongType)))

  def pipeline(spark: SparkSession, source: DataFrame, p: Gen.Pipeline): DataStream =
    StreamExecutionEnvironment(spark).fromDataFrame(source)
      .assignTimestampsAndWatermarks("timestamp", Time.milliseconds(p.boundMs))
      .keyBy("name")
      .window(SlidingEventTimeWindows.of(Time.milliseconds(p.sizeMs), Time.milliseconds(p.slideMs)))
      .reduce(Agg.Sum("value"), Agg.Max("value"), Agg.Min("value"), Agg.Count(),
        Agg.Pct("value", Scale, Pct))

  def reference(rows: Iterable[Model], p: Gen.Pipeline): Map[(Long, String), WindowAgg] =
    WindowModel.windows(rows, p.sizeMs, p.slideMs, Pct, Scale)

  /** Starts the stream into `sink` with the given trigger. */
  def start(stream: DataStream, sink: CollectSink, checkpoint: File,
      trigger: SparkTrigger): StreamingQuery =
    stream.addSink(s => Right(s.df.writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint.getPath)
      .trigger(trigger).foreachBatch(sink.write).start()))
      .toOption.get
}

/** Per-trigger figures of one pass: StreamingQueryProgress phases and
  * state operators, jobs per trigger, the sink's collect and the
  * aggregate operators' build time. */
object StreamLayers {
  val Phases = Seq("queryPlanning", "walCommit", "commitOffsets", "latestOffset",
    "getBatch", "addBatch")

  def of(triggers: Seq[Trigger], collectMs: Seq[Double], aggTimeMs: Long,
      jobsPerTrigger: Double): Map[String, Double] = {
    val n = triggers.size.max(1).toDouble
    def mean(f: Trigger => Long) = triggers.map(f).sum / n
    // share of all trigger time spent in one phase
    def share(f: Trigger => Long) = triggers.map(f).sum.toDouble / triggers.map(_.totalMs).sum.max(1L)
    Phases.map(ph => s"trigger.${ph}_ms" -> mean(_.durations.getOrElse(ph, 0L))).toMap ++ Map(
      "trigger.count" -> triggers.size.toDouble,
      "trigger.nodata_count" -> triggers.count(_.inputRows == 0).toDouble,
      "trigger.addBatch_share" -> share(_.durations.getOrElse("addBatch", 0L)),
      "trigger.commit_share" ->
        share(t => t.durations.getOrElse("walCommit", 0L) + t.durations.getOrElse("commitOffsets", 0L)),
      "trigger.total_p50_ms" ->
        (if (triggers.isEmpty) 0.0 else Stats.percentile(triggers.map(_.totalMs.toDouble), 50)),
      "sched.jobs_per_trigger" -> jobsPerTrigger,
      "sink.collect_ms" -> collectMs.sum / collectMs.size.max(1),
      "state.commit_ms" -> triggers.map(_.stateCommitMs).sum.toDouble,
      "state.rows_total" -> triggers.map(_.stateRowsTotal).maxOption.getOrElse(0L).toDouble,
      "state.rows_updated" -> triggers.map(_.stateRowsUpdated).sum.toDouble,
      "state.rows_removed" -> triggers.map(_.stateRowsRemoved).sum.toDouble,
      "state.memory_bytes" -> triggers.map(_.stateMemoryBytes).maxOption.getOrElse(0L).toDouble,
      "state.dropped_late_rows" -> triggers.map(_.droppedLate).sum.toDouble,
      "agg.time_ms" -> aggTimeMs.toDouble)
  }

  /** Trigger spans under `phase`, with their jobs and stages beneath. */
  def spans(tracer: Tracer, phase: Int, triggers: Seq[Trigger], from: Long, to: Long): Unit = {
    val items = triggers.map(t =>
      t -> tracer.spans.add(phase, "item", s"trigger ${t.batchId}", t.startMs, t.endMs))
    tracer.attachJobs(from, to, phase) { j =>
      items.collectFirst {
        case (t, id) if j.batchId.contains(t.batchId) && j.startMs >= t.startMs - 1 &&
          j.startMs <= t.endMs + 1 => id
      }
    }
  }

  /** Mean of several passes' figures, name by name. */
  def mean(passes: Seq[Map[String, Double]]): Map[String, Double] =
    passes.flatMap(_.keys).distinct.map(k =>
      k -> passes.map(_.getOrElse(k, 0.0)).sum / passes.size.max(1)).toMap
}

/** `stream_drain`: a seeded backlog of equal-size files drained with
  * maxFilesPerTrigger and Trigger.AvailableNow, again and again. */
object Drain {
  /** 64,000 rows in 4 files per trigger, so every core scans: three data
    * triggers and the no-data one that closes the last windows. Measured
    * on 4 cores (README.md), a data trigger costs about 0.64 s whatever
    * its size plus about 9.5 us a row, so per-row work is about half of
    * it; larger triggers would not fit the run budget. */
  val Spec: Gen.DrainSpec = Gen.DrainSpec(rows = 192000, files = 12, filesPerTrigger = 4,
    keys = 50000, zipfS = 1.1, stepMs = 4, pipeline = Gen.Pipeline(60000, 20000, 2000),
    lateEvery = 500)

  /** Untimed drains first take the JIT and codegen warm-up. Then at
    * least `MinDrains` timed ones, whose median is reported. */
  val WarmDrains = 2
  val MinDrains = 3

  /** Writes the backlog as one parquet file per backlog file, with
    * ascending modification times so the source reads them in order. */
  def write(spark: SparkSession, b: Gen.Backlog, dir: File): Unit = {
    val rdd = spark.sparkContext.parallelize(b.files, b.files.size)
      .flatMap(_.map(m => Row(m.timestamp, m.name, m.value)))
    spark.createDataFrame(rdd, Flagship.schema).write.parquet(dir.getPath)
    val parts = dir.listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    require(parts.length == b.files.size, s"expected ${b.files.size} files, got ${parts.length}")
    val t0 = System.currentTimeMillis() - 3600000L
    parts.zipWithIndex.foreach { case (f, i) => require(f.setLastModified(t0 + i * 1000L)) }
  }

  /** One drain; the emitted windows themselves are checked and dropped. */
  final case class Pass(wallS: Double, triggers: Seq[Trigger], collectMs: Seq[Double],
      aggTimeMs: Long, latenciesMs: Seq[Double], bad: Set[Long], startMs: Long, endMs: Long)

  def drainOnce(spark: SparkSession, dir: File, checkpoint: File, progress: ProgressLog,
      expected: Map[(Long, String), WindowAgg], traced: Boolean): Pass = {
    val sink = new CollectSink(spark)
    sink.traced = traced
    val src = spark.readStream.schema(Flagship.schema)
      .option("maxFilesPerTrigger", Spec.filesPerTrigger.toLong).parquet(dir.getPath)
    val stream = Flagship.pipeline(spark, src, Spec.pipeline)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val q = Flagship.start(stream, sink, checkpoint, SparkTrigger.AvailableNow())
    q.awaitTermination()
    val t1 = System.nanoTime()
    val endMs = System.currentTimeMillis()
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    val got = sink.received
    val emitted = got.flatMap(_.windows).filterNot(_._1._2 == "flush")
    // all input is there at query start: a window is emittable from it
    val firstReceipt = got.flatMap(r => r.windows.map(_._1._1 -> r.receiptNs))
      .groupMapReduce(_._1)(_._2)(math.min)
    val lat = firstReceipt.values.map(ns => (ns - t0) / 1e6).toSeq
    Pass((t1 - t0) / 1e9, progress.of(q.id), got.map(_.collectMs), got.map(_.aggTimeMs).sum,
      lat, Check.windows(emitted, expected), startMs, endMs)
  }

  def run(ctx: Ctx): Outcome = {
    val progress = new ProgressLog
    var round = 0
    val (setupS, (spark, backlog, dir)) = Session.timedSetup(3) {
      round += 1
      val spark = Session.build(ctx, ctx.cpus)
      val b = Gen.backlog(Spec, ctx.seed)
      val dir = new File(ctx.work, s"drain/input-$round")
      write(spark, b, dir)
      (spark, b, dir)
    }
    spark.streams.addListener(progress)
    Log.step("drain: set up")
    val expected = Flagship.reference(backlog.onTime, Spec.pipeline)
    Log.step("drain: reference built")

    var drains = 0
    def drain(spark: SparkSession, traced: Boolean): Pass = {
      drains += 1
      drainOnce(spark, dir, new File(ctx.work, s"drain/ckpt-$drains"), progress, expected, traced)
    }
    val warm = (1 to WarmDrains).map(_ => drain(spark, traced = false))
    val tracer = if (ctx.trace) Some(new Tracer(spark, s"stream_drain-${ctx.seed}")) else None
    val (timed, traced) = Timed.alternate(MinDrains, ctx.seconds, tracer) { t =>
      drain(spark, t.isDefined)
    }
    Log.step(s"drain: timed walls ${timed.map(p => f"${p.wallS}%.2f").mkString(" ")}")
    val heapMb = Jvm.retainedHeapMb()
    val walls = timed.map(_.wallS)
    val e2e = Map(
      "setup_s" -> setupS,
      "retained_heap_mb" -> heapMb,
      "events_per_s" -> Stats.median(timed.map(backlog.rowCount / _.wallS)),
      "emit_latency_p50_ms" -> Stats.median(timed.map(p => Stats.percentile(p.latenciesMs, 50))),
      "emit_latency_p90_ms" -> Stats.median(timed.map(p => Stats.percentile(p.latenciesMs, 90))),
      "pass_s" -> Stats.median(walls),
      "key_geomean_s" -> Stats.geomean(timed.flatMap(_.triggers).map(_.totalMs.max(1L) / 1e3)))
    var failed = (warm ++ timed ++ traced).count(_.bad.nonEmpty)
    var attempted = warm.size + timed.size + traced.size

    val layers = tracer.fold(Map.empty[String, Double]) { tracer =>
      val spans = tracer.spans
      val run = spans.add(0, "run", "stream_drain", timed.head.startMs, traced.last.endMs)
      // the untraced drains ran in between; they have a layer of their own
      timed.zipWithIndex.foreach { case (p, i) =>
        spans.add(run, "untraced", s"untraced drain $i", p.startMs, p.endMs)
      }
      traced.zipWithIndex.foreach { case (p, i) =>
        val phase = spans.add(run, "phase", s"traced drain $i", p.startMs, p.endMs)
        StreamLayers.spans(tracer, phase, p.triggers, p.startMs, p.endMs)
      }
      Out.writeSpans(ctx, "stream_drain", spans.json)
      val perPass = traced.map { p =>
        val jobs = tracer.jobs.jobs(p.startMs, p.endMs).count(_.batchId.isDefined)
        val tasks = tracer.jobs.taskLayer(p.startMs, p.endMs, ctx.cpus)
        val stream = StreamLayers.of(p.triggers, p.collectMs, p.aggTimeMs,
          jobs.toDouble / p.triggers.size.max(1))
        val taskMs = tasks("task.run_ms").max(1.0)
        stream ++ tasks ++ Map(
          "state.commit_share" -> stream("state.commit_ms") / taskMs,
          "agg.time_share" -> stream("agg.time_ms") / taskMs,
          "sched.driver_ms" -> tracer.jobs.driverMs(p.startMs, p.endMs),
          "emit.samples" -> p.latenciesMs.size.toDouble)
      }
      val recon = Recon("trigger durations", traced.map(_.triggers.map(_.totalMs).sum / 1e3),
        traced.map(_.wallS), walls)
      Log.step(recon.summary)
      // the single-thread baseline drains the same backlog on local[1]
      val one = Session.build(ctx, 1)
      one.streams.addListener(progress)
      val base = drain(one, traced = false)
      failed += (if (base.bad.nonEmpty) 1 else 0) + (if (recon.ok) 0 else 1)
      attempted += 2
      StreamLayers.mean(perPass) ++ tracer.spanLayer ++ Map(
        "jvm.gc_ms" -> tracer.gcMs,
        "trace.overhead_ms" -> recon.overheadMs,
        "recon.trigger_sum_over_wall" -> recon.ratio,
        "scale.drain_speedup" -> e2e("events_per_s") / (backlog.rowCount / base.wallS))
    }
    Outcome(e2e, layers, attempted, failed)
  }
}
