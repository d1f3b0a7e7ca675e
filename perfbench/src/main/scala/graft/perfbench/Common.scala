package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper

/** What one invocation was asked to do. `work` is a scratch directory
  * inside the checkout; `data` holds the read-only sf0.1 tables. */
final case class Ctx(cpus: Int, seed: Long, seconds: Double, trace: Boolean,
    work: File, data: String, out: File)

/** The figures one workload run produced. `layers` is empty in untraced
  * runs. */
final case class Outcome(e2e: Map[String, Double], layers: Map[String, Double],
    attempted: Long, failed: Long)

object Session {
  /** The Bench session shape: local[cores], shuffle partitions = cores,
    * AQE on, UTC; scratch space kept inside the work directory. */
  def build(ctx: Ctx, cores: Int): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    val spark = SparkSession.builder()
      .master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(ctx.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(ctx.work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Median wall seconds of `reps` set-ups, and the last set-up's value. */
  def timedSetup[T](reps: Int)(setup: => T): (Double, T) = {
    val runs = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      val v = setup
      ((System.nanoTime() - t0) / 1e9, v)
    }
    (Stats.median(runs.map(_._1)), runs.last._2)
  }
}

object Log {
  private val t0 = System.nanoTime()
  /** A progress line on stderr, stamped with seconds since start. */
  def step(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.2f s  $msg")
}

object Jvm {
  def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  /** Heap still in use after full collections. Spark's ContextCleaner
    * frees broadcasts and shuffles asynchronously once their owners are
    * collected, so the collection is repeated after giving it time. */
  def retainedHeapMb(): Double = {
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(200) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** One output row of the flagship pipeline, as the api facade's reduce
  * lays it out: window, name, sum, max, min, count, pct. */
object WindowRows {
  def decode(r: Row): ((Long, String), WindowAgg) =
    (r.getStruct(0).getTimestamp(0).getTime, r.getString(1)) ->
      WindowAgg(r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6))
}

/** foreachBatch sink of the stream workloads: collects every micro-batch
  * to the driver and stamps its receipt. While `traced`, it also reads
  * the aggregate operators' build time from the batch's executed plan. */
final class CollectSink(spark: SparkSession) {
  import CollectSink.Received
  @volatile var traced = false
  private val buf = scala.collection.mutable.ArrayBuffer.empty[Received]

  val write: (DataFrame, Long) => Unit = (batch, _) => {
    val t0 = System.nanoTime()
    val rows = batch.collect()
    val t1 = System.nanoTime()
    val agg = if (!traced) 0L else spark.streams.active.headOption.map {
      case w: StreamingQueryWrapper => Option(w.streamingQuery.lastExecution)
        .map(e => PlanLog.aggTimeMs(e.executedPlan)).getOrElse(0L)
      case _ => 0L
    }.getOrElse(0L)
    val r = Received(t1, (t1 - t0) / 1e6, agg, rows.toSeq.map(WindowRows.decode))
    synchronized { buf += r }
  }

  def received: Seq[Received] = synchronized(buf.toList)
}

object CollectSink {
  final case class Received(receiptNs: Long, collectMs: Double,
      aggTimeMs: Long, windows: Seq[((Long, String), WindowAgg)])
}

/** Compares emitted windows with the reference: every reference window
  * emitted exactly once and equal, nothing else emitted. Returns the
  * window starts that disagree. */
object Check {
  def windows(emitted: Seq[((Long, String), WindowAgg)],
      expected: Map[(Long, String), WindowAgg]): Set[Long] = {
    val got = emitted.groupMap(_._1)(_._2)
    val wrong = got.keys.filter(k => got(k).size != 1 || !expected.get(k).contains(got(k).head))
    val missing = expected.keySet.diff(got.keySet)
    (wrong.take(3) ++ missing.take(3)).foreach { k =>
      System.err.println(s"[perfbench] window $k: emitted ${got.get(k)}, expected ${expected.get(k)}")
    }
    (wrong ++ missing).map(_._1).toSet
  }
}

/** Reconciles a traced layer's total with the untraced run. The gap
  * between the median traced total and the median untraced wall may be as
  * large as the tracing overhead (median traced wall minus median untraced
  * wall) plus the untraced walls' own range, the run-to-run noise. A
  * larger gap means the layer's spans miss part of the work, and the run
  * counts it as failed. All figures in seconds. */
final case class Recon(layer: String, tracedSums: Seq[Double], tracedWalls: Seq[Double],
    untracedWalls: Seq[Double]) {
  private val base = Stats.median(untracedWalls)
  val overheadMs: Double = (Stats.median(tracedWalls) - base) * 1e3
  val ratio: Double = Stats.median(tracedSums) / base
  val gapMs: Double = math.abs(Stats.median(tracedSums) - base) * 1e3
  val allowedMs: Double = math.abs(overheadMs) + (untracedWalls.max - untracedWalls.min) * 1e3
  def ok: Boolean = gapMs <= allowedMs
  def summary: String = f"recon: $layer sum to $ratio%.3f of the untraced wall; gap " +
    f"$gapMs%.0f ms, allowed $allowedMs%.0f ms${if (ok) "" else " -- FAILED"}"
}

/** The timed phase of a workload: untraced passes until there are at
  * least `min` of them and `seconds` have gone by. With a tracer, each
  * untraced pass is paired with a traced one (`pass` gets its index), the
  * collectors attached for it alone, and every other pair runs the traced
  * pass first. Warm-up and host drift then fall on both sides alike, and
  * the tracing overhead compares like with like. Returns the untraced and
  * the traced passes. */
object Timed {
  def alternate[T](min: Int, seconds: Double, tracer: Option[Tracer])(
      pass: Option[Int] => T): (Seq[T], Seq[T]) = {
    val plain = scala.collection.mutable.ArrayBuffer.empty[T]
    val traced = scala.collection.mutable.ArrayBuffer.empty[T]
    def tracedPass(t: Tracer): Unit = {
      t.attach()
      try traced += pass(Some(traced.size)) finally t.detach()
    }
    val t0 = System.nanoTime()
    while (plain.size < min || (System.nanoTime() - t0) / 1e9 < seconds) {
      val tracedFirst = plain.size % 2 == 1
      if (tracedFirst) tracer.foreach(tracedPass)
      plain += pass(None)
      if (!tracedFirst) tracer.foreach(tracedPass)
    }
    (plain.toList, traced.toList)
  }
}
