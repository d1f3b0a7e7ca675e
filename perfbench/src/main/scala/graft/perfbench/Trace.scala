package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One micro-batch as `StreamingQueryProgress` reports it. */
final case class Trigger(query: java.util.UUID, batchId: Long, startMs: Long,
    durations: Map[String, Long], inputRows: Long, stateCommitMs: Long,
    stateRowsTotal: Long, stateRowsUpdated: Long, stateRowsRemoved: Long,
    stateMemoryBytes: Long, droppedLate: Long) {
  def totalMs: Long = durations.getOrElse("triggerExecution", 0L)
  def endMs: Long = startMs + totalMs
}

/** Every trigger progress of every query. Spark computes the progress
  * whether or not anyone listens, so this stays on in untraced runs. */
final class ProgressLog extends StreamingQueryListener {
  private val buf = mutable.ArrayBuffer.empty[Trigger]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val ops = p.stateOperators.toSeq
    val t = Trigger(p.id, p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, p.numInputRows,
      ops.map(_.commitTimeMs).sum, ops.map(_.numRowsTotal).sum,
      ops.map(_.numRowsUpdated).sum, ops.map(_.numRowsRemoved).sum,
      ops.map(_.memoryUsedBytes).sum, ops.map(_.numRowsDroppedByWatermark).sum)
    synchronized { buf += t }
  }
  def of(query: java.util.UUID): Seq[Trigger] = synchronized(buf.filter(_.query == query).toList)
  def all: Seq[Trigger] = synchronized(buf.toList)
}

/** Records read by tasks from sources: a single counter, kept in
  * untraced runs too (it is the batch workload's events_per_s). */
final class RecordsRead extends SparkListener {
  val total = new AtomicLong()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) total.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
}

/** Scheduler-side record of a traced phase: jobs (with the job group and
  * the streaming batch id they ran under), stages and per-task metrics. */
final class JobLog extends SparkListener {
  import JobLog._

  private val jobBuf = mutable.LinkedHashMap.empty[Int, Job]
  private val stageBuf = mutable.ArrayBuffer.empty[Stage]
  private val taskBuf = mutable.ArrayBuffer.empty[Task]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    jobBuf(e.jobId) = Job(e.jobId, e.time, -1L, prop("spark.jobGroup.id").getOrElse(""),
      prop("streaming.sql.batchId").map(_.toLong), e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobBuf.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime) stageBuf += Stage(i.stageId, s, c, i.numTasks)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) taskBuf += Task(e.taskInfo.finishTime, m.executorCpuTime, m.executorRunTime,
      m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleReadMetrics.fetchWaitTime, m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  def jobs(from: Long, to: Long): Seq[Job] =
    synchronized(jobBuf.values.filter(j => j.startMs >= from && j.startMs <= to).toList)
  def stages(from: Long, to: Long): Seq[Stage] =
    synchronized(stageBuf.filter(s => s.startMs >= from && s.startMs <= to).toList)
  def tasks(from: Long, to: Long): Seq[Task] =
    synchronized(taskBuf.filter(t => t.endMs >= from && t.endMs <= to).toList)

  /** Task and shuffle layer figures of [from, to] on `slots` cores. */
  def taskLayer(from: Long, to: Long, slots: Int): Map[String, Double] = {
    val ts = tasks(from, to)
    val reads = ts.map(_.shuffleRead).filter(_ > 0)
    val runMs = ts.map(_.runMs).sum.toDouble
    Map(
      "task.cpu_ms" -> ts.map(_.cpuNs).sum / 1e6,
      "task.run_ms" -> runMs,
      "task.gc_ms" -> ts.map(_.gcMs).sum.toDouble,
      "task.slot_util" -> runMs / math.max(1L, (to - from) * slots),
      "shuffle.write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
      "shuffle.read_bytes" -> reads.sum.toDouble,
      "shuffle.fetch_wait_ms" -> ts.map(_.fetchWaitMs).sum.toDouble,
      "shuffle.spill_bytes" -> ts.map(_.spill).sum.toDouble,
      "shuffle.read_skew" ->
        (if (reads.isEmpty) 0.0 else reads.max / (reads.sum.toDouble / reads.size)))
  }

  /** Wall time of [from, to] during which no stage was running. */
  def driverMs(from: Long, to: Long): Double =
    (to - from) - Spans.unionLength(stages(from, to).map(s => (s.startMs, math.min(s.endMs, to))))
}

object JobLog {
  final case class Job(id: Int, startMs: Long, var endMs: Long, group: String,
      batchId: Option[Long], stageIds: Seq[Int])
  final case class Stage(id: Int, startMs: Long, endMs: Long, tasks: Int)
  final case class Task(endMs: Long, cpuNs: Long, runMs: Long, gcMs: Long,
      shuffleWrite: Long, shuffleRead: Long, fetchWaitMs: Long, spill: Long)
}

final case class PlanAction(endMs: Long, analysisMs: Long, optimizationMs: Long,
    planningMs: Long, aggTimeMs: Long)

/** Planning phases of every action (QueryExecution.tracker) and the time
  * its aggregate operators spent building (SQLMetric `aggTime`). */
final class PlanLog extends QueryExecutionListener {
  private val buf = mutable.ArrayBuffer.empty[PlanAction]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val a = PlanLog.action(qe)
    synchronized { buf += a }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def actions(from: Long, to: Long): Seq[PlanAction] =
    synchronized(buf.filter(a => a.endMs >= from && a.endMs <= to).toList)
}

object PlanLog {
  def action(qe: QueryExecution): PlanAction = {
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    PlanAction(System.currentTimeMillis(), ms("analysis"), ms("optimization"),
      ms("planning"), aggTimeMs(qe.executedPlan))
  }

  /** Sum of `aggTime` over every aggregate node, descending into the
    * final plan of adaptive execution and into query stages. */
  def aggTimeMs(plan: SparkPlan): Long = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Long = {
      val own = p.metrics.get("aggTime").map(_.value).getOrElse(0L)
      val inner = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _ => 0L
      }
      own + inner + p.children.map(walk).sum
    }
    walk(plan)
  }
}

/** In-memory span recorder: run -> phase -> item (key or trigger) ->
  * job -> stage, each span with its parent and the run's trace id. */
final class Spans(val traceId: String) {
  import Spans.Span
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0

  def add(parent: Int, layer: String, name: String, startMs: Long, endMs: Long): Int =
    synchronized {
      nextId += 1
      buf += Span(nextId, parent, layer, name, startMs, endMs)
      nextId
    }

  /** Times `body` as a span; `body` gets the span's id. */
  def around[T](parent: Int, layer: String, name: String)(body: Int => T): T = {
    val start = System.currentTimeMillis()
    val id = add(parent, layer, name, start, start)
    try body(id)
    finally synchronized {
      val i = buf.indexWhere(_.id == id)
      buf(i) = buf(i).copy(endMs = System.currentTimeMillis())
    }
  }

  def all: Seq[Span] = synchronized(buf.toList)

  /** Per layer: the summed span time not covered by any child span. */
  def selfMs: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.layer).map { case (layer, spans) =>
      layer -> spans.map { s =>
        val covered = Spans.unionLength(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs))))
        (s.endMs - s.startMs) - covered
      }.sum
    }
  }

  def json: String = all.map { s =>
    s"""{"trace":"$traceId","id":${s.id},"parent":${s.parent},"layer":"${s.layer}",""" +
      s""""name":"${s.name}","start_ms":${s.startMs},"end_ms":${s.endMs}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Spans {
  final case class Span(id: Int, parent: Int, layer: String, name: String,
      startMs: Long, endMs: Long)

  /** Total length covered by a set of [start, end] intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }
}

/** The collectors a traced run attaches while a traced pass runs, and the
  * span tree they feed. */
final class Tracer(spark: org.apache.spark.sql.SparkSession, traceId: String) {
  val jobs = new JobLog
  val plans = new PlanLog
  val spans = new Spans(traceId)
  /** JVM GC time while attached. */
  var gcMs = 0.0
  private var gc0 = 0.0

  def attach(): Unit = {
    gc0 = Jvm.gcMs
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(plans)
  }

  def detach(): Unit = {
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(plans)
    gcMs += Jvm.gcMs - gc0
  }

  /** Adds job and stage spans under the item spans they ran for:
    * `itemOf` maps a job to its item span, else the job hangs off
    * `fallback`. */
  def attachJobs(from: Long, to: Long, fallback: Int)(itemOf: JobLog.Job => Option[Int]): Unit = {
    val stageById = jobs.stages(from, to + 60000L).groupBy(_.id)
    jobs.jobs(from, to).foreach { j =>
      val jid = spans.add(itemOf(j).getOrElse(fallback), "job", s"job ${j.id}", j.startMs,
        math.max(j.startMs, j.endMs))
      j.stageIds.flatMap(stageById.getOrElse(_, Nil)).foreach { s =>
        spans.add(jid, "stage", s"stage ${s.id}", s.startMs, s.endMs)
      }
    }
  }

  /** Self time per span layer, plus the span count. */
  def spanLayer: Map[String, Double] =
    Seq("run", "phase", "item", "job", "stage").map(l =>
      s"span.${l}_self_ms" -> spans.selfMs.getOrElse(l, 0.0)).toMap +
      ("span.count" -> spans.all.size.toDouble)
}
