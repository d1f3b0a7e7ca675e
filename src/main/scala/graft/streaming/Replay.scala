package graft.streaming

import java.nio.file.{Files, LinkOption, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import org.apache.spark.sql.types.StructType

/** The replay harness every stream key runs through: a bounded table
  * replayed as a parquet file stream in a fixed order, one file (or a
  * fixed number of files) per trigger, optionally ended by a sentinel
  * file.
  *
  * Bounded replay: the reference replays a bounded source in offset
  * order; here the input is re-laid-out as N files (contiguous ranges
  * of one column, or round-robin where the fold is order-insensitive)
  * whose modification times ascend in file-name order, and the file
  * source's `maxFilesPerTrigger` turns each file into one micro-batch.
  *
  * End-of-stream flush: the reference emits `MAX_WATERMARK` when a
  * bounded source ends, so all open windows close
  * (`rlink/src/runtime/worker/runnable/watermark_assigner_runnable.rs:125-128`).
  * Spark's append mode has no termination flush, so the replay ends
  * with a one-row SENTINEL file placed last, its event time one hour
  * past the last real event: once its batch commits, the watermark
  * passes every real window end (or timeout, or session gap) and the
  * engine's no-data micro-batch flushes all remaining state.
  * Sentinel-keyed rows are filtered from each key's result.
  *
  * A [[Run]] owns every temp dir it hands out, starts the query under
  * the key's state configuration, drains it with `processAllAvailable`,
  * records the last micro-batch plan in [[StreamParity.lastStreamPlans]]
  * under the key's name, stops it, and deletes its dirs whether the
  * query succeeds or throws. */
private[graft] object Replay {

  /** Data files per replay (one micro-batch each, plus the sentinel
    * trigger where a query uses one). Two batches is the MINIMUM that
    * still proves cross-batch state carry — every state fold here is
    * replay-split invariant by construction (complete-mode tables,
    * min-first-wins folds, watermark-flushed windows over time-ordered
    * files), and ParitySpec pins that invariance explicitly where it is
    * least obvious (q126 at splits 2 vs 8). Wall-clock per query is
    * dominated by per-trigger job count (BASELINE_HISTORY.md, q58), so
    * the bench path runs the minimum; specs that want finer replays
    * pass their own split. */
  val ReplayFiles = 2

  /** How rows are split across the replay files. */
  sealed trait Order
  /** Contiguous ranges of `column`, sorted within each file: the replay
    * runs in `column` order. */
  final case class ByRange(column: String) extends Order
  /** Round-robin: for folds that do not depend on arrival order. */
  case object RoundRobin extends Order

  /** Where a replayed query's state lives. */
  sealed trait State
  /** The session's shuffle partitions and state-store provider. */
  case object SessionPartitions extends State
  /** Shuffle partitions pinned to [[statePartitions]]. */
  case object Pinned extends State
  /** Pinned, on the RocksDB state-store provider. */
  case object RocksDB extends State

  private val runId = new AtomicInteger(0)

  /** Run `body` in a fresh replay scope named `name` (the key's name: it
    * prefixes the temp dirs and names the recorded plan); every dir the
    * scope handed out is deleted when `body` returns or throws. */
  def run[T](spark: SparkSession, name: String)(body: Run => T): T = {
    val r = new Run(spark, name)
    try body(r) finally r.close()
  }

  final class Run private[Replay] (spark: SparkSession, name: String) {
    private val dirs = scala.collection.mutable.ArrayBuffer.empty[Path]

    private def newDir(tag: String): Path = {
      val d = Files.createTempDirectory(s"${name}_$tag")
      dirs += d
      d
    }

    private[Replay] def close(): Unit = dirs.foreach(deleteTree)

    /** A scratch dir deleted with the run (foreachBatch outputs, ledgers). */
    def tempDir(tag: String): String = newDir(tag).toString

    /** `df` laid out as `n` replay files (see [[layout]]), streamed one
      * file per micro-batch. */
    def files(df: DataFrame, order: Order, n: Int = ReplayFiles,
        sentinel: Map[String, Any] = Map.empty): DataFrame = {
      val d = newDir("in")
      layout(df, d, order, n, sentinel)
      stream(spark, df.schema, d.toString, perTrigger = 1)
    }

    /** The parquet table at `table` as a file stream read in ONE trigger:
      * symlinked into the replay dir (no copy), with the sentinel file
      * beside it when `sentinel` is non-empty. */
    def linked(table: String, schema: StructType,
        sentinel: Map[String, Any] = Map.empty): DataFrame = {
      val d = newDir("in")
      val src = Paths.get(table)
      Files.createSymbolicLink(d.resolve(src.getFileName), src)
      if (sentinel.nonEmpty) writeSentinel(spark, schema, sentinel, d)
      spark.readStream.schema(schema).parquet(d.toString)
    }

    /** Start `writer` under `state`, drain it, record its last
      * micro-batch plan under the run's name (unless the query recorded
      * its own per-batch plan during the run, as q58 does), and stop it.
      * Returns the stopped query: its `recentProgress` is final. */
    def await(writer: DataStreamWriter[_], state: State = Pinned): StreamingQuery = {
      StreamParity.lastStreamPlans.remove(name)
      // the stream's cloned session snapshots the conf at start, so the
      // state conf only needs to wrap start()
      val query = withState(spark, state)(writer.start())
      try {
        query.processAllAvailable()
        if (!StreamParity.lastStreamPlans.containsKey(name))
          recordPlan(name, query)
      } finally query.stop()
      query
    }

    /** `ds` through the memory sink in output `mode`, drained into a
      * session-GC-able frame (see [[drainMemorySink]]). */
    def memory(ds: Dataset[_], mode: String, state: State): DataFrame = {
      val table = s"${name}_${runId.incrementAndGet()}"
      await(ds.writeStream.outputMode(mode).format("memory").queryName(table),
        state)
      drainMemorySink(spark, table)
    }
  }

  /** Write `df` into `dir` as up to `n` parquet files in `order`, with
    * strictly ascending modification times in file-name order, so a file
    * stream replays them oldest-first; with non-empty `sentinel`
    * overrides, a one-row sentinel file (see [[writeSentinel]]) goes
    * last, its mtime after every data file's. */
  private[graft] def layout(df: DataFrame, dir: Path, order: Order, n: Int,
      sentinel: Map[String, Any]): Unit = {
    val parts = order match {
      case ByRange(c) => df.repartitionByRange(n, col(c)).sortWithinPartitions(c)
      case RoundRobin => df.repartition(n)
    }
    parts.write.mode("overwrite").parquet(dir.toString)
    val t0 = System.currentTimeMillis() - 3600L * 1000
    val data = parquetFiles(dir)
    data.zipWithIndex.foreach { case (f, i) =>
      require(f.toFile.setLastModified(t0 + i * 10000L)) }
    if (sentinel.nonEmpty) {
      val s = writeSentinel(df.sparkSession, df.schema, sentinel, dir)
      require(s.toFile.setLastModified(t0 + data.length * 10000L))
    }
  }

  /** The sentinel file `dir/zz_sentinel.parquet` (last in name order):
    * one row of `schema`, null except for `overrides` — the key's event
    * time past the end of the stream (see
    * [[StreamParity.sentinelTsPlus1h]]) and a key no real row carries. */
  private def writeSentinel(spark: SparkSession, schema: StructType,
      overrides: Map[String, Any], dir: Path): Path = {
    val unknown = overrides.keySet -- schema.fieldNames
    require(unknown.isEmpty, s"sentinel columns not in schema: $unknown")
    val row = Row(schema.fieldNames.toIndexedSeq.map(overrides.getOrElse(_, null)): _*)
    val staging = Files.createTempDirectory(s"${dir.getFileName}_sentinel")
    try {
      spark.createDataFrame(java.util.Arrays.asList(row), schema)
        .coalesce(1).write.mode("overwrite").parquet(staging.toString)
      val target = dir.resolve("zz_sentinel.parquet")
      parquetFiles(staging).foreach(Files.copy(_, target))
      target
    } finally deleteTree(staging)
  }

  /** A file stream over the replay files in `dir`, `perTrigger` per
    * micro-batch. */
  private[graft] def stream(spark: SparkSession, schema: StructType,
      dir: String, perTrigger: Int): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", perTrigger.toString).parquet(dir)

  private def withState[T](spark: SparkSession, state: State)(body: => T): T =
    state match {
      case SessionPartitions => body
      case Pinned            => withStatePartitions(spark)(body)
      case RocksDB           => withConf(spark,
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
      )(withStatePartitions(spark)(body))
    }

  /** Pin `shuffle.partitions` to [[statePartitions]] for `body` and
    * restore it after: stateful queries pay a per-partition state-store
    * commit every micro-batch and the foreachBatch queries pay per-task
    * scheduling on every per-batch exchange, while the state/batch
    * volume here is KB-scale — partitions are sized to STATE VOLUME, not
    * core count. A stream-stream join opens FOUR state stores per
    * partition per trigger: on RocksDB at 16 partitions the per-trigger
    * instance churn dominated q82/q83 (measured 6.2 -> 4.6 s warm per
    * query at sf0.1 going 16 -> 8). Batch queries still run at the
    * session's partitions. */
  private[graft] def withStatePartitions[T](spark: SparkSession)(body: => T): T =
    withConf(spark, "spark.sql.shuffle.partitions",
      statePartitions(spark).toString)(body)

  /** The streams' state partition count: min(8, the session's shuffle
    * partitions), so a lower-core run (SPARK_GRAFT_CPUS < 8) stays
    * meaningful. */
  private[graft] def statePartitions(spark: SparkSession): Int =
    math.min(8, spark.conf.get("spark.sql.shuffle.partitions").toInt)

  private def withConf[T](spark: SparkSession, key: String, value: String)
      (body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None    => spark.conf.unset(key)
    }
  }

  /** Capture the query's last executed micro-batch plan (the plan that
    * shows the stateful-operator count; the key's returned DataFrame is
    * the drained result, a trivial plan). Exception-safe: evidence
    * capture must never fail the query. */
  private def recordPlan(name: String, query: StreamingQuery): Unit =
    try {
      val bos = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(bos, true, "UTF-8")) {
        query.explain(extended = false)
      }
      StreamParity.lastStreamPlans.put(name, new String(bos.toByteArray, "UTF-8"))
      ()
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[streamplan] $name failed: ${e.getMessage}")
    }

  /** Drain a finished memory-sink table into a session-GC-able frame
    * and DROP the temp view: a memory sink otherwise pins its full
    * result set in the driver catalog for the session's lifetime — one
    * corpus-sized runId-suffixed table per invocation in the long-lived
    * bench JVM. localCheckpoint(eager) copies the rows into block
    * storage that the ContextCleaner frees once the frame is GC'd; the
    * view (and the sink buffer it references) is dropped immediately. */
  private def drainMemorySink(spark: SparkSession, table: String): DataFrame = {
    val out = spark.table(table).localCheckpoint(true)
    spark.catalog.dropTempView(table)
    out
  }

  /** Delete `p` and, if it is a real directory, everything under it.
    * Symlinks are removed, never followed: a linked replay must not
    * reach into the table it links. */
  private[streaming] def deleteTree(p: Path): Unit = {
    if (Files.isDirectory(p, LinkOption.NOFOLLOW_LINKS))
      listDir(p).foreach(deleteTree)
    Files.deleteIfExists(p)
    ()
  }

  private def parquetFiles(dir: Path): Seq[Path] =
    listDir(dir).filter(_.getFileName.toString.endsWith(".parquet"))
      .sortBy(_.getFileName.toString)

  /** java.nio Files.list holds a directory fd until the stream is
    * CLOSED (not until GC): the long-lived bench/spec JVM reuses these
    * harness paths repeatedly, so unclosed streams leak fds. */
  private def listDir(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator())
      .asScala.toList
    finally s.close()
  }
}
