package graft

/** Stream replay-floor ledger (run manually on a QUIET machine:
  * `sbt "Test/runMain graft.AdmissionSweep ledger"`).
  */
object AdmissionSweep {

  /** Replay-floor ledger: every stream-named query runs a fixed number
    * of micro-batch triggers whose machinery cost (state-store commits,
    * file-sink batchId dirs, listener round-trips) is a per-trigger
    * FLOOR independent of batch width — the documented 2-5x session
    * swing class. This mode measures each one at sf0.1 (time, trigger
    * count via a StreamingQueryListener, per-trigger cost) and writes
    * `stream_floor_ledger.json`, so a board's streaming delta is
    * mechanically attributable to (trigger count x per-trigger floor)
    * instead of prose. BenchLineSpec asserts the committed artifact
    * covers every q*stream* key. */
  def floorLedger(): Unit = {
    // 8 cores and shuffle partitions: Bench's streaming configuration
    // (state partitions sized to state volume, not core count — see
    // Bench.streamPaths)
    val spark = TestSpark.spark
    val sf = "/root/testdata/sf0.1"
    val triggers = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        override def onQueryStarted(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = {
          triggers.incrementAndGet(); ()
        }
        override def onQueryTerminated(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      })
    // stream-CLASS, not stream-named: q126_transform_state shares the
    // per-trigger floor economics without the name (Bench.isStreamClass)
    val keys = SparkEntry.queries.keys.filter(Bench.isStreamClass).toSeq.sorted
    // warmup (JIT + codegen, not recorded)
    Bench.materialize(spark, sf, keys.head)
    val entries = keys.map { k =>
      spark.sharedState.cacheManager.clearCache()
      Thread.sleep(1000) // drain the listener bus before the baseline read
      val tr0 = triggers.get()
      val dt = Bench.materialize(spark, sf, k)
      require(dt >= 0, s"$k failed (see the [bench] line above)")
      Thread.sleep(1000) // progress events post asynchronously
      val tr = triggers.get() - tr0
      println(f"$k%-32s $tr%2d triggers  $dt%6.2f s")
      f""""$k": {"triggers": $tr, "seconds": $dt%.3f, "per_trigger_sec": ${if (tr > 0) dt / tr else dt}%.3f}"""
    }
    val json = entries.mkString(
      "{\"source\": \"Test/runMain graft.AdmissionSweep ledger (quiet " +
        "machine, sf0.1, shuffle.partitions=8, noop sink, warm JVM)\",\n" +
        "\"queries\": {\n  ", ",\n  ", "\n}}\n")
    java.nio.file.Files.write(
      java.nio.file.Paths.get("stream_floor_ledger.json"),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"wrote stream_floor_ledger.json (${keys.size} queries)")
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    require(args.headOption.contains("ledger"), "usage: AdmissionSweep ledger")
    floorLedger()
  }
}
