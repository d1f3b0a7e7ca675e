package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query at SPARK_GRAFT_SF_DIR with
  * full materialization (noop sink — nothing is pruned away by a count),
  * plus the flagship sliding-window aggregation through the real streaming
  * engine, reported as rows/s.
  *
  * Output protocol: the driver captures only the LAST 2000 characters of
  * stdout (which also include sbt's `[success] Total time` epilogue), so
  * the driver-consumed JSON must be the FINAL printed line and must stay
  * well under that window. Everything else (the per-run spread) is printed
  * as its own earlier line. Round 7 broke this by appending the spread map
  * to the final line, pushing the queries map out of the window — hence
  * the [[driverLine]] budget check below, exercised by BenchLineSpec.
  */
object Bench {
  /** Hard budget for the final stdout line. The driver tail window is 2000
    * chars and must also hold what follows the line: its newline, sbt's
    * epilogue (`[success] Total time: ...`, ≤ ~84 chars at worst-case
    * field widths), and any log-prefix bytes an sbt output strategy
    * might add — 1850 keeps a 150-char margin for all of it, enough
    * for a straggler WARN line landing after the driver line. The
    * [[BenchTopK]] cap makes the real line surface-independent
    * (~1.1 KB), so the margin is genuinely free. */
  val DriverLineBudget = 1850

  /** Query-key shortening for the driver line:
    * "q01_sliding_window_agg" -> "1" (query number, zero-pad stripped —
    * the pad cost 9 chars at the 178-query surface), "stream_ingest" ->
    * "s". The spread line keeps full names; the number -> name mapping
    * is fixed in SparkEntry/COVERAGE.md. */
  def shortKey(name: String): String = {
    val n = name.takeWhile(_ != '_').stripPrefix("q")
    if (n == "stream") "s" else n.dropWhile(_ == '0')
  }

  /** The driver line's queries map is capped at the [[BenchTopK]] most
    * EXPENSIVE queries (plus, always: every failed query — a -1 must
    * never be invisible — and the stream parity/ingest keys, whose
    * trends the board tracks). At the 181-query surface the full map's
    * worst case outgrew the tail window's arithmetic capacity (~193
    * entries at 3-char values); the head of the cost distribution is
    * the only part that carries perf signal — a fast query that
    * REGRESSES enters the top-k by construction, a fast query that
    * stays fast is represented by the exact total — and the cap makes
    * the line length surface-independent for every future round. The
    * full per-query map (both raw runs, 3 dp) always rides the spread
    * line; "nq" reports the measured surface size. A regression BELOW
    * the cutoff (e.g. 0.1 s -> 0.5 s) stays off the map — the 2-dp
    * total still moves by it, and the spread line carries the
    * per-query evidence; the cap is sized so the cutoff sits in the
    * sub-second noise floor. */
  val BenchTopK = 100

  /** Session-health canary: trivial, stable queries whose quiet-machine
    * min-of-2-runs time never approaches these bands (bands sit ~2.5x
    * above the max observed across five independent quiet sf0.1
    * sessions, bench_local_r09_run{J,K,L,M} + r10_runA: q03 <=0.28,
    * q11 <=0.36, q22 <=0.27, q36 <=0.20, q42 <=0.21, q59 <=0.21,
    * q119 <=0.60, q138 <=0.75, q200 <=0.13). A disturbed host
    * (concurrent DuckDB oracle pass, other 32-thread load) inflates
    * them 2-15x — the r09 driver board read q11 3.7 s / q119 3.8 s /
    * q138 6.3 s with zero code change. The r10 board proved the old
    * 3-4x bands too loose (its q36 read 0.622, 5x quiet, under the old
    * 0.8 band) and the old five sentinels too front-loaded (the r10
    * disturbance lived at string-sort positions 45-170 where only q36
    * sat) — hence the 2.5x tightening and the four back-half adds
    * (q200/q22/q42/q59: trivial stable projections). Sentinels span
    * several source files so a genuine single-operator regression
    * cannot trip >=2 of them; >=2 trips means the SESSION is suspect,
    * not the code. */
  val SentinelBands: Seq[(String, Double)] = Seq(
    "q03_filter_project" -> 0.70,
    "q11_set_ops" -> 0.90,
    "q22_ann_brute_force" -> 0.65,
    "q36_hash_split" -> 0.50,
    "q42_stratified_mix" -> 0.52,
    "q59_audio_chunks" -> 0.51,
    "q119_transition_matrix" -> 1.50,
    "q138_itemset_pairs" -> 1.90,
    "q200_weighted_sample" -> 0.32)

  def sentinelTrips(minTimes: Map[String, Double]): Seq[String] =
    SentinelBands.collect {
      case (k, band) if minTimes.get(k).exists(_ > band) => k }

  /** Median of max/min across each query's two runs, over queries whose
    * min run is >= 0.15 s (sub-noise-floor times carry no ratio
    * signal). Quiet sessions sit ~1.45-1.55 (run 1 pays JIT/page-cache
    * warmup); a mid-session disturbance that hits only ONE of the two
    * runs pushes it past 2.2. A disturbance spanning both runs is the
    * sentinels' job instead. */
  def medianRunRatio(spread: Seq[(String, (Double, Double))]): Double = {
    val rs = spread.collect {
      case (_, (a, b)) if a > 0 && b > 0 && math.min(a, b) >= 0.15 =>
        math.max(a, b) / math.min(a, b)
    }.sorted
    if (rs.isEmpty) 1.0 else rs(rs.size / 2)
  }

  /** Per-key quiet-band check — the canary arm the r10 board proved
    * necessary: a sustained disturbance spanning BOTH runs of every
    * pair is invisible to the run-ratio median (q38 read 5.36/5.07,
    * ratio 1.06) and can slip between sentinels. The committed bands
    * file pins every key's min-of-2 from a verified-quiet full-surface
    * sf0.1 session (bench_local_r10_runA); >= [[QuietBandMinKeys]]
    * non-stream keys past [[QuietBandMult]]x their band means the
    * SESSION is disturbed (the r10 board trips 20 such keys; five
    * quiet sessions trip 0-1). Stream-named keys are excluded: the
    * per-trigger replay-floor class legitimately swings 2-5x across
    * sessions (BASELINE.md), and they carry their own floors. */
  val QuietBandsFile = "bench_quiet_bands.json"
  val QuietBandMult = 3.0
  val QuietBandMinKeys = 5

  /** Stream-class membership for the canary/ledger split. Most
    * per-trigger-floor queries are stream-NAMED, but the class is a
    * property of the execution shape (foreachBatch/transformWithState
    * trigger floors swing 2-5x across sessions), not the name — q126
    * measured 3.9-8.5 s across the three quiet r12 runs, exactly the
    * swing the band arm must not read as disturbance. Stream-class keys
    * keep their band entries (they still cap [[bandTotal]]) but never
    * TRIP, and each carries a measured per-trigger floor in
    * stream_floor_ledger.json instead (BenchLineSpec asserts coverage
    * of this exact set). */
  val StreamExtraKeys: Set[String] = Set("q126_transform_state")
  def isStreamClass(k: String): Boolean =
    k.contains("stream") || StreamExtraKeys(k)

  def loadQuietBands(path: String = QuietBandsFile): Map[String, Double] =
    try {
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = om.readTree(new java.io.File(path)).get("bands")
      scala.jdk.CollectionConverters.IteratorHasAsScala(node.fieldNames())
        .asScala.map(k => k -> node.get(k).asDouble()).toMap
    } catch { case scala.util.control.NonFatal(_) => Map.empty }

  def quietBandTrips(minTimes: Map[String, Double],
      bands: Map[String, Double]): Seq[String] =
    minTimes.toSeq.collect {
      case (k, v) if !isStreamClass(k) && v > 0 &&
        bands.get(k).exists(b => v > QuietBandMult * b) => k
    }.sorted

  /** The driver-line canary: red when >=2 sentinels sit above their
    * pinned bands, OR the run-ratio median is past 2.2, OR >=
    * [[QuietBandMinKeys]] keys sit past their committed quiet bands.
    * Calibrated red on the r09 AND r10 driver boards' timing profiles
    * and green on the five quiet local profiles (BenchLineSpec replays
    * the recorded JSON). */
  def noisy(minTimes: Map[String, Double], ratio: Double,
      bandTrips: Seq[String] = Nil): Boolean =
    sentinelTrips(minTimes).size >= 2 || ratio > 2.2 ||
      bandTrips.size >= QuietBandMinKeys

  // --- self-heal: retry the keys the canary names, publish the min ---
  //
  // Three consecutive driver boards (r09/r10/r11) were disturbed; the
  // r11 canary NAMED its 21 inflated keys from inside the session (q124
  // at 131.8/156.6 s in BOTH runs vs its ~1.6 s band) but Bench stopped
  // at min-of-2, so the board shipped 595.5 s where the true surface
  // cost ~300 s and adjudication happened offline. The fix is mechanical
  // and bounded: after the two timed runs, re-run ONLY the tripped
  // non-stream keys as their own min-of-2 pair (most-inflated first,
  // capped at [[BenchRetryMax]] — the worst board ever seen tripped 21),
  // publish the min across all four executions, and recompute the
  // canary from the healed times.
  // A roaming/transient disturbance (the r11 class) heals to a green
  // board with the retried keys named on the driver line; a SUSTAINED
  // disturbance also inflates the retry run, the healed times still
  // trip, and the board stays honestly red.

  /** Hard cap on retry executions per session — bounds the self-heal's
    * cost on an arbitrarily disturbed host. Sized above the worst
    * observed board (21 trips, r11) with margin, and below what the
    * driver-line budget can annotate (BenchLineSpec proves the
    * worst-case `"retried"` list fits). */
  val BenchRetryMax = 24

  // --- stream-class self-heal arm (VERDICT r13 item #2) ---
  //
  // The band arm above EXEMPTS stream-class keys by design (their
  // per-trigger floors legitimately swing 2-5x across sessions), which
  // also barred them from healing: the r13 board shipped q116 at 31 s —
  // a 5.3x inflation over its committed floor, same-day 8-core re-read
  // 3.9 s — as a fake 0.52x regression. Stream keys get their own retry
  // arm keyed to stream_floor_ledger.json (quiet-machine min evidence,
  // regenerated whenever the stream operators change): a key observed
  // past [[StreamRetryMult]] x its ledger floor is above the legitimate
  // swing band and below nothing but disturbance, so it is re-run as a
  // min-of-2 pair and published as the min-of-4, exactly like the band
  // arm. A genuine regression also inflates the retry pair and stays
  // visible; a 2-5x session swing never trips the threshold.

  val StreamFloorLedgerFile = "stream_floor_ledger.json"
  /** Retry threshold multiple over the ledger floor: above the
    * documented legitimate 2-5x per-trigger session swing, far below
    * the observed disturbance class (q116 5.3x on the r13 board). */
  val StreamRetryMult = 5.0
  /** Cap on stream-key retries per session (each retry pair replays the
    * query's full micro-batch harness — costlier than a batch key). */
  val StreamRetryMax = 8

  def loadStreamFloors(path: String = StreamFloorLedgerFile): Map[String, Double] =
    try {
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = om.readTree(new java.io.File(path)).get("queries")
      scala.jdk.CollectionConverters.IteratorHasAsScala(node.fieldNames())
        .asScala.map(k => k -> node.get(k).get("seconds").asDouble()).toMap
    } catch { case scala.util.control.NonFatal(_) => Map.empty }

  /** Stream-class keys whose observed min sits past [[StreamRetryMult]]x
    * their committed quiet floor — most inflated first, capped at
    * [[StreamRetryMax]]. Keys without a ledger entry never retry (no
    * quiet evidence to heal toward). Pure — BenchLineSpec replays
    * recorded boards through it. */
  def streamRetryKeys(minTimes: Map[String, Double],
      floors: Map[String, Double]): Seq[String] =
    minTimes.toSeq.collect {
      case (k, v) if isStreamClass(k) && v > 0 &&
          floors.get(k).exists(f => f > 0 && v > StreamRetryMult * f) =>
        (k, v / floors(k))
    }.sortBy { case (k, infl) => (-infl, k) }
      .take(StreamRetryMax).map(_._1)

  /** Keys the self-heal pass should re-run: every quiet-band trip plus
    * every tripped sentinel (both non-stream by construction), most
    * inflated relative to its band first, capped at [[BenchRetryMax]].
    * Pure — BenchLineSpec replays recorded boards through it. */
  def retryKeys(minTimes: Map[String, Double],
      bands: Map[String, Double]): Seq[String] = {
    val allBands = bands ++ SentinelBands // sentinel bands are tighter
    val tripped = (quietBandTrips(minTimes, bands) ++
      sentinelTrips(minTimes)).distinct
    tripped.sortBy { k =>
      val inflation = (for {
        t <- minTimes.get(k); b <- allBands.get(k)
      } yield t / b).getOrElse(1.0)
      (-inflation, k)
    }.take(BenchRetryMax)
  }

  /** Fold the retry measurement into the published times: min of the
    * original pair and the retry (itself a min-of-2 pair since r13) for
    * retried keys where both succeeded; a failed (-1) original stays -1
    * and a failed retry changes nothing. Pure. */
  def heal(results: Seq[(String, Double)],
      retries: Map[String, Double]): Seq[(String, Double)] =
    results.map { case (n, v) =>
      n -> (retries.get(n) match {
        case Some(t3) if t3 > 0 && v > 0 => math.min(v, t3)
        case _                           => v
      })
    }

  /** Retry-window sentinels: cheap, stable keys re-run AFTER the retry
    * pass to tell whether the heal window itself was hot. The r12 board
    * proved min-of-3 alone cannot handle a SUSTAINED disturbance — the
    * disturbance moved INTO the retry window (q54's retry read 105.3 s
    * vs its 1.14 s re-time) so the healed board stayed red and the line
    * under-reported the engine ~2x. These three span different source
    * files (a genuine single-operator regression cannot trip two) and
    * cost <1 s total on a quiet host. */
  val RetrySentinels: Seq[String] =
    Seq("q03_filter_project", "q42_stratified_mix", "q200_weighted_sample")

  /** True when the retry window itself was disturbed: >=2 retry
    * sentinels above their pinned session-health bands. A sentinel
    * re-run that FAILED (-1) counts as hot — a disturbance severe
    * enough to kill the measurement must not exonerate the window
    * (the Doctor --retime rule from ADVICE r12, applied here). Pure. */
  def retryWindowHot(times: Map[String, Double]): Boolean = {
    val bands = SentinelBands.toMap
    RetrySentinels.count(k =>
      times.get(k).exists(t =>
        t < 0 || bands.get(k).exists(t > _))) >= 2
  }

  /** Defensible engine number for a board that never went quiet:
    * per-key min(observed, quiet-band) summed over every succeeded key
    * (keys without a band contribute their observed time). The committed
    * bands are themselves quiet min-of-2 evidence, so capping a
    * disturbed reading at its band substitutes the last verified quiet
    * measurement — the result is what a quiet session would plausibly
    * total (BenchLineSpec replays the r12 board: band_total lands
    * within 10% of the quiet runC total while the healed board reads
    * ~1.9x). Keys the host genuinely regressed BELOW 3x their band
    * still ride at their observed value, so a broad real slowdown
    * cannot hide behind the cap. */
  def bandTotal(times: Map[String, Double],
      bands: Map[String, Double]): Double =
    times.collect { case (k, v) if v > 0 =>
      bands.get(k).map(math.min(v, _)).getOrElse(v) }.sum

  /** Build the single driver-consumed JSON line. Query keys are
    * SHORTENED via [[shortKey]]: the full-name map grew past the tail
    * window at the 65-query surface and the qNN prefixes grew past it
    * again at the 133-query surface (the spread line, printed earlier,
    * keeps full names). Values use TIERED precision — 1 dp under
    * ~10 s, whole seconds above, saturating at 999 — a hard 3-char cap
    * per value. Full 3-dp times always ride the spread line. The require
    * makes any future growth that would silently re-break driver
    * parsing fail loudly here (and in the unit test) instead.
    */
  def driverLine(total: Double, queries: Seq[(String, Double)], sf: String,
                 streamRowsPerSec: Double, isNoisy: Boolean = false,
                 retried: Seq[String] = Nil,
                 bandTotalSec: Option[Double] = None,
                 hostDisturbed: Boolean = false): String = {
    val always = Set("q25_stream_parity", "stream_ingest")
    val kept = queries.filter { case (k, v) =>
      v < 0 || always(k) } ++
      queries.filter { case (k, v) => v >= 0 && !always(k) }
        .sortBy { case (k, v) => (-v, k) }.take(BenchTopK)
    val keptKeys = kept.map(_._1).toSet
    val shown = queries.filter(p => keptKeys(p._1))
    // Every tier renders AT MOST 3 chars ("0.5" / "9.9" / "99" / "999"):
    // at the 163-key surface the old 4-char worst case ("0.53", "99.9")
    // put the worst-case line at ~1830 chars — 1-2 queries from the
    // budget. Tier cutoffs sit at 9.95/999.5 (not 10/1000) so %.1f/%.0f
    // rounding cannot cross a boundary and widen the render; hundredths
    // always ride the 3-dp spread line.
    def fmt(v: Double): String =
      if (v < 0) "-1" // failure sentinel, exact value carries no signal
      else if (v < 9.95) f"$v%.1f"
      // saturating display: a >=1000 s query reads 999 here (real time
      // on the spread line)
      else f"${math.min(v, 999.0)}%.0f"
    val qs = shown
      .map { case (k, v) => "\"" + shortKey(k) + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val line =
      // "rps" = the stream ingest rows/sec (previously
      // "stream_rows_per_sec", then "stream_rps"; shortened again at the
      // 175-query surface for line-budget headroom — the "stream" queries
      // key carries the same path's seconds). "cpus" (the session's core
      // count) rides the spread line since the same shave.
      // "noisy":true only when the session-health canary trips (13
      // chars, well inside the budget margin): it tells the board
      // reader to adjudicate this session's times against
      // bench_spread_last.json before treating any >2x key as a
      // regression. Absent = canary green.
      // "retried" names the keys whose published value is a min-of-4
      // after the self-heal pass re-ran them (shortKey form, ≤
      // BenchRetryMax entries — worst case ~160 chars, proven inside
      // the budget by BenchLineSpec): a green board with a retried list
      // means the session was disturbed but the published times are
      // re-measured; absent = no key needed healing.
      // "band_total" (only on a still-red board at the bands' own SF) is
      // the defensible engine number: sum of per-key min(observed,
      // quiet band) — see [[bandTotal]]. "host_disturbed":true means
      // the retry-window sentinels were ALSO hot, i.e. the session
      // never went quiet and even the retried values are suspect —
      // read band_total, not value.
      f"""{"metric":"total","value":$total%.2f,"unit":"sec","nq":${queries.size},"queries":$qs,"sf":"${sf.split('/').last}","rps":$streamRowsPerSec%.0f${if (retried.nonEmpty) retried.map("\"" + shortKey(_) + "\"").mkString(",\"retried\":[", ",", "]") else ""}${bandTotalSec.map(b => f""","band_total":$b%.1f""").getOrElse("")}${if (hostDisturbed) ",\"host_disturbed\":true" else ""}${if (isNoisy) ",\"noisy\":true" else ""}}"""
    require(line.length <= DriverLineBudget,
      s"driver line is ${line.length} chars > budget $DriverLineBudget: " +
        "trim keys/precision or move data to an earlier line, or the " +
        "driver's 2000-char tail capture will truncate the queries map")
    line
  }

  /** Cumulative JVM session counters for the spread line: GC seconds
    * (all collectors), used heap MB, used metaspace MB — the session-
    * level drift a long single-JVM board could carry (BASELINE.md's
    * round-12 split-half experiment read them and found none). */
  def jvmCounters(): (Double, Double, Double) = {
    import scala.jdk.CollectionConverters._
    import java.lang.management.ManagementFactory
    val gcSec = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1000.0
    val heapMb =
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    val metaMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(_.getName.contains("Metaspace"))
      .map(_.getUsage.getUsed / 1e6).getOrElse(0.0)
    (gcSec, heapMb, metaMb)
  }

  /** The two streaming measurements (q25 parity path + flagship ingest),
    * returning (parity sec, ingest sec, ingest rows/s). Both run at the
    * streams' state partition count (`Replay.withStatePartitions`,
    * min(8, session)): stateful queries pay a per-partition
    * state-store commit every micro-batch; at this state volume (~30k
    * window-state groups) the sweep measured 3.4/3.8/4.4/6.0 s ingest at
    * 4/8/16/32 partitions (HDFS-backed store; RocksDB 4x worse here —
    * its per-query instance setup dominates at this scale). 8 keeps ~4k
    * state rows per partition while staying wide enough to not serialize
    * the map side. On a real cluster this is the
    * `shuffle.partitions`-vs-state-store sizing tradeoff — partitions
    * sized to state volume, not core count. */
  def streamPaths(spark: SparkSession, sfDir: String): (Double, Double, Double) = {
    import graft.streaming.Replay
    val nEvents = Tables.events(spark, sfDir).count()
    Replay.withStatePartitions(spark) {
      // Parity path (file-stream source end to end — no driver in the
      // data path; includes the final result sort).
      val tParity = {
        val t0 = System.nanoTime()
        graft.streaming.StreamParity.q25StreamBatchParity(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }

      // Flagship streaming ingest: file source -> watermark -> sliding
      // window agg -> noop, no driver in the data path. Measures the real
      // Structured Streaming pipeline throughput.
      val tIngest = Replay.run(spark, "bench_events") { r =>
        import org.apache.spark.sql.functions._
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        val table = s"$sfDir/events.parquet"
        val agg = Tables.normalizeTs(
            r.linked(table, spark.read.parquet(table).schema))
          .withWatermark("ts", "1 second")
          .groupBy(window(col("ts"), "60 seconds", "20 seconds"), col("event_type"))
          .agg(sum("value").as("sum_value"), max("value").as("max_value"),
            min("value").as("min_value"), count(lit(1)).as("cnt"))
        val t0 = System.nanoTime()
        val q = agg.writeStream.outputMode("append").format("noop")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.awaitTermination()
        (System.nanoTime() - t0) / 1e9
      }
      (tParity, tIngest, nEvents / tIngest)
    }
  }

  /** One timed key: build SparkEntry.queries(key) and write it to the
    * noop sink (nothing is pruned away, unlike a count). Seconds, or -1
    * when the key fails. Bench, Doctor --retime and the QProbe /
    * AdmissionSweep tools all time keys through this. */
  def materialize(spark: SparkSession, sfDir: String, key: String): Double = {
    val t0 = System.nanoTime()
    try SparkEntry.queries(key)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case e: Throwable =>
      System.err.println(s"[bench] $key failed: ${e.getMessage}"); return -1.0
    }
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cores
    val spark = GraftSession.local(cpus)
    def materialize(name: String): Double = Bench.materialize(spark, sfDir, name)

    // JVM/codegen warmup (not measured)
    materialize("q03_filter_project")
    // One-time layout build for the bucketed-join query (not measured):
    // bucketed tables are written once and amortized over every
    // subsequent join — the timed q35 is the exchange-free join itself.
    graft.operators.Bucketing.ensureBucketedTables(spark, sfDir)

    // q25 is the streaming path — measured separately as rows/s below.
    // min of 2 runs per query: the second run reuses JIT-compiled code
    // and OS page cache, which is the steady-state a long-lived cluster
    // session sees; min also suppresses one-off GC/scheduler noise.
    val names = SparkEntry.queries.keys
      .filterNot(_ == "q25_stream_batch_parity").toSeq.sorted
    // If either run fails, report -1: a half-failed query must be visible
    // in the JSON, not silently replaced by its surviving (possibly cold)
    // run's time.
    //
    // Cache hygiene: the dedup/ANN operators cache() their corpus-derived
    // intermediates for intra-query reuse. Dropping them after each
    // query's runs bounds session memory to ONE query's working set
    // (instead of pinning every query's corpus for the whole 40-query
    // batch) — the second timed run still sees the first run's cache, so
    // per-query numbers keep their warm-run semantics.
    // Both runs' raw times are kept and reported (the "spread" JSON key):
    // driver-coordinated / foreachBatch / iterative queries swing 2-5x
    // across sessions (documented in BASELINE.md), and the spread is the
    // only way to tell a real regression from that noise in one report.
    val runs = names.map { n =>
      val t1 = materialize(n); val t2 = materialize(n)
      spark.sharedState.cacheManager.clearCache()
      n -> (t1, t2)
    }
    val results = runs.map { case (n, (t1, t2)) =>
      n -> (if (t1 < 0 || t2 < 0) -1.0 else math.min(t1, t2))
    }

    // Self-heal pass (see retryKeys/heal): re-run the canary-named keys
    // with the same shuffle-partition config as the timed runs. Each
    // retry is its own min-of-2 pair — the cache was just cleared, so a
    // single run would behave like a cold run-1 for cache-reliant
    // operators and under-heal them (ADVICE r12); the second run sees
    // the first's cached intermediates, matching the published pairs'
    // warm semantics (JIT/page cache are already hot from the timed
    // runs). The band arm only exists at the bands' own SF — the
    // committed file is sf0.1 evidence — but tripped sentinels heal at
    // any SF.
    val bands =
      if (sfDir.endsWith("sf0.1")) loadQuietBands()
      else Map.empty[String, Double]
    val toRetry = retryKeys(results.toMap, bands)
    def retryPass(keys: Seq[String]): Map[String, Double] = keys.map { n =>
      val t1 = materialize(n); val t2 = materialize(n)
      spark.sharedState.cacheManager.clearCache()
      n -> (if (t1 < 0 || t2 < 0) -1.0 else math.min(t1, t2))
    }.toMap
    val retryTimes = retryPass(toRetry)
    val bandHealed = heal(results, retryTimes)

    // Stream-class self-heal arm (see streamRetryKeys): the band arm
    // never touches stream keys, so a disturbed one (q116 at 31 s on
    // the r13 board) needs its own pass keyed to the committed floors.
    // The ledger is sf0.1 evidence, like the quiet bands.
    val streamFloors =
      if (sfDir.endsWith("sf0.1")) loadStreamFloors()
      else Map.empty[String, Double]
    val streamToRetry = streamRetryKeys(bandHealed.toMap, streamFloors)
    val streamRetryTimes = retryPass(streamToRetry)
    val healed = heal(bandHealed, streamRetryTimes)
    val allRetried = toRetry ++ streamToRetry
    val allRetryTimes = retryTimes ++ streamRetryTimes

    // Retry-window bracket: when a heal pass ran, re-run the cheap
    // retry sentinels right after it. If they are hot too, the
    // disturbance is SUSTAINED — it followed the session into the heal
    // window (the r12 board's failure mode: q54's retry read 105.3 s
    // vs 1.14 s re-timed) — and even min-of-4 values are suspect.
    val retrySentinelTimes =
      if (allRetried.isEmpty) Map.empty[String, Double]
      else RetrySentinels.map(n => n -> materialize(n)).toMap
    val hostDisturbed = retrySentinelTimes.nonEmpty &&
      retryWindowHot(retrySentinelTimes)

    val (tParity, tIngest, streamRowsPerSec) = streamPaths(spark, sfDir)

    // Spread (both raw run times per query) goes on its OWN earlier line:
    // it is diagnostic data for humans/BASELINE.md, not driver-consumed,
    // and must never ride the final line (see DriverLineBudget).
    val spread = runs
      .map { case (k, (t1, t2)) => "\"" + k + f"\":[$t1%.3f,$t2%.3f]" }
      .mkString("{", ",", "}")

    // Session-health canary (see SentinelBands / medianRunRatio /
    // quietBandTrips), computed on the HEALED times: a transient
    // disturbance whose keys re-measured quiet reads green (with the
    // retried list on the driver line); a sustained one also inflated
    // the retry runs and stays red. The spread line keeps BOTH views —
    // the pre-heal trips (what the two timed runs observed) and the
    // post-heal residue — plus the raw retry times.
    val ratio = medianRunRatio(runs)
    val bandTripsObserved = quietBandTrips(results.toMap, bands)
    val bandTrips = quietBandTrips(healed.toMap, bands)
    val isNoisy = noisy(healed.toMap, ratio, bandTrips)

    val retryJson = allRetryTimes.toSeq.sorted
      .map { case (k, t) => "\"" + k + f"\":$t%.3f" }
      .mkString("{", ",", "}")
    val retrySentinelJson = retrySentinelTimes.toSeq.sorted
      .map { case (k, t) => "\"" + k + f"\":$t%.3f" }
      .mkString("{", ",", "}")
    // session-level JVM counters (GC seconds, heap MB, metaspace MB)
    val (gcSec, heapMb, metaMb) = jvmCounters()
    val spreadLine =
      f"""{"metric":"spread","cpus":$cpus,"sf":"${sfDir.split('/').last}","noisy":$isNoisy,"host_disturbed":$hostDisturbed,"ratio":$ratio%.3f,"gc_sec":$gcSec%.1f,"heap_mb":$heapMb%.0f,"meta_mb":$metaMb%.0f,"sentinel_trips":${sentinelTrips(healed.toMap).map("\"" + _ + "\"").mkString("[", ",", "]")},"band_trips":${bandTripsObserved.map("\"" + _ + "\"").mkString("[", ",", "]")},"band_trips_healed":${bandTrips.map("\"" + _ + "\"").mkString("[", ",", "]")},"retry":$retryJson,"retry_sentinels":$retrySentinelJson,"stream":{"q25_stream_parity":$tParity%.3f,"stream_ingest":$tIngest%.3f},"spread":$spread}"""
    println(spreadLine)
    // Persist the full spread to a stable repo path every run: the
    // driver captures only the last 2000 stdout chars, so without this
    // file the per-query evidence that adjudicates a board anomaly
    // (real regression vs disturbed session) is lost with the session.
    // Overwritten per run; the round driver commits it with the round,
    // so the BOARD's own spread lands in git alongside BENCH_r{N}.json.
    java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_spread_last.json"),
      (spreadLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))

    val total = healed.map(_._2).filter(_ > 0).sum + tParity + tIngest
    // A still-red board at the bands' own SF carries the defensible
    // engine number alongside its raw total (see [[bandTotal]]) — the
    // stream-path pair is capped by its own band entries so a disturbed
    // streaming measurement cannot leak into the capped sum.
    // Emitted whenever the line flags trouble (noisy OR host_disturbed):
    // the contract is "when flagged, read band_total, not value", so the
    // field must exist in every flagged line. Off the bands' own SF the
    // map is empty and bandTotal degrades to the observed sum — no quiet
    // evidence exists to cap with, but the field still rides.
    val bandTotalSec =
      if (isNoisy || hostDisturbed)
        Some(bandTotal(healed.toMap ++ Map(
          "q25_stream_parity" -> tParity, "stream_ingest" -> tIngest), bands))
      else None
    println(driverLine(total,
      healed ++ Seq("q25_stream_parity" -> tParity, "stream_ingest" -> tIngest),
      sfDir, streamRowsPerSec, isNoisy, retried = allRetried,
      bandTotalSec = bandTotalSec, hostDisturbed = hostDisturbed))
    spark.stop()
  }
}
