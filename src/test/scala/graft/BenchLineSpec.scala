package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards the bench→driver output channel: the driver captures only the
  * last 2000 chars of stdout, so the final JSON line must stay under
  * [[Bench.DriverLineBudget]] for the FULL query surface — including
  * worst-case (wide) formatted times — or per-query perf data silently
  * disappears from the driver board (this happened in round 7 when the
  * spread map rode the final line).
  */
class BenchLineSpec extends AnyFunSuite {

  // 9.94 renders "9.9" — every fmt tier caps at 3 chars, and this value
  // exercises the widest (1-dp) tier rather than the 2-char "99" or the
  // saturating "999" renders.
  private def fullSurface: Seq[(String, Double)] =
    (SparkEntry.queries.keys.filterNot(_ == "q25_stream_batch_parity").toSeq.sorted
      :+ "q25_stream_parity" :+ "stream_ingest").map(_ -> 9.94)

  test("driver line fits the tail-capture budget at the full query surface") {
    // 9.94 s per query formats at worst-case width, so a pass here
    // means any real bench line is shorter still. The retried list is
    // at its worst case too: BenchRetryMax keys, all 3-digit numbers
    // (the widest shortKey render), plus the noisy flag.
    val worstRetried = fullSurface.map(_._1)
      .filter(_.drop(1).takeWhile(_.isDigit).length >= 3)
      .take(Bench.BenchRetryMax)
      .padTo(Bench.BenchRetryMax, "q999_pad")
    // worst case carries every optional annotation at once: a noisy,
    // host-disturbed, max-retried board with a band_total
    val line = Bench.driverLine(9999.99, fullSurface,
      "/root/testdata/sf0.1", 999999.0, isNoisy = true,
      retried = worstRetried,
      bandTotalSec = Some(9999.9), hostDisturbed = true)
    assert(line.length <= Bench.DriverLineBudget)
    assert(line.contains("\"retried\":["))
    assert(line.startsWith("{\"metric\":\"total\""))
    assert(line.endsWith("}"))
    // The queries map must actually be on the line (that's what r07 lost).
    assert(line.contains("\"queries\":{"))
    assert(line.contains("\"1\":"), "zero-pad-stripped keys present")
    assert(line.contains("\"s\":"), "stream ingest key present")
    // key shortening must not collide (query numbers are unique by naming
    // convention; this guards a future q65_a/q65_b mistake — and the
    // zero-pad strip must not alias "01" with a future "1")
    val shortKeys = fullSurface.map(p => Bench.shortKey(p._1))
    assert(shortKeys.distinct.size == shortKeys.size)
  }

  test("driver line is valid single-line JSON shape") {
    val line = Bench.driverLine(1.23, Seq("q01" -> 0.5, "q02" -> -1.0),
      "/root/testdata/sf0.01", 48730.0)
    assert(!line.contains("\n"))
    assert(line.contains("\"2\":-1"), "failed queries stay visible as -1")
    assert(!line.contains("noisy"), "green canary stays off the line")
    val flagged = Bench.driverLine(1.23, Seq("q01" -> 0.5),
      "/root/testdata/sf0.01", 48730.0, isNoisy = true)
    assert(flagged.endsWith("\"noisy\":true}"), "red canary rides the line")
  }

  test("an over-budget line fails loudly instead of silently truncating") {
    // un-shortenable keys (no underscore, no q-prefix digits) survive
    // shortKey whole, so 100 of them overflow even the capped map
    val bloated = (1 to 100).map(i => s"averyveryverylongquerykeyname$i" -> 1.0)
    val e = intercept[IllegalArgumentException] {
      Bench.driverLine(1.0, bloated, "/root/testdata/sf0.1", 1.0)
    }
    assert(e.getMessage.contains("budget"))
  }

  test("capped map keeps the cost head, every failure, and stream keys") {
    val qs = (1 to 170).map(i => f"q$i%03d_x" -> i * 0.01) ++ Seq(
      "q171_fail" -> -1.0, "q25_stream_parity" -> 0.1, "stream_ingest" -> 0.2)
    val line = Bench.driverLine(100.0, qs, "/root/testdata/sf0.1", 1000.0)
    assert(line.contains("\"171\":-1"), "failed query always visible")
    assert(line.contains("\"25\":") && line.contains("\"s\":"),
      "stream keys always visible")
    assert(line.contains("\"170\":1.7"), "most expensive kept")
    assert(!line.contains("\"1\":0.0"), "cheapest dropped by the cap")
    assert(line.contains("\"nq\":173"), "surface size reported")
    // exactly BenchTopK + failures + stream keys entries
    val n = "\"[0-9s]+\":".r.findAllIn(line.drop(line.indexOf("queries"))).size
    assert(n == Bench.BenchTopK + 3)
  }

  // --- session-health canary: replayed against RECORDED profiles ---

  private val om = new com.fasterxml.jackson.databind.ObjectMapper()

  private def fields(node: com.fasterxml.jackson.databind.JsonNode): Iterator[String] =
    scala.jdk.CollectionConverters.IteratorHasAsScala(node.fieldNames()).asScala

  /** The spread line of a recorded file: the first line carrying a
    * "spread" map (older files hold the driver line too, and one carries
    * an sbt "[info] " prefix). */
  private def spreadNode(path: String): com.fasterxml.jackson.databind.JsonNode = {
    val src = scala.io.Source.fromFile(path)
    val line = try src.getLines().find(_.contains("\"spread\":{")).get
      finally src.close()
    om.readTree(line.substring(line.indexOf('{')))
  }

  /** minTimes map from a recorded spread file (full query names). */
  private def spreadMinTimes(path: String): Map[String, Double] = {
    val sp = spreadNode(path).get("spread")
    fields(sp).map(k =>
      k -> Bench.pairMin((sp.get(k).get(0).asDouble(), sp.get(k).get(1).asDouble())))
      .toMap
  }

  /** minTimes map from a recorded driver board's final line. The short
    * keys map back to full names; "25" and "s" are the stream paths,
    * which Bench times after its retry pass, so they are left out. */
  private def boardMinTimes(path: String): Map[String, Double] = {
    val tail = om.readTree(new java.io.File(path)).get("tail").asText()
    val line = tail.split('\n').find(_.contains("\"metric\":\"total\"")).get
    val qs = om.readTree(line.substring(line.indexOf('{'))).get("queries")
    val byShort = SparkEntry.queries.keys
      .filterNot(_ == "q25_stream_batch_parity").map(k => Bench.shortKey(k) -> k).toMap
    fields(qs).flatMap(s => byShort.get(s).map(_ -> qs.get(s).asDouble())).toMap
  }

  test("canary is GREEN on the quiet local profiles (r09 runJ/runL, r10 runA)") {
    val bands = Bench.loadQuietBands()
    for (p <- Seq("bench_local_r09_runJ.json", "bench_local_r09_runL.json",
        "bench_local_r10_runA.json")) {
      val mins = spreadMinTimes(p)
      val trips = Bench.quietBandTrips(mins, bands)
      assert(trips.size < Bench.QuietBandMinKeys, s"$p band trips $trips")
      assert(!Bench.noisy(mins, bands), s"$p must read green")
    }
  }

  test("canary is RED on the r10 driver board via the quiet-band check") {
    // The r10 board carried 26 keys at 2.4-9x quiet levels spanning
    // BOTH runs of each pair (q38: 5.36/5.07), so a run-to-run ratio
    // cannot see it. The committed per-key quiet bands catch it: 20
    // non-stream keys past 3x (vs 0-4 on every quiet session).
    // bench_board_r10.json is the round-10 board spread snapshotted to a
    // stable name (bench_spread_last.json is overwritten by every run).
    val bands = Bench.loadQuietBands()
    assert(bands.nonEmpty, "bench_quiet_bands.json missing or unparseable")
    val mins = spreadMinTimes("bench_board_r10.json")
    val trips = Bench.quietBandTrips(mins, bands)
    assert(trips.size >= Bench.QuietBandMinKeys,
      s"r10 board must trip the band check, got ${trips.size}: $trips")
    assert(Bench.noisy(mins, bands), "r10 board must read noisy")
  }

  test("quiet-bands file parses, has sane values, and names live queries") {
    val bands = Bench.loadQuietBands()
    assert(bands.size >= 200, s"bands cover ${bands.size} keys")
    // every band key must be a live query: a renamed/deleted query
    // leaves a stale band that silently checks nothing. The two
    // stream-path measurement keys (not in the queries map) are allowed:
    // they exist only to cap band_total, never to trip (stream-named).
    val surface = SparkEntry.queries.keySet - "q25_stream_batch_parity" +
      "q25_stream_parity" + "stream_ingest"
    val stale = bands.keySet -- surface
    assert(stale.isEmpty, s"stale band keys: ${stale.take(5)}")
    assert(bands.keySet("q25_stream_parity") && bands.keySet("stream_ingest"),
      "stream-path cap entries present")
    assert(bands.values.forall(v => v > 0 && v < 60), "bands in (0, 60) s")
    // a missing file degrades to an empty map (band arm off), never throws
    assert(Bench.loadQuietBands("no_such_file.json").isEmpty)
  }

  test("every band's provenance names the quiet run that produced it") {
    // VERDICT r12 #2 (refreshed again in r13 after the q50/q208 constant
    // cuts — stale-high bands weaken the 3x trip arm): bands derive from
    // the three r13 quiet runs; band_source pins WHICH run produced each
    // band, and this test re-derives each band from its named source
    // file — a band edited by hand (or a provenance gone stale after
    // the next refresh) fails here.
    val root = om.readTree(new java.io.File(Bench.QuietBandsFile))
    val bandsN = root.get("bands"); val srcN = root.get("band_source")
    assert(srcN != null, "band_source provenance map missing")
    val runs = Map(
      "runA" -> "bench_local_r13_runA.json",
      "runB" -> "bench_local_r13_runB.json",
      "runC" -> "bench_local_r13_runC.json",
      "runD" -> "bench_local_r13_runD.json")
    val loaded = runs.map { case (tag, p) =>
      val node = om.readTree(new java.io.File(p))
      val sp = node.get("spread")
      val mins = scala.jdk.CollectionConverters
        .IteratorHasAsScala(sp.fieldNames()).asScala.map { k =>
          k -> math.min(sp.get(k).get(0).asDouble(), sp.get(k).get(1).asDouble())
        }.toMap
      val stream = Seq("q25_stream_parity", "stream_ingest")
        .map(k => k -> node.get("stream").get(k).asDouble()).toMap
      tag -> (mins ++ stream)
    }
    val it = scala.jdk.CollectionConverters
      .IteratorHasAsScala(bandsN.fieldNames()).asScala
    it.foreach { k =>
      val band = bandsN.get(k).asDouble()
      val tag = srcN.get(k).asText()
      val sourceVal = loaded(tag)(k)
      assert(math.abs(band - sourceVal) < 5e-4,
        f"$k: band $band%.3f != $tag value $sourceVal%.3f")
      // and min-provenance: no other run's value is lower
      val allVals = loaded.values.flatMap(_.get(k)).filter(_ > 0)
      assert(band <= allVals.min + 5e-4, s"$k: band is not the min across runs")
    }
  }

  test("canary is RED on the r09 driver board's timing profile") {
    // The r09 board carried 25 keys at 2.2-15x their quiet level
    // (adjudicated as a driver-host disturbance, VERDICT r09). Replay
    // its driver line — only the 100 keys it shows, min times only:
    // the band table alone must flag the session.
    val bands = Bench.loadQuietBands()
    val mins = boardMinTimes("BENCH_r09.json")
    val trips = Bench.quietBandTrips(mins, bands)
    assert(trips.size >= Bench.QuietBandMinKeys, s"r09 band trips $trips")
    assert(Bench.noisy(mins, bands), "board profile must read noisy")
  }

  test("a single-operator regression does NOT trip the canary") {
    // one sentinel 10x over its band (a genuine code regression in one
    // file) with everything else quiet: session stays green — the
    // regression shows on the board as that key's own time instead.
    val bands = Bench.loadQuietBands()
    val bumped = spreadMinTimes("bench_local_r09_runJ.json")
      .updated("q119_transition_matrix", 18.0)
    assert(!Bench.noisy(bumped, bands))
    assert(Bench.retryKeys(bumped, bands).contains("q119_transition_matrix"),
      "the regressed key itself is re-timed")
  }

  test("persisted spread file parses and covers the full query surface") {
    // Written by every `runMain graft.Bench` (overwrite-per-run); the
    // round driver commits it with the round, so the BOARD's own
    // per-query raw runs land in git. Stale file (surface drift) fails
    // here: re-run a local bench after adding queries.
    val f = new java.io.File("bench_spread_last.json")
    assert(f.exists(), "bench_spread_last.json missing — run graft.Bench")
    val node = om.readTree(f)
    for (k <- Seq("metric", "cpus", "sf", "noisy", "stream", "spread",
        "band_trips", "band_trips_healed", "retry"))
      assert(node.has(k), s"spread file key $k")
    val keys = scala.jdk.CollectionConverters
      .IteratorHasAsScala(node.get("spread").fieldNames()).asScala.toSet
    val surface = SparkEntry.queries.keySet - "q25_stream_batch_parity"
    assert(keys == surface,
      s"spread file surface drift: missing=${(surface -- keys).take(5)} extra=${(keys -- surface).take(5)}")
    assert(node.get("stream").has("q25_stream_parity") &&
      node.get("stream").has("stream_ingest"))
  }

  test("quiet bands cover every stream-class key Bench times") {
    // a stream-class key without a band can never be re-timed, so a
    // disturbed reading of it ships as a fake regression (the r13 q116
    // case); the class is the name filter plus the explicit extras
    val bands = Bench.loadQuietBands()
    val expected = SparkEntry.queries.keySet.filter(Bench.isStreamClass) -
      "q25_stream_batch_parity"
    assert(expected.size >= 26 && expected("q126_transform_state"))
    val missing = expected -- bands.keySet
    assert(missing.isEmpty, s"stream-class keys without a band: $missing")
  }

  test("budget leaves headroom for sbt epilogue inside the 2000-char window") {
    // the epilogue after the line is `\n[success] Total time: NNN s
    // (H:MM:SS), completed <Month> <DD>, <YYYY>, <H>:<MM>:<SS> <AM|PM>\n`
    // — 84 chars at worst-case field widths (measured 73 in real bench
    // logs; runMain stdout carries no [info] prefix under -batch), plus
    // the line's own newline and a margin char.
    assert(Bench.DriverLineBudget <= 2000 - 84 - 1 - 1)
  }

  test("worst-case line leaves room for 15 more queries before the budget") {
    // forward headroom check: simulate the surface grown by the 15
    // queries the next round would ACTUALLY add — the successors of the
    // current max query number (self-updating as the surface grows) —
    // so round N+1 does not hit the guard on its first operator batch.
    val maxNum = SparkEntry.queries.keys
      .map(_.drop(1).takeWhile(_.isDigit).toInt).max
    val grown = fullSurface ++
      (1 to 15).map(i => s"q${maxNum + i}_future" -> 9.94)
    val line = Bench.driverLine(9999.99, grown,
      "/root/testdata/sf0.1", 999999.0, isNoisy = true,
      retried = Seq.fill(Bench.BenchRetryMax)("q999_pad"),
      bandTotalSec = Some(9999.9), hostDisturbed = true)
    assert(line.length <= Bench.DriverLineBudget)
  }

  // --- self-heal: replayed against the RECORDED r11 board ---

  test("self-heal names the r11 board's inflated keys and corrects the board") {
    // The r11 driver board (bench_board_r11.json — snapshotted from the
    // committed bench_spread_last.json) read 595.5 s noisy:true with 21
    // band trips; judge re-timing pinned every tripped key at quiet
    // levels (q124: 2.9 s vs the board's 131.8 s). Replay: the retry
    // plan must name those keys (most inflated first, inside the cap),
    // and healing them with the quiet runE times must turn the board
    // green with totals at quiet levels.
    val bands = Bench.loadQuietBands()
    val mins = spreadMinTimes("bench_board_r11.json")
    val observedTrips = Bench.quietBandTrips(mins, bands)
    assert(observedTrips.size >= Bench.QuietBandMinKeys,
      s"r11 board must trip the band check pre-heal, got $observedTrips")
    assert(Bench.noisy(mins, bands), "r11 board reads red pre-heal")

    val plan = Bench.retryKeys(mins, bands)
    assert(plan.nonEmpty &&
      plan.size <= Bench.BenchRetryMax + Bench.StreamRetryMax)
    assert(observedTrips.toSet.subsetOf(plan.toSet) ||
      plan.size == Bench.BenchRetryMax,
      "every observed trip is retried unless the cap binds")
    // most-inflated-first: the two headline keys (q201 79.7x its band,
    // q124 ~80x — 131.8 s vs ~1.6 s) lead the plan
    assert(plan.take(2).toSet ==
      Set("q124_embedding_cov", "q201_poisson_boot"),
      s"worst keys first, got ${plan.take(3)}")

    // transient disturbance: the retry run lands at quiet levels
    // (bench_local_r11_runE min-of-2 stands in for the re-measurement)
    val quietMins = spreadMinTimes("bench_local_r11_runE.json")
    val retryTimes = plan.flatMap(k => quietMins.get(k).map(k -> _)).toMap
    val healed = Bench.heal(mins.toSeq, retryTimes).toMap
    val healedTrips = Bench.quietBandTrips(healed, bands)
    assert(healedTrips.size < Bench.QuietBandMinKeys,
      s"healed board trips residue: $healedTrips")
    assert(!Bench.noisy(healed, bands), "healed r11 board must read green")
    // the healed totals land at quiet levels: the ~290 s of disturbance
    // concentrated in the retried keys is gone
    val delta = plan.map(k => mins(k) - healed(k)).sum
    assert(delta > 200, f"self-heal recovered only $delta%.1f s")
    // and the corrected line names the retried keys
    val line = Bench.driverLine(300.0, healed.toSeq,
      "/root/testdata/sf0.1", 60000.0, isNoisy = false, retried = plan)
    assert(line.contains("\"retried\":[") && line.contains("\"124\""))
    assert(!line.contains("noisy"))
  }

  test("r12 board: sustained disturbance yields a defensible band_total") {
    // The r12 driver board (bench_board_r12.json) is the failure mode
    // min-of-3 alone cannot fix: the disturbance moved INTO the retry
    // window (its recorded retry map reads q54 105.3 s vs the 1.14 s
    // quiet re-time), so healing with the SESSION'S OWN retries leaves
    // the board red at ~540 s where the quiet engine measures 280.5 s
    // (bench_local_r12_runC). The band_total emitted for exactly this
    // case must land within 10% of the CURRENT engine's quiet total
    // (the bands are r13 evidence, so the defensible number they yield
    // is the r13 engine — bench_local_r13_runC — not the slower r12
    // engine the board was contemporary with).
    val bands = Bench.loadQuietBands()
    val node = om.readTree(new java.io.File("bench_board_r12.json"))
    val mins = spreadMinTimes("bench_board_r12.json")
    val retryN = node.get("retry")
    val retries = scala.jdk.CollectionConverters
      .IteratorHasAsScala(retryN.fieldNames()).asScala
      .map(k => k -> retryN.get(k).asDouble()).toMap
    val healed = Bench.heal(mins.toSeq, retries).toMap
    val trips = Bench.quietBandTrips(healed, bands)
    assert(trips.size >= Bench.QuietBandMinKeys,
      s"r12 board must stay red after its own (hot) retries: $trips")
    assert(Bench.noisy(healed, bands))

    val stream = Seq("q25_stream_parity", "stream_ingest")
      .map(k => k -> node.get("stream").get(k).asDouble()).toMap
    val bt = Bench.bandTotal(healed ++ stream, bands)
    val quietC = {
      val c = om.readTree(new java.io.File("bench_local_r13_runC.json"))
      val sp = c.get("spread")
      val batch = scala.jdk.CollectionConverters
        .IteratorHasAsScala(sp.fieldNames()).asScala
        .map(k => math.min(sp.get(k).get(0).asDouble(), sp.get(k).get(1).asDouble()))
        .filter(_ > 0).sum
      batch + c.get("stream").get("q25_stream_parity").asDouble() +
        c.get("stream").get("stream_ingest").asDouble()
    }
    assert(math.abs(bt - quietC) / quietC <= 0.10,
      f"band_total $bt%.1f vs quiet runC total $quietC%.1f — off by " +
        f"${100 * math.abs(bt - quietC) / quietC}%.1f%%")
    // the raw healed board stays visibly wrong without the cap
    val healedTotal = healed.values.filter(_ > 0).sum + stream.values.sum
    assert(healedTotal > 1.5 * quietC,
      "precondition: the r12 board really is ~2x the engine")
    // and the driver line renders both annotations
    val line = Bench.driverLine(healedTotal, (healed ++ stream).toSeq,
      "/root/testdata/sf0.1", 2917.0, isNoisy = true,
      retried = retries.keys.toSeq, bandTotalSec = Some(bt),
      hostDisturbed = true)
    assert(line.contains("\"band_total\":") &&
      line.contains("\"host_disturbed\":true") && line.contains("\"noisy\":true"))
    assert(line.length <= Bench.DriverLineBudget)
  }

  test("retry-window sentinel bracket separates sustained from transient") {
    val bands = Bench.loadQuietBands()
    def hot(t03: Double, t42: Double, t200: Double): Boolean =
      Bench.retryWindowHot(Map("q03_filter_project" -> t03,
        "q42_stratified_mix" -> t42, "q200_weighted_sample" -> t200), bands)
    // all three hot -> sustained; one hot -> still a (healable) transient
    assert(hot(5.0, 4.0, 3.0))
    assert(!hot(5.0, 0.2, 0.1))
    assert(!Bench.retryWindowHot(Map.empty, bands))
    // a FAILED sentinel re-run (-1) must count as hot, not exonerate:
    // two failures alone flag the window even with the third quiet
    assert(hot(-1.0, -1.0, 0.1))
    // one failure + one hot is sustained too
    assert(hot(-1.0, 4.0, 0.1))
    // "hot" is the band trip rule: just past 3x the band, not just under
    def at(m: Double) = Bench.RetrySentinels.map(k => k -> m * bands(k)).toMap
    assert(Bench.retryWindowHot(at(Bench.QuietBandMult * 1.01), bands))
    assert(!Bench.retryWindowHot(at(Bench.QuietBandMult * 0.99), bands))
    // every retry sentinel must have a band and exist on the live surface
    Bench.RetrySentinels.foreach { k =>
      assert(bands.contains(k), s"$k has no quiet band")
      assert(SparkEntry.queries.contains(k), s"$k not a live query")
    }
  }

  test("bandTotal caps only above-band keys and skips failures") {
    val bands = Map("a" -> 1.0, "b" -> 2.0)
    val t = Bench.bandTotal(
      Map("a" -> 10.0, "b" -> 1.5, "c" -> 3.0, "d" -> -1.0), bands)
    // a capped at 1.0, b observed 1.5 (below band is kept), c no band
    // rides observed, d failed is skipped
    assert(math.abs(t - (1.0 + 1.5 + 3.0)) < 1e-9, s"got $t")
    // with NO bands (a non-sf0.1 run) it degrades to the observed sum —
    // the flagged-line contract "read band_total" still has a field to
    // read even when no quiet evidence exists to cap with
    val t2 = Bench.bandTotal(Map("a" -> 10.0, "b" -> 1.5), Map.empty)
    assert(math.abs(t2 - 11.5) < 1e-9, s"got $t2")
  }

  test("a sustained disturbance survives the retry and stays red") {
    // negative control: if the retry runs are ALSO inflated (a
    // disturbance spanning the whole session including the heal pass),
    // min-of-3 changes nothing and the board must remain noisy.
    val bands = Bench.loadQuietBands()
    val mins = spreadMinTimes("bench_board_r11.json")
    val plan = Bench.retryKeys(mins, bands)
    val stillInflated = plan.map(k => k -> mins(k)).toMap
    val healed = Bench.heal(mins.toSeq, stillInflated).toMap
    val trips = Bench.quietBandTrips(healed, bands)
    assert(trips.size >= Bench.QuietBandMinKeys)
    assert(Bench.noisy(healed, bands))
  }

  test("quiet profiles produce an empty (or near-empty) retry plan") {
    val bands = Bench.loadQuietBands()
    for (p <- Seq("bench_local_r09_runJ.json", "bench_local_r10_runA.json",
        "bench_local_r11_runE.json")) {
      val mins = spreadMinTimes(p)
      // quiet sessions trip 0-3 keys (runE trips 3: q228/q213/q232 sit
      // just past bands refreshed from a different session) — the heal
      // pass costs at most those few extra executions when quiet
      val plan = Bench.retryKeys(mins, bands)
      assert(plan.size <= 4, s"$p quiet retry plan too big: $plan")
    }
  }

  test("heal never resurrects a failure and never raises a time") {
    val results = Seq("a" -> 5.0, "b" -> -1.0, "c" -> 2.0)
    val healed = Bench.heal(results,
      Map("a" -> 1.0, "b" -> 0.5, "c" -> 9.0)).toMap
    assert(healed("a") == 1.0, "min-of-3 takes the retry when faster")
    assert(healed("b") == -1.0, "a failed query stays -1")
    assert(healed("c") == 2.0, "a slower retry changes nothing")
    val failedRetry = Bench.heal(Seq("a" -> 5.0), Map("a" -> -1.0)).toMap
    assert(failedRetry("a") == 5.0, "a failed retry changes nothing")
  }

  // --- stream-class keys: re-timed past 5x their band ---

  test("stream arm heals the r13 board's disturbed q116 and spares real swings") {
    // The r13 driver board shipped q116_stream_distinct at 31 s — 5.7x
    // its committed band (5.44 s), same-day 8-core re-read 3.9 s — as a
    // fake 0.52x regression. Stream-class keys never count toward the
    // verdict (their 2-5x per-trigger swing is legitimate) but are
    // re-timed past 5x their band.
    val bands = Bench.loadQuietBands()
    val mins = boardMinTimes("BENCH_r13.json")
    assert(mins("q116_stream_distinct") == 31.0, "board precondition")
    val plan = Bench.retryKeys(mins, bands)
    assert(plan == Seq("q116_stream_distinct"),
      s"exactly the disturbed stream key retries, got $plan")
    assert(!Bench.noisy(mins, bands), "a stream trip never reddens the board")
    // healing with the same-day re-measurement lands the key sane
    val healed = Bench.heal(mins.toSeq,
      Map("q116_stream_distinct" -> 3.9)).toMap
    assert(healed("q116_stream_distinct") <= 7.0, "q116 healed")
    // a genuine swing at 4.99x the band never trips, just past 5x does
    val q126 = bands("q126_transform_state")
    assert(Bench.retryKeys(Map("q126_transform_state" -> q126 * 4.99), bands).isEmpty)
    assert(Bench.retryKeys(Map("q126_transform_state" -> q126 * 5.01), bands)
      == Seq("q126_transform_state"))
    // a batch key at 4x its band retries where a stream key does not
    assert(Bench.retryKeys(Map("q124_embedding_cov" -> 4.0,
      "q116_stream_distinct" -> 4.0 * bands("q116_stream_distinct")),
      Map("q124_embedding_cov" -> 1.0,
        "q116_stream_distinct" -> bands("q116_stream_distinct")))
      == Seq("q124_embedding_cov"))
    // keys without a band never retry (nothing to heal toward)
    assert(Bench.retryKeys(Map("q999_stream_x" -> 100.0), bands).isEmpty)
    // the stream cap binds separately, most-inflated first, after the
    // batch keys
    val wide = (1 to 20).map(i => f"q$i%03d_stream_t" -> 1000.0 * i).toMap
    val unit = (1 to 20).map(i => f"q$i%03d_stream_t" -> 1.0).toMap
    val capped = Bench.retryKeys(wide + ("q124_embedding_cov" -> 10.0),
      unit + ("q124_embedding_cov" -> 1.0))
    assert(capped.size == 1 + Bench.StreamRetryMax)
    assert(capped.take(2) == Seq("q124_embedding_cov", "q020_stream_t"))
    // failed keys (-1) never retry
    assert(Bench.retryKeys(Map("q116_stream_distinct" -> -1.0), bands).isEmpty)
  }

  // --- every recorded board, replayed ---

  /** Per recorded file: noisy, host_disturbed (where the file records
    * retry-window times) and the retry set, as the rules stood while
    * Bench also ran a sentinel arm, a run-ratio arm and a stream floor
    * ledger. The band table alone must reproduce them, apart from
    * [[departures]]. */
  private val recorded: Seq[(String, Boolean, Option[Boolean], Set[String])] = Seq(
    ("bench_board_r10.json", true, None, Set("q26_embedding_dedup",
      "q134_packing_sweep", "q38_repetition", "q135_epoch_shards",
      "q34_approx_distinct", "q198_markov_power", "q136_curriculum",
      "q20_minhash_dedup", "q27_token_explode", "q210_ams_f2",
      "q33_rolling_hash", "q35_bucketed_join", "q29_range_join",
      "q32_bpe_tokens", "q39_frame_sample", "q199_kcore", "q37_tfidf",
      "q28_asof_join", "q40_ngram_jaccard", "q211_conformal_filter",
      "q133_bpe_merge_step", "q36_hash_split")),
    ("bench_board_r11.json", true, None, Set("q124_embedding_cov",
      "q201_poisson_boot", "q202_source_cusum", "q146_source_dup_matrix",
      "q78_timeline_anomaly", "q76_boilerplate_scrub", "q79_filtered_ann",
      "q228_para_contam", "q199_kcore", "q153_interp_resample",
      "q21_simhash_dedup", "q51_dup_ngram_stats", "q205_mixture_rebalance",
      "q125_pca_project", "q75_gap_fill", "q151_quantile_norm",
      "q214_unseen_vocab", "q55_bigram_lm", "q88_length_buckets",
      "q203_kmv_distinct", "q150_asof_nearest", "q87_cross_split_neardup",
      "q68_block_dedup", "q81_stream_anomaly", "q80_stream_cdc_merge",
      "q212_stream_ams")),
    ("bench_board_r12.json", true, None, Set("q147_vocab_growth",
      "q190_contam_spans", "q191_dsir_select", "q193_pagerank",
      "q211_conformal_filter", "q187_token_waterfill", "q102_decay_features",
      "q93_typed_sessions", "q52_incremental_dedup", "q194_countmin",
      "q05_range_window_filter", "q111_cohort_retention",
      "q101_zorder_layout", "q109_skew_profile", "q07_pct_histogram",
      "q99_temperature_mix", "q192_fp_neardup", "q20_minhash_dedup",
      "q01_sliding_window_agg", "q103_skyline", "q146_source_dup_matrix",
      "q57_approx_quantiles", "q26_embedding_dedup", "q06_broadcast_enrich",
      "q106_stream_observe", "q141_stream_timer_sessions")),
    ("bench_local_r07_runA.json", false, None, Set()),
    ("bench_local_r07_runB.json", false, None, Set()),
    ("bench_local_r08_runD.json", false, None, Set("q65_diversity_stats",
      "q26_embedding_dedup", "q46_dedup_components", "q50_semdedup",
      "q11_set_ops")),
    ("bench_local_r08_runE.json", false, None, Set("q26_embedding_dedup")),
    ("bench_local_r08_runF.json", false, None, Set("q26_embedding_dedup")),
    ("bench_local_r08_runG.json", true, None, Set("q48_quantize_stats",
      "q47_kmeans_cluster", "q46_dedup_components", "q01_sliding_window_agg",
      "q26_embedding_dedup")),
    ("bench_local_r08_runH.json", true, None, Set("q47_kmeans_cluster",
      "q43_sequence_pack", "q40_ngram_jaccard", "q26_embedding_dedup",
      "q39_frame_sample", "q41_decontamination")),
    ("bench_local_r08_runI.json", false, None, Set("q26_embedding_dedup")),
    ("bench_local_r08_runJ.json", false, None, Set("q26_embedding_dedup")),
    ("bench_local_r08_runK.json", false, None, Set()),
    ("bench_local_r08_runL.json", false, None, Set()),
    ("bench_local_r08_runM.json", false, None, Set("q26_embedding_dedup")),
    ("bench_local_r08_runN.json", false, None, Set()),
    ("bench_local_r09_runJ.json", false, None, Set("q26_embedding_dedup")),
    ("bench_local_r09_runK.json", false, None, Set("q26_embedding_dedup")),
    ("bench_local_r09_runL.json", false, None, Set()),
    ("bench_local_r09_runM.json", false, None, Set("q26_embedding_dedup")),
    ("bench_local_r10_runA.json", false, None, Set()),
    ("bench_local_r11_runA.json", false, None, Set("q26_embedding_dedup",
      "q137_stream_quota")),
    ("bench_local_r11_runB.json", false, None, Set()),
    ("bench_local_r11_runC.json", false, None, Set("q192_fp_neardup",
      "q188_dedup_sweep", "q191_dsir_select", "q26_embedding_dedup")),
    ("bench_local_r11_runD.json", false, None, Set("q26_embedding_dedup")),
    ("bench_local_r11_runE.json", false, None, Set("q213_t_closeness",
      "q228_para_contam", "q26_embedding_dedup")),
    ("bench_local_r12_runA.json", true, None, Set("q226_image_header",
      "q225_herding", "q224_woe_audit", "q228_para_contam",
      "q26_embedding_dedup", "q229_audio_probe")),
    ("bench_local_r12_runB.json", false, None, Set("q26_embedding_dedup",
      "q198_markov_power", "q111_cohort_retention", "q106_stream_observe")),
    ("bench_local_r12_runC.json", false, None, Set("q26_embedding_dedup",
      "q250_ccf")),
    ("bench_local_r13_runA.json", false, None, Set("q26_embedding_dedup",
      "q106_stream_observe")),
    ("bench_local_r13_runB.json", false, None, Set("q118_pareto_share")),
    ("bench_local_r13_runC.json", false, None, Set()),
    ("bench_local_r13_runD.json", false, None, Set()),
    ("bench_local_r13_runE.json", false, Some(false), Set("q225_herding",
      "q201_poisson_boot", "q226_image_header", "q202_source_cusum")),
    ("bench_local_r13_runF.json", false, None, Set()),
    ("bench_local_r13_runH.json", false, Some(false), Set(
      "q226_image_header")),
    ("bench_local_r13_runI.json", false, Some(false), Set(
      "q87_cross_split_neardup", "q88_length_buckets")),
    ("bench_local_r13_runJ.json", false, Some(false), Set("q68_block_dedup",
      "q67_upsample_mix")),
    ("bench_local_r14_runA.json", false, None, Set()),
    // the r14 8-core board's spread: every Bench run overwrites this
    // file, so its row is refreshed when a new board is committed
    ("bench_spread_last.json", false, None, Set()),
    ("BENCH_r09.json", true, None, Set("q125_pca_project",
      "q124_embedding_cov", "q120_grouped_median", "q172_curation_funnel",
      "q170_source_jsd", "q26_embedding_dedup", "q149_bm25",
      "q153_interp_resample", "q154_weighted_median", "q150_asof_nearest",
      "q147_vocab_growth", "q11_set_ops", "q171_winnow_fp",
      "q181_assoc_rules", "q138_itemset_pairs", "q155_interevent_stats",
      "q119_transition_matrix")),
    ("BENCH_r10.json", true, None, Set("q26_embedding_dedup",
      "q134_packing_sweep", "q38_repetition", "q135_epoch_shards",
      "q34_approx_distinct", "q198_markov_power", "q20_minhash_dedup",
      "q136_curriculum", "q210_ams_f2", "q27_token_explode",
      "q35_bucketed_join", "q29_range_join", "q32_bpe_tokens", "q199_kcore",
      "q37_tfidf", "q40_ngram_jaccard", "q28_asof_join",
      "q211_conformal_filter")),
    ("BENCH_r11.json", true, None, Set("q124_embedding_cov",
      "q201_poisson_boot", "q202_source_cusum", "q78_timeline_anomaly",
      "q146_source_dup_matrix", "q76_boilerplate_scrub", "q79_filtered_ann",
      "q228_para_contam", "q199_kcore", "q153_interp_resample",
      "q21_simhash_dedup", "q51_dup_ngram_stats", "q205_mixture_rebalance",
      "q125_pca_project", "q75_gap_fill", "q151_quantile_norm",
      "q214_unseen_vocab", "q55_bigram_lm", "q203_kmv_distinct",
      "q150_asof_nearest", "q87_cross_split_neardup", "q81_stream_anomaly",
      "q80_stream_cdc_merge", "q212_stream_ams")),
    ("BENCH_r12.json", true, None, Set("q211_conformal_filter",
      "q102_decay_features", "q93_typed_sessions", "q190_contam_spans",
      "q147_vocab_growth", "q187_token_waterfill", "q111_cohort_retention",
      "q101_zorder_layout", "q109_skew_profile", "q191_dsir_select",
      "q20_minhash_dedup", "q192_fp_neardup", "q01_sliding_window_agg",
      "q146_source_dup_matrix", "q26_embedding_dedup", "q113_weighted_sample",
      "q153_interp_resample", "q06_broadcast_enrich", "q188_dedup_sweep",
      "q52_incremental_dedup", "q53_ann_ivf_pq", "q193_pagerank",
      "q210_ams_f2", "q197_assortativity", "q106_stream_observe",
      "q141_stream_timer_sessions")),
    ("BENCH_r13.json", false, None, Set()),
    ("BENCH_r14.json", false, None, Set()))

  /** Where the band table departs from the ledger it replaced: keys
    * gained, keys lost. */
  private val departures: Map[String, (Set[String], Set[String])] = Map(
    // q116 read 31.0 s: past 5x its band (5.44 s); the ledger floor had
    // drifted to 6.488 s and let it ship unretried
    "BENCH_r13.json" -> (Set("q116_stream_distinct"), Set()),
    // q106 read 12.1 s: inside 5x its band (3.489 s). The ledger's
    // 2.173 s floor was re-measured after the r14 rewrite of q106, which
    // these two runs predate.
    "bench_local_r12_runB.json" -> (Set(), Set("q106_stream_observe")),
    "bench_local_r13_runA.json" -> (Set(), Set("q106_stream_observe")),
    // q11 read 0.982 s on the round-8 engine: past the retired 0.90 s
    // sentinel band, inside 3x its band (1.017 s)
    "bench_local_r08_runD.json" -> (Set(), Set("q11_set_ops")))

  test("every recorded board keeps its verdict, retry set and retry-window reading") {
    val bands = Bench.loadQuietBands()
    val spreadFiles = new java.io.File(".").listFiles().map(_.getName)
      .filter(n => n.startsWith("bench_local_") || n.startsWith("bench_board_") ||
        n == "bench_spread_last.json")
      .filter { n =>
        val src = scala.io.Source.fromFile(n)
        try src.getLines().exists(_.contains("\"spread\":{")) finally src.close()
      }.toSet
    assert(recorded.map(_._1).filter(_.startsWith("bench_")).toSet == spreadFiles,
      "a recorded spread file is missing from the table")
    for ((f, noisy, hostDisturbed, retried) <- recorded) {
      val mins = if (f.startsWith("BENCH_")) boardMinTimes(f) else spreadMinTimes(f)
      assert(Bench.noisy(mins, bands) == noisy, s"$f noisy")
      val (gained, lost) = departures.getOrElse(f, (Set.empty[String], Set.empty[String]))
      val plan = Bench.retryKeys(mins, bands)
      assert(plan.size == plan.toSet.size, s"$f retries a key twice")
      assert(plan.toSet == retried ++ gained -- lost, s"$f retry set")
      val window =
        if (f.startsWith("BENCH_")) None
        else Option(spreadNode(f).get("retry_sentinels")).filter(_.size > 0)
          .map(n => fields(n).map(k => k -> n.get(k).asDouble()).toMap)
      assert(window.map(Bench.retryWindowHot(_, bands)) == hostDisturbed,
        s"$f host_disturbed")
    }
  }

  test("driver line fits with BOTH retry arms at their caps") {
    val maxNum = SparkEntry.queries.keys
      .map(_.drop(1).takeWhile(_.isDigit).toInt).max
    val grown = fullSurface ++
      (1 to 15).map(i => s"q${maxNum + i}_future" -> 9.94)
    val retried = Seq.fill(Bench.BenchRetryMax)("q999_pad") ++
      Seq.fill(Bench.StreamRetryMax)("q998_pad")
    val line = Bench.driverLine(9999.99, grown,
      "/root/testdata/sf0.1", 999999.0, isNoisy = true,
      retried = retried, bandTotalSec = Some(9999.9),
      hostDisturbed = true)
    assert(line.length <= Bench.DriverLineBudget)
  }
}
