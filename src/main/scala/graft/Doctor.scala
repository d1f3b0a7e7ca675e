package graft

/** Board adjudication as one command — the committed form of the
  * BASELINE.md prose protocol ("red canary ⇒ adjudicate from spread")
  * that three consecutive disturbed driver boards (r09/r10/r11) forced
  * each round's judge to perform by hand.
  *
  * Given a board/spread JSON (the `{"metric":"spread",...}` line Bench
  * persists as bench_spread_last.json and the round driver commits) and
  * the committed quiet bands, print the per-key adjudication table —
  * key, board min-of-2, quiet band, inflation ratio, verdict — plus the
  * session-level canary verdict, exactly as Bench computes it.
  *
  * Usage:
  *   sbt "runMain graft.Doctor bench_board_r11.json"
  *   sbt "runMain graft.Doctor bench_board_r11.json --retime /root/testdata/sf0.1"
  *
  * `--retime` re-runs the tripped keys on THIS machine (warm min-of-2,
  * same session config as Bench) and prints the healed verdict — the
  * judge's re-timing flow, mechanized. Run it on a quiet host: re-timing
  * on a disturbed one just reproduces the disturbance.
  */
object Doctor {

  /** One adjudication row. `band` is None for keys with no committed
    * quiet band (new queries before a band refresh); stream-named keys
    * carry their band for reference but are never TRIPPED (the
    * per-trigger floor class legitimately swings 2-5x — see
    * stream_floor_ledger.json). */
  final case class Row(key: String, min: Double, band: Option[Double],
      inflation: Option[Double], verdict: String)

  def loadSpread(path: String): Seq[(String, (Double, Double))] = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.readTree(new java.io.File(path)).get("spread")
    require(node != null, s"$path has no \"spread\" field — not a spread/board file")
    scala.jdk.CollectionConverters.IteratorHasAsScala(node.fieldNames())
      .asScala.map { k =>
        val a = node.get(k)
        k -> (a.get(0).asDouble(), a.get(1).asDouble())
      }.toSeq
  }

  /** The full table, most inflated first. Verdicts: TRIPPED (past
    * [[Bench.QuietBandMult]]x its band), stream (excluded from the band
    * arm), no-band, FAILED (-1), ok. Pure — DoctorSpec replays the
    * committed r10/r11 boards through it. */
  def adjudicate(spread: Seq[(String, (Double, Double))],
      bands: Map[String, Double]): Seq[Row] =
    spread.map { case (k, (a, b)) =>
      val m = if (a < 0 || b < 0) -1.0 else math.min(a, b)
      val band = bands.get(k)
      val infl = band.collect { case bd if m > 0 && bd > 0 => m / bd }
      val verdict =
        if (m < 0) "FAILED"
        else if (Bench.isStreamClass(k)) "stream"
        else if (band.isEmpty) "no-band"
        else if (m > Bench.QuietBandMult * band.get) "TRIPPED"
        else "ok"
      Row(k, m, band, infl, verdict)
    }.sortBy(r => (-r.inflation.getOrElse(0.0), r.key))

  /** Session verdict string from the same arms Bench's canary uses. */
  def sessionVerdict(rows: Seq[Row], ratio: Double): String = {
    val mins = rows.map(r => r.key -> r.min).toMap
    val trips = rows.filter(_.verdict == "TRIPPED").map(_.key)
    val arms = Seq(
      if (Bench.sentinelTrips(mins).size >= 2)
        Some(s"sentinels ${Bench.sentinelTrips(mins).mkString(",")}") else None,
      if (ratio > 2.2) Some(f"run-ratio median $ratio%.2f > 2.2") else None,
      if (trips.size >= Bench.QuietBandMinKeys)
        Some(s"${trips.size} band trips") else None).flatten
    if (arms.isEmpty) "QUIET — treat per-key times as real"
    else s"DISTURBED (${arms.mkString("; ")}) — adjudicate tripped keys " +
      "from a quiet re-timing before believing any >2x reading"
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Doctor <spread.json> [--retime <sfDir>]")
    val spread = loadSpread(args(0))
    val bands = Bench.loadQuietBands()
    require(bands.nonEmpty, "bench_quiet_bands.json missing — run from the repo root")
    val rows = adjudicate(spread, bands)
    val ratio = Bench.medianRunRatio(spread)

    println(f"${"key"}%-34s ${"min"}%8s ${"band"}%8s ${"x"}%7s verdict")
    rows.foreach { r =>
      val bandS = r.band.map(b => f"$b%8.2f").getOrElse("       -")
      val inflS = r.inflation.map(x => f"$x%7.1f").getOrElse("      -")
      println(f"${r.key}%-34s ${r.min}%8.2f $bandS $inflS ${r.verdict}")
    }
    val trips = rows.filter(_.verdict == "TRIPPED")
    println()
    println(f"keys=${rows.size} tripped=${trips.size} ratio=$ratio%.3f")
    println(s"session: ${sessionVerdict(rows, ratio)}")

    if (args.length >= 3 && args(1) == "--retime") {
      val sfDir = args(2)
      val spark = GraftSession.local()
      println()
      println(s"re-timing ${trips.size} tripped keys (warm min-of-2) at $sfDir:")
      val retimed = trips.map { r =>
        // warm-up: JIT + page cache, same as Bench's steady state
        Bench.materialize(spark, sfDir, r.key)
        val t1 = Bench.materialize(spark, sfDir, r.key)
        val t2 = Bench.materialize(spark, sfDir, r.key)
        val t = if (t1 < 0 || t2 < 0) -1.0 else math.min(t1, t2)
        spark.sharedState.cacheManager.clearCache()
        // a failed re-timing exonerates nothing — name it, don't let
        // -1 < band read as "quiet" (ADVICE r12)
        val v = if (t < 0) "FAILED re-time — inconclusive, re-run by hand"
        else if (r.band.exists(b => t > Bench.QuietBandMult * b))
          "STILL TRIPPED — treat as a real regression" else "quiet — board reading was disturbance"
        println(f"${r.key}%-34s board ${r.min}%8.2f  retimed $t%8.2f  $v")
        r.key -> t
      }.toMap
      val healed = Bench.heal(rows.map(r => r.key -> r.min), retimed)
      val healedTrips = Bench.quietBandTrips(healed.toMap, bands)
      println(f"healed band trips: ${healedTrips.size} ${healedTrips.mkString(",")}")
      spark.stop()
    }
  }
}
