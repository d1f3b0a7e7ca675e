package graft

/** Board adjudication as one command: Bench's own verdict, printed per
  * key, for any committed board or spread file.
  *
  * Given a board/spread JSON (the `{"metric":"spread",...}` line Bench
  * persists as bench_spread_last.json and the round driver commits) and
  * the committed quiet bands, print the per-key table — key, board
  * min-of-2, quiet band, inflation ratio, verdict — plus the session
  * verdict. Every verdict comes from Bench's trip rule and verdict, so
  * the two cannot drift apart.
  *
  * Usage:
  *   sbt "runMain graft.Doctor bench_board_r11.json"
  *   sbt "runMain graft.Doctor bench_board_r11.json --retime /root/testdata/sf0.1"
  *
  * `--retime` runs Bench's warm-up and then Bench's retry pass over the
  * keys Bench would retry (stream keys included) on THIS machine, and
  * prints the healed verdict. Run it on a quiet host: re-timing on a
  * disturbed one just reproduces the disturbance.
  */
object Doctor {

  /** One adjudication row. `band` is None for keys with no committed
    * quiet band (new queries before a band refresh). */
  final case class Row(key: String, min: Double, band: Option[Double],
      inflation: Option[Double], verdict: String)

  def loadSpread(path: String): Seq[(String, (Double, Double))] = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.readTree(new java.io.File(path)).get("spread")
    require(node != null, s"$path has no \"spread\" field: not a spread/board file")
    scala.jdk.CollectionConverters.IteratorHasAsScala(node.fieldNames())
      .asScala.map { k =>
        val a = node.get(k)
        k -> (a.get(0).asDouble(), a.get(1).asDouble())
      }.toSeq
  }

  def minTimes(spread: Seq[(String, (Double, Double))]): Map[String, Double] =
    spread.map { case (k, p) => k -> Bench.pairMin(p) }.toMap

  /** The full table, most inflated first. Verdicts: FAILED (-1), TRIPPED
    * ([[Bench.trips]]: past 3x its band, 5x for a stream-class key),
    * no-band, stream (a stream-class key inside its 5x), ok. Pure —
    * DoctorSpec replays the committed boards through it. */
  def adjudicate(spread: Seq[(String, (Double, Double))],
      bands: Map[String, Double]): Seq[Row] =
    minTimes(spread).toSeq.map { case (k, m) =>
      val verdict =
        if (m < 0) "FAILED"
        else if (Bench.trips(k, m, bands)) "TRIPPED"
        else if (!bands.contains(k)) "no-band"
        else if (Bench.isStreamClass(k)) "stream"
        else "ok"
      Row(k, m, bands.get(k), Bench.inflation(k, m, bands), verdict)
    }.sortBy(r => (-r.inflation.getOrElse(0.0), r.key))

  /** Bench's session verdict, in words. */
  def sessionVerdict(minTimes: Map[String, Double],
      bands: Map[String, Double]): String =
    if (!Bench.noisy(minTimes, bands)) "QUIET: treat per-key times as real"
    else s"DISTURBED (${Bench.quietBandTrips(minTimes, bands).size} band " +
      "trips): adjudicate tripped keys from a quiet re-timing before " +
      "believing any >2x reading"

  /** The printed table, a blank line, the counts and the session verdict. */
  def report(spread: Seq[(String, (Double, Double))],
      bands: Map[String, Double]): Seq[String] = {
    val rows = adjudicate(spread, bands)
    val table = rows.map { r =>
      val bandS = r.band.map(b => f"$b%8.2f").getOrElse("       -")
      val inflS = r.inflation.map(x => f"$x%7.1f").getOrElse("      -")
      f"${r.key}%-34s ${r.min}%8.2f $bandS $inflS ${r.verdict}"
    }
    (f"${"key"}%-34s ${"min"}%8s ${"band"}%8s ${"x"}%7s verdict" +: table) ++
      Seq("", s"keys=${rows.size} tripped=${rows.count(_.verdict == "TRIPPED")}",
        s"session: ${sessionVerdict(minTimes(spread), bands)}")
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Doctor <spread.json> [--retime <sfDir>]")
    val spread = loadSpread(args(0))
    val bands = Bench.loadQuietBands()
    require(bands.nonEmpty, "bench_quiet_bands.json missing: run from the repo root")
    val mins = minTimes(spread)
    report(spread, bands).foreach(println)

    if (args.length >= 3 && args(1) == "--retime") {
      val sfDir = args(2)
      val spark = GraftSession.local()
      val keys = Bench.retryKeys(mins, bands)
      println()
      println(s"re-timing ${keys.size} tripped keys (warm min-of-2) at $sfDir:")
      Bench.warmUp(spark, sfDir)
      val retimed = Bench.retryPass(spark, sfDir, keys)
      keys.foreach { k =>
        val t = retimed(k)
        // a failed re-timing exonerates nothing — name it, don't let
        // -1 < band read as "quiet"
        val v = if (t < 0) "FAILED re-time: inconclusive, re-run by hand"
        else if (Bench.trips(k, t, bands))
          "STILL TRIPPED: treat as a real regression" else "quiet: board reading was disturbance"
        println(f"$k%-34s board ${mins(k)}%8.2f  retimed $t%8.2f  $v")
      }
      println(s"healed session: ${sessionVerdict(Bench.heal(mins.toSeq, retimed).toMap, bands)}")
      spark.stop()
    }
  }
}
