package graft

/** Times named SparkEntry queries on the Bench session shape (noop sink
  * through [[Bench.materialize]], one warm-up run, then warm min-of-N in
  * one JVM, cache cleared after every run) for quick per-key A/Bs across
  * checkouts. A failed run aborts the probe.
  *
  * Usage: Test/runMain graft.QProbe <sfDir> <reps> <name>[,<name>...]
  */
object QProbe {
  def main(args: Array[String]): Unit = {
    val (sfDir, reps, names) = (args(0), args(1).toInt, args(2).split(",").toSeq)
    val unknown = names.toSet -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(",")}")
    val spark = GraftSession.local()
    def time(n: String): Double = {
      val t = Bench.materialize(spark, sfDir, n)
      spark.sharedState.cacheManager.clearCache()
      require(t >= 0, s"$n failed (see the [bench] line above)")
      t
    }
    names.foreach(time) // warm the scan paths once per query
    val mins = names.map { n =>
      val ts = (1 to reps).map(_ => time(n))
      println(f"[qprobe] $n%-28s min ${ts.min}%6.2f s  (${ts.map(t => f"$t%.2f").mkString("/")})")
      n -> ts.min
    }
    println("[qprobe] total-of-mins %.2f s".format(mins.map(_._2).sum))
    spark.stop()
  }
}
