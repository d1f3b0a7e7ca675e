package graft

import org.apache.spark.sql.execution.FormattedMode
import java.nio.file.{Files, Paths}

/** Plan-evidence dump: writes `.explain("formatted")` output for the named
  * SparkEntry queries to `<outDir>/<name>.txt`, on the Bench session
  * shape ([[GraftSession]]). A stream key's returned frame is its drained
  * result, so its last micro-batch plan (recorded by the replay harness)
  * also goes to `<outDir>/<name>.stream.txt`. Used to produce the committed
  * `plans/rNN/<query>_{before,after}.txt` artifacts so plan claims
  * (Exchange count, join strategy, PushedFilters) are checkable without
  * running Spark.
  *
  * Usage: runMain graft.Plans <sfDir> <outDir> [q name,names|all]
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val names: Seq[String] =
      if (args.length > 2 && args(2) != "all") args(2).split(",").toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val unknown = names.toSet -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(",")}")
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    // A query that fails to plan, or a stream key that records no stream
    // plan, must FAIL the tool (ADVICE r13): the committed plans/
    // evidence must never silently omit an artifact.
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    val streamPlans = graft.streaming.StreamParity.lastStreamPlans
    names.foreach { name =>
      try {
        streamPlans.remove(name)
        val df = SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(FormattedMode)
        Files.writeString(Paths.get(s"$outDir/$name.txt"), txt)
        println(s"[plans] wrote $name (${txt.length} chars)")
        Option(streamPlans.get(name)) match {
          case Some(plan) =>
            Files.writeString(Paths.get(s"$outDir/$name.stream.txt"), plan)
            println(s"[plans] wrote $name stream plan (${plan.length} chars)")
          case None if Bench.isStreamClass(name) =>
            sys.error("no stream plan recorded")
          case None => ()
        }
      } catch { case e: Throwable =>
        failed += name
        System.err.println(s"[plans] $name failed: ${e.getMessage}")
      }
      spark.sharedState.cacheManager.clearCache()
    }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[plans] ${failed.size} queries produced no " +
        s"plan file or no stream plan file: ${failed.mkString(",")}")
      sys.exit(1)
    }
  }
}
