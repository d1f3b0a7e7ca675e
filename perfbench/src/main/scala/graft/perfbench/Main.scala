package graft.perfbench

import java.io.File
import java.nio.file.Files

object Out {
  def writeSpans(ctx: Ctx, workload: String, json: String): Unit = {
    ctx.out.mkdirs()
    Files.writeString(new File(ctx.out, s"spans-$workload-seed${ctx.seed}.json").toPath, json)
  }

  /** The result line: the verdict and each measured value by name.
    * run.py adds the units from BENCHMARK.json and reports every metric
    * listed there that the run did not measure as 0. */
  def line(o: Outcome, trace: Boolean): String = {
    val values = (if (trace) o.layers else o.e2e).toSeq.sortBy(_._1).map { case (name, v) =>
      require(!v.isNaN && !v.isInfinite, s"$name is $v")
      s""""$name": $v"""
    }
    s"""{"correct": ${o.failed == 0}, "attempted": ${o.attempted}, "failed": ${o.failed}, """ +
      s""""values": {${values.mkString(", ")}}}"""
  }
}

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --data <sf dir> --work <scratch dir> --out <dir>`, or `--record <dir>
  * --data <sf dir> --work <scratch dir>` to print the digest of every key
  * output that graft.Verify dumped into <dir>. The result is the last
  * stdout line. Every argument is required; run.py passes them all. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String): String =
      opt.getOrElse(k, throw new IllegalArgumentException(s"missing argument --$k"))
    val cpus = Runtime.getRuntime.availableProcessors
    val line = opt.get("record") match {
      case Some(dir) =>
        val work = new File(arg("work"))
        record(Ctx(cpus, 0L, 0.0, trace = false, work, arg("data"), work), dir)
      case None =>
        val ctx = Ctx(cpus, arg("seed").toLong, arg("seconds").toDouble, arg("trace") == "1",
          new File(arg("work")), arg("data"), new File(arg("out")))
        val outcome = arg("workload") match {
          case "stream_drain" => Drain.run(ctx)
          case "batch_head" => Batch.run(ctx)
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        }
        Out.line(outcome, ctx.trace)
    }
    org.apache.spark.sql.SparkSession.getActiveSession.foreach(_.stop())
    println(line)
    System.out.flush()
    sys.exit(0) // no straggling non-daemon thread may keep the run alive
  }

  private def record(ctx: Ctx, dir: String): String = {
    val spark = Session.build(ctx, ctx.cpus)
    (Batch.Keys :+ Batch.AdmissionKey).map { k =>
      s"$k\t${Digest.of(spark.read.parquet(s"$dir/$k").collect())}"
    }.mkString("\n")
  }
}
