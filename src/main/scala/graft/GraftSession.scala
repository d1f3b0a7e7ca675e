package graft

import org.apache.spark.sql.SparkSession

/** The one local session shape every graft main and the test suite run
  * on: `local[cores]`, shuffle partitions = cores, AQE on, UTC session
  * time zone, UI off, log level WARN. */
object GraftSession {
  /** `SPARK_GRAFT_CPUS`, else the host's processor count. */
  val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cores: Int = GraftSession.cores,
      extra: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(extra)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
