package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.GraftFunctions.{exactSum, exactSumOfStates, exactSumState}
import graft.operators.Relational.dsum

/** `exactSum` against its reference, Spark's own
  * `sum(cast(x as decimal(25,6)))`: the same type and value per group,
  * bit-identical `dsum` doubles, the same NULL or error on NaN and ±Inf
  * under either ANSI setting, and an error past the fixed-point range —
  * in whole-stage codegen and interpreted. */
class ExactSumSpec extends SparkSpec {

  private val reference = DecimalType(25, 6)

  /** Run `body` with each of the two execution modes. */
  private def inBothModes(body: String => Unit): Unit =
    Seq("codegen" -> Map.empty[String, String],
      "interpreted" -> Map("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
      .foreach { case (mode, confs) => withConfs(confs)(body(mode)) }

  private def withConfs[T](confs: Map[String, String])(body: => T): T = {
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def frame(rows: Seq[(Long, java.lang.Double)]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (g, x) => Row(g, x) }, 4),
      StructType(Seq(StructField("g", LongType), StructField("x", DoubleType))))

  /** Per group: (reference decimal, exactSum decimal, reference dsum
    * double, dsum double). */
  private def compared(df: DataFrame): Seq[Row] =
    df.groupBy(col("g"))
      .agg(sum(col("x").cast(reference)).as("ref"), exactSum(col("x")).as("got"),
        sum(col("x").cast(reference)).cast("double").as("refd"),
        dsum(col("x")).as("gotd"))
      .orderBy("g").collect().toSeq

  private def assertSame(df: DataFrame, mode: String): Unit = {
    val rows = compared(df)
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val g = r.getLong(0)
      val (ref, got) = (r.getDecimal(1), r.getDecimal(2))
      assert((ref == null) === (got == null), s"$mode: null-ness of group $g")
      if (ref != null) assert(ref.compareTo(got) == 0, s"$mode: group $g: $got != $ref")
      if (!r.isNullAt(3)) assert(java.lang.Double.doubleToRawLongBits(r.getDouble(3)) ===
        java.lang.Double.doubleToRawLongBits(r.getDouble(4)), s"$mode: dsum of group $g")
      else assert(r.isNullAt(4), s"$mode: dsum of group $g")
    }
  }

  /** Ties on the sixth decimal, signed zeros, subnormals, the fast
    * path's edge at 2^52 micro-units and the magnitudes past it, NULL. */
  private val crafted: Seq[java.lang.Double] = {
    val ties = (0 until 200).flatMap { i =>
      val t = i * 1.3e-3 + 5e-7
      Seq(t, -t, i + 5e-7, -(i + 5e-7), i * 1e-6 + 5e-7, 1e3 * i + 0.0000005)
    }
    val edge = 4503599627370496.0 / 1e6
    val magnitudes = Seq(edge, edge * (1 - 1e-15), edge * (1 + 1e-15), 1e10 + 0.5e-6,
      9.0e12, 9.0e12 + 0.5, 9.3e12, 1e13 + 0.123456789, 1e15 + 0.25,
      123456789012345.67, 2e17, 9.99e18, -9.99e18, -4.5e12 - 0.0000005)
    val odd = Seq(0.0, -0.0, java.lang.Double.MIN_VALUE, -java.lang.Double.MIN_VALUE,
      java.lang.Double.MIN_NORMAL, 2.2250738585072014E-308 / 3, 4.9e-7, 5e-7, -5e-7,
      5.000000000000001e-7, 4.999999999999999e-7, 0.1 + 0.2, 1.0000005, 2.5e-6)
    (ties ++ magnitudes ++ odd).map(d => java.lang.Double.valueOf(d)) :+ null
  }

  /** 100k seeded doubles of mixed shapes over 1,000 groups. */
  private val random: Seq[(Long, java.lang.Double)] = {
    val rnd = new scala.util.Random(20261019L)
    (0 until 100000).map { i =>
      val x: java.lang.Double = rnd.nextInt(10) match {
        case 0 => null
        case 1 => rnd.nextDouble() * 1e6
        case 2 => math.round(rnd.nextDouble() * 1e9) / 1e6 // six places
        case 3 => math.round(rnd.nextGaussian() * 1e7) / 1e7 + 5e-7 // near ties
        case 4 => (rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(26) - 12)
        case 5 => -rnd.nextDouble() * 1e3
        case _ => math.round(rnd.nextDouble() * 1e5) / 100.0
      }
      (i % 1000L, x)
    }
  }

  test("exactSum equals the decimal(25,6) sum on 100k random doubles") {
    val df = frame(random)
    inBothModes(mode => assertSame(df, mode))
  }

  test("exactSum equals the decimal(25,6) sum on crafted edge values, per row and per group") {
    val perRow = crafted.zipWithIndex.map { case (x, i) => (i.toLong, x) }
    val grouped = crafted.zipWithIndex.map { case (x, i) => (1000000L + i % 7, x) }
    val df = frame(perRow ++ grouped ++ Seq((2000000L, null), (2000000L, null)))
    inBothModes(mode => assertSame(df, mode))
  }

  test("a group of only NULLs sums to NULL; the state path merges to the one-level sum") {
    val df = frame(random.take(20000) ++ Seq((5000L, null)))
    val direct = df.groupBy(col("g")).agg(exactSum(col("x")).as("s"))
    inBothModes { mode =>
      val twoLevel = df.groupBy(col("g"), (col("x") * 1000).cast("long") % 3)
        .agg(exactSumState(col("x")).as("st"))
        .groupBy(col("g")).agg(exactSumOfStates(col("st")).as("s"))
      val (a, b) = (direct.orderBy("g").collect().toSeq, twoLevel.orderBy("g").collect().toSeq)
      assert(a === b, mode)
      assert(a.find(_.getLong(0) == 5000L).exists(_.isNullAt(1)), mode)
    }
  }

  test("NaN, ±Inf and out-of-range values give the reference's NULL or error under ANSI on and off") {
    val specials = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      1e19, -1e20)
    for (ansi <- Seq("true", "false"); x <- specials)
      withConfs(Map("spark.sql.ansi.enabled" -> ansi)) {
        val df = frame(Seq((0L, java.lang.Double.valueOf(x)), (0L, 1.5), (1L, 2.5)))
        inBothModes { mode =>
          // the columns are built under the setting, as a query builds them
          val ref = scala.util.Try(df.groupBy(col("g"))
            .agg(sum(col("x").cast(reference)).as("s")).orderBy("g").collect().toSeq)
          val got = scala.util.Try(df.groupBy(col("g"))
            .agg(exactSum(col("x")).as("s")).orderBy("g").collect().toSeq)
          val what = s"x=$x ansi=$ansi $mode: $ref vs $got"
          assert(ref.isSuccess === got.isSuccess, what)
          if (ref.isSuccess) assert(ref.get === got.get, what)
          // the setting is in effect: out-of-range fails only under ANSI
          if (x == 1e19) assert(ref.isSuccess === (ansi == "false"), what)
        }
      }
  }

  test("sums stay exact past 1e20 and fail at the fixed-point bound") {
    val near = frame(Seq.fill(13)((0L, java.lang.Double.valueOf(9.5e18))) ++
      Seq.fill(13)((0L, java.lang.Double.valueOf(-1e-6))))
    val past = frame(Seq.fill(17)((0L, java.lang.Double.valueOf(9.5e18))))
    inBothModes { mode =>
      assertSame(near, mode)
      assert(near.agg(exactSum(col("x"))).head().getDecimal(0)
        .compareTo(new java.math.BigDecimal("123499999999999999999.999987")) == 0, mode)
      val e = intercept[Exception](past.groupBy(col("g")).agg(exactSum(col("x"))).collect())
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      assert(causes.exists(c => String.valueOf(c.getMessage).contains("graft_exact_sum overflow")),
        s"$mode: $e")
    }
  }

  test("a stream checkpoint written with the decimal sum does not restore under exactSum") {
    // the aggregation state holds the buffer, and the buffer changed from
    // one decimal(35,6) to two longs: Spark's state schema check refuses
    // the old checkpoint instead of misreading it
    import org.apache.spark.sql.streaming.Trigger
    val dir = java.nio.file.Files.createTempDirectory("exact-sum-ckpt")
    val (in, ckpt) = (dir.resolve("in").toString, dir.resolve("ckpt").toString)
    def batch(from: Long): Unit = spark.range(from, from + 10)
      .select((col("id") % 2).as("k"), (col("id") * 0.25).as("x"))
      .write.mode("append").parquet(in)
    def run(total: org.apache.spark.sql.Column) = spark.readStream
      .schema("k long, x double").parquet(in)
      .groupBy(col("k")).agg(total.as("s"))
      .writeStream.format("noop").outputMode("update")
      .option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow()).start()
    try {
      batch(0)
      run(sum(col("x").cast(reference))).awaitTermination()
      batch(10)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        run(exactSum(col("x"))).awaitTermination())
      assert(e.getMessage.contains("STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE"), e.getMessage)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }
}
