package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._

import graft.functions.{GraftExtensions, ImageHeader, WavHeader}
import graft.functions.GraftFunctions._

/** Every graft function, kernel by kernel, over one fixed frame read
  * through a real parquet scan (a local relation would constant-fold the
  * call): whole-stage codegen equals interpreted eval, SQL `graft_*`
  * equals the Column API, and two builds from equal constants are
  * semantically equal. */
class KernelParitySpec extends SparkSpec {

  private val planes = Seq.tabulate(6, 4)((p, i) => if ((p + i) % 3 == 0) 1.0 else -0.5)
  private val cents = Seq(Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.5, 0.0),
    Seq(-1.0, 0.2, 0.0, 1.0))
  // m = 2 subspaces of 2 dims, K = 4 codewords, 2 bits a code
  private val books = Seq.tabulate(2, 4, 2)((s, c, j) => (s + 1) * (c - 1.5) + j)
  private val stop = Seq("the", "a")

  private def hex(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
  // a minimal PNG IHDR (64x48) and a minimal 48 kHz stereo 16-bit WAV
  private val pngBytes = hex("89504E470D0A1A0A0000000D49484452" +
    "00000040000000300806000000" + "00000000")
  private val wavBytes = hex("524946462400000057415645666D7420" +
    "100000000100020080BB000000EE02000400100064617461E8030000")

  /** NULL input, NULL elements, empty arrays, a length mismatch, float
    * and double arrays, in one row per id. */
  private lazy val frame: DataFrame = {
    val s = spark
    import s.implicits._
    val rows = Seq(
      (1L, Some(Seq(0.5f, -1.0f, 2.0f, 0.25f)), Some(Seq(0.5, -1.0, 2.0, 0.25)),
        Some(2.0), Some(pngBytes), Some("martha"), Some("marhta"),
        Some(Seq(1L, 2L, 3L)), Some(Seq(2L, 3L, 4L)),
        Some(Seq("the", "cat", "the", "cat")), 6L, Some(Seq.tabulate(8)(_ * 0.5)), 3.0),
      (2L, Some(Seq(-0.5f, 1.5f, -2.0f, 1.0f)), Some(Seq(-0.5, 1.5, -2.0, 1.0)),
        Some(1.0), Some(wavBytes), Some("dixon"), Some("dicksonx"),
        Some(Seq(1L, 1L, 5L)), Some(Seq.empty[Long]),
        Some(Seq("a", "b")), -1L, Some(Seq(1.0, 2.0)), 150.0),
      (3L, Some(Seq(1.0f, 2.0f, 3.0f)), Some(Seq(1.0, 2.0, 3.0)),
        None, Some("not an image".getBytes), Some(""), Some("abc"),
        Some(Seq.empty[Long]), Some(Seq.empty[Long]),
        Some(Seq.empty[String]), 0L, Some(Seq.empty[Double]), 7.0),
      (4L, Some(Seq.empty[Float]), Some(Seq.empty[Double]),
        Some(0.0), Some(Array.empty[Byte]), Some("héllo 𐍈"), None,
        None, Some(Seq(7L)),
        None, 15L, None, 2500.0),
      (5L, None, None, None, None, None, Some("x"),
        Some(Seq(9L)), None, Some(Seq("x")), 2L, Some(Seq.fill(8)(1.0)), 40.0))
    val plain = rows.toDF("id", "vf", "vd", "norm", "bytes", "s1", "s2",
      "h1", "h2", "toks", "code", "lut", "v")
    // NULL elements inside otherwise well-formed arrays
    val nulls = Seq(6L).toDF("id").select(col("id"),
      expr("array(CAST(1.0 AS FLOAT), NULL, CAST(2.0 AS FLOAT), CAST(0.5 AS FLOAT))").as("vf"),
      expr("array(1.0D, NULL, 2.0D, 0.5D)").as("vd"), lit(1.0).as("norm"),
      lit(null).cast("binary").as("bytes"), lit("a").as("s1"), lit("a").as("s2"),
      expr("array(1L, NULL, 3L)").as("h1"), expr("array(1L)").as("h2"),
      expr("array('the', NULL)").as("toks"), lit(1L).as("code"),
      expr("array(1.0D, NULL, 1.0D, 1.0D, 1.0D, 1.0D, 1.0D, 1.0D)").as("lut"),
      lit(null).cast("double").as("v"))
    val dir = java.nio.file.Files.createTempDirectory("kernelparity")
    plain.unionByName(nulls).write.mode("overwrite").parquet(dir.toString)
    spark.read.parquet(dir.toString)
  }

  /** Every function: name, Column build, SQL text (None: Column API only). */
  private def cases: Seq[(String, Column, Option[String])] = {
    spark // tensors broadcast through the active session
    val planesSql = planes.map(_.map(d => s"${d}D").mkString("array(", ",", ")"))
      .mkString("array(", ",", ")")
    Seq(
      ("dot", dot(col("vd"), col("vd")), Some("graft_dot(vd, vd)")),
      ("dot_mixed", dot(col("vf"), col("vd")), Some("graft_dot(vf, vd)")),
      ("buckets_f", hyperplaneBuckets(col("vf"), planes, 2),
        Some(s"graft_hyperplane_buckets(vf, $planesSql, 2)")),
      ("buckets_d", hyperplaneBuckets(col("vd"), planes, 2),
        Some(s"graft_hyperplane_buckets(vd, $planesSql, 2)")),
      ("probes", hyperplaneBucketProbes(col("vd"), planes, 2, 3), None),
      ("cents_f", centroidScores(col("vf"), col("norm"), cents), None),
      ("cents_d", centroidScores(col("vd"), col("norm"), cents), None),
      ("jaccard", sortedHashJaccard(col("h1"), col("h2")),
        Some("graft_sorted_hash_jaccard(h1, h2)")),
      ("simhash", simHash64(col("h1")), Some("graft_simhash64(h1)")),
      ("rolling", rollingHash(col("s1")), Some("graft_rolling_hash(s1)")),
      ("image", imageHeader(col("bytes")), Some("graft_image_header(bytes)")),
      ("wav", wavHeader(col("bytes")), Some("graft_wav_header(bytes)")),
      ("utf8", utf8Audit(col("bytes")), Some("graft_utf8_audit(bytes)")),
      ("mp4", mp4Mvhd(col("bytes")), Some("graft_mp4_mvhd(bytes)")),
      ("flac", flacStreaminfo(col("bytes")), Some("graft_flac_streaminfo(bytes)")),
      ("ebml", ebmlHeader(col("bytes")), Some("graft_ebml_header(bytes)")),
      ("jw", jaroWinkler(col("s1"), col("s2")), Some("graft_jaro_winkler(s1, s2)")),
      ("rules", tokenRuleStats(col("toks"), stop),
        Some("graft_token_rule_stats(toks, array('the', 'a'))")),
      ("pq_encode", pqEncode(col("vd"), books, 2), None),
      ("pq_lut", pqLut(col("vf"), books), None),
      ("pq_adc", pqAdcScore(col("code"), col("lut"), 2, 2, 4), None),
      ("unit_f", unitNormalize(col("vf")), None),
      ("unit_d", unitNormalize(col("vd")), None),
      ("mix", neighborMix(col("vf"), 0.1), None))
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq

  private def interpreted[T](body: => T): T = {
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), "false")
    spark.conf.set(keys(1), "NO_CODEGEN")
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("every kernel: whole-stage codegen equals interpreted eval") {
    val percentiles = (f: DataFrame) => f.groupBy((col("id") % 2).as("g"))
      .agg(pct(col("v"), 90, leveldbScale90).as("p90")).orderBy("g")
    val all = cases.map { case (name, c, _) =>
      (name, () => frame.select(col("id"), c.as("out")).orderBy("id"))
    } :+ ("pct", () => percentiles(frame))
    all.foreach { case (name, df) =>
      val codegen = df()
      val compiled = rows(codegen)
      assert(compiled.length >= 2, name)
      // the starred prefix is the whole-stage-codegen marker of the
      // projection that calls the kernel
      assert(name == "pct" || codegen.queryExecution.executedPlan.toString
        .linesIterator.exists(l => l.contains("*(") && l.contains(" AS out#")),
        s"$name ran outside whole-stage codegen")
      assert(interpreted(rows(df())) == compiled, name)
    }
  }

  test("every SQL graft_* function equals its Column API build") {
    GraftExtensions.register(spark)
    frame.createOrReplaceTempView("kernel_parity_v")
    cases.collect { case (name, c, Some(sql)) =>
      val viaSql = rows(spark.sql(
        s"SELECT id, $sql AS out FROM kernel_parity_v ORDER BY id"))
      assert(viaSql == rows(frame.select(col("id"), c.as("out")).orderBy("id")), name)
    }
    val viaSql = rows(spark.sql(
      """SELECT id % 2 AS g, graft_pct_result(graft_pct_hist(v), 90) AS p90
        |FROM kernel_parity_v GROUP BY id % 2 ORDER BY g""".stripMargin))
    assert(viaSql == rows(frame.groupBy((col("id") % 2).as("g"))
      .agg(pct(col("v"), 90, leveldbScale90).as("p90")).orderBy("g")))
    // the SQL path covers every registered name
    assert(cases.flatMap(_._3).map(_.takeWhile(_ != '(')).toSet ++
      Set("graft_pct_hist", "graft_pct_result") ==
      GraftExtensions.expressions.map(_._1.funcName).toSet)
  }

  private def resolved(c: Column): Expression =
    frame.select(c).queryExecution.analyzed.asInstanceOf[Project]
      .projectList.head match {
        case a: Alias => a.child
        case e => e
      }

  test("two builds from equal constants are semantically equal") {
    def copyOf(m: Seq[Seq[Double]]) = m.map(r => Seq(r: _*))
    val same: Seq[(String, Column, Column)] = Seq(
      ("planes", hyperplaneBuckets(col("vd"), planes, 2),
        hyperplaneBuckets(col("vd"), copyOf(planes), 2)),
      ("stopwords", tokenRuleStats(col("toks"), stop),
        tokenRuleStats(col("toks"), stop.map(w => new String(w)))),
      ("centroid tensor", centroidScores(col("vf"), col("norm"), cents),
        centroidScores(col("vf"), col("norm"), copyOf(cents))),
      ("codebook tensor", pqEncode(col("vd"), books, 2),
        pqEncode(col("vd"), books.map(copyOf), 2)))
    same.foreach { case (what, a, b) =>
      assert(resolved(a).semanticEquals(resolved(b)), what)
    }
    val other = planes.updated(0, planes(0).map(_ + 1.0))
    assert(!resolved(hyperplaneBuckets(col("vd"), planes, 2))
      .semanticEquals(resolved(hyperplaneBuckets(col("vd"), other, 2))))
    assert(!resolved(tokenRuleStats(col("toks"), stop))
      .semanticEquals(resolved(tokenRuleStats(col("toks"), Seq("the")))))
  }

  test("31 bits a table is rejected: bucket ids would alias past bit 30") {
    val e = intercept[IllegalArgumentException] {
      hyperplaneBucketProbes(col("vd"), Seq.fill(31)(Seq(1.0, 0.0, 0.0, 0.0)), 31, 1)
    }
    assert(e.getMessage.contains("bitsPerTable must be in [1, 30]"))
  }

  test("the fixed frame exercises real kernel output, not just NULLs") {
    val r = frame.select(col("id"), imageHeader(col("bytes")), wavHeader(col("bytes")))
      .orderBy("id").head()
    assert(r.getLong(1) == ImageHeader.pack(ImageHeader.FmtPng, 64, 48))
    assert(frame.select(wavHeader(col("bytes"))).collect().map(_.get(0))
      .contains(WavHeader.pack(48000L, 2L, 16L, 1000L)))
  }
}
