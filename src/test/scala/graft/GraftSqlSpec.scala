package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.functions._

import graft.functions.{GraftExtensions, GraftFunctions}

/** SQL-callable graft functions: the SparkSessionExtensions injection list
  * and the live-session registration path. */
class GraftSqlSpec extends SparkSpec {

  test("GraftExtensions applies cleanly to a SparkSessionExtensions") {
    new GraftExtensions().apply(new SparkSessionExtensions)
    assert(GraftExtensions.expressions.map(_._1.funcName) ==
      Seq("graft_dot", "graft_pct_result", "graft_pct_hist",
        "graft_hyperplane_buckets",
        "graft_sorted_hash_jaccard", "graft_simhash64", "graft_rolling_hash",
        "graft_image_header", "graft_wav_header", "graft_utf8_audit",
        "graft_mp4_mvhd", "graft_flac_streaminfo", "graft_jaro_winkler",
        "graft_ebml_header", "graft_token_rule_stats"))
  }

  test("graft_utf8_audit in SQL classifies a mixed corrupted blob") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      // "aé" + overlong NUL (C0 80) + lone continuation (80): 2 valid,
      // 1 overlong, 1 bad — through the SQL registration path
      """SELECT graft_utf8_audit(unhex('61C3A9C08080')) AS p"""
    ).head().getLong(0)
    assert((r >> 32, (r >> 24) & 255, r & 255) == ((2L, 1L, 1L)))
  }

  test("utf8 audit stays inside whole-stage codegen through a real scan") {
    import spark.implicits._
    // through a real scan: a local relation would constant-fold the
    // projection at plan time and bypass the generated code entirely
    val blobs: Seq[Array[Byte]] = Seq(
      "plain ascii".getBytes("UTF-8"),
      "mixé € 𐍈".getBytes("UTF-8"),
      Array[Byte](0xC0.toByte, 0x80.toByte, 0x41, 0xFF.toByte),
      Array.empty[Byte])
    val dir = java.nio.file.Files.createTempDirectory("utf8audit")
    blobs.zipWithIndex.map { case (b, i) => (i.toLong, b) }.toDF("i", "blob")
      .write.mode("overwrite").parquet(dir.toString)
    val df = spark.read.parquet(dir.toString).orderBy("i")
      .select(GraftFunctions.utf8Audit(col("blob")).as("p"))
    assert(df.collect().map(_.getLong(0)).toSeq ==
      blobs.map(graft.functions.Utf8Audit.parse))
    val plan = df.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[static_invoke\(graft\.functions\.Utf8Audit\.parse""".r
      .findFirstIn(plan).isDefined,
      plan)
  }

  test("graft_sorted_hash_jaccard in SQL matches set Jaccard semantics") {
    GraftExtensions.register(spark)
    val rows = spark.sql(
      """SELECT graft_sorted_hash_jaccard(array(1L, 2L, 3L), array(2L, 3L, 4L)) AS half,
        |       graft_sorted_hash_jaccard(array(1L, 1L, 2L), array(1L, 2L)) AS dup_ones,
        |       graft_sorted_hash_jaccard(CAST(array() AS array<bigint>),
        |                                 CAST(array() AS array<bigint>)) AS empty""".stripMargin)
      .collect()
    rows.foreach { r =>
      assert(r.getDouble(0) === 0.5)  // {1,2,3} vs {2,3,4}: 2/4
      assert(r.getDouble(1) === 1.0)  // duplicates collapse: {1,2} vs {1,2}
      assert(r.getDouble(2) === 0.0)
    }
  }

  test("graft_simhash64 in SQL equals the Column API") {
    GraftExtensions.register(spark)
    Tables.documents(spark, sf).createOrReplaceTempView("docs_sh_v")
    val viaSql = spark.sql(
      """SELECT doc_id,
        |       graft_simhash64(transform(split(trim(text), ' +'),
        |                                 t -> xxhash64(t))) AS s
        |FROM docs_sh_v ORDER BY doc_id""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val viaCol = Tables.documents(spark, sf)
      .select(col("doc_id"), GraftFunctions.simHash64(
        expr("transform(split(trim(text), ' +'), t -> xxhash64(t))")).as("s"))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(viaSql == viaCol && viaSql.nonEmpty)
  }

  test("graft_token_rule_stats in SQL equals the Column API") {
    GraftExtensions.register(spark)
    Tables.documents(spark, sf).createOrReplaceTempView("docs_trs_v")
    val viaSql = spark.sql(
      """SELECT doc_id,
        |       graft_token_rule_stats(split(lower(trim(text)), ' +'),
        |                              array('the','a','and','of','in','to')) AS st
        |FROM docs_trs_v ORDER BY doc_id""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getStruct(1).toString)).toSeq
    val viaCol = Tables.documents(spark, sf)
      .select(col("doc_id"), GraftFunctions.tokenRuleStats(
        split(lower(trim(col("text"))), " +"),
        graft.operators.TextAnalysis.stopwords).as("st"))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getStruct(1).toString)).toSeq
    assert(viaSql == viaCol && viaSql.nonEmpty)
  }

  test("media probe kernels in SQL equal the shared parse methods") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      // a minimal real PNG IHDR (64x48), a minimal WAV, a minimal MP4
      """SELECT graft_image_header(unhex(concat(
        |         '89504E470D0A1A0A', '0000000D', '49484452',
        |         '00000040', '00000030', '0806000000', '00000000'))) AS png,
        |       graft_wav_header(unhex(concat(
        |         '52494646', '24000000', '57415645',
        |         '666D7420', '10000000', '0100', '0200', '80BB0000',
        |         '00EE0200', '0400', '1000',
        |         '64617461', 'E8030000'))) AS wav,
        |       graft_mp4_mvhd(unhex(concat(
        |         '00000074', '6D6F6F76',
        |         '0000006C', '6D766864', '00000000',
        |         '00000000', '00000000', '00000258', '00001000',
        |         repeat('00', 80)))) AS mp4,
        |       graft_flac_streaminfo(unhex(concat(
        |         '664C6143', '80', '000022', '10001000',
        |         '000000000000', '0BB800F0000003E8',
        |         repeat('AB', 16)))) AS flac,
        |       graft_ebml_header(unhex(concat(
        |         '1A45DFA3', '8F',
        |         '428681', '01',
        |         '4282', '84', '7765626D',
        |         '428781', '02'))) AS ebml,
        |       graft_image_header(CAST('not an image' AS BINARY)) AS junk
        |""".stripMargin).head()
    assert(r.getLong(0) ==
      graft.functions.ImageHeader.pack(graft.functions.ImageHeader.FmtPng, 64, 48))
    assert(r.getLong(1) == graft.functions.WavHeader.pack(48000L, 2L, 16L, 1000L))
    assert(r.getLong(2) == graft.functions.Mp4Mvhd.pack(600L, 4096L))
    // 48 kHz mono 16-bit, 1000 samples, sub-byte fields crossing bytes
    assert(r.getLong(3) ==
      graft.functions.FlacStreaminfo.pack(48000L, 1L, 16L, 1000L))
    // webm DocType, EBMLVersion 1, DocTypeVersion 2, 20 header bytes
    assert(r.getLong(4) == graft.functions.EbmlHeader.pack(
      graft.functions.EbmlHeader.DocWebm, 1L, 2L, 20L))
    assert(r.getLong(5) == graft.functions.ImageHeader.FmtUnknown)
  }

  test("graft_rolling_hash in SQL equals the Column API") {
    GraftExtensions.register(spark)
    Tables.documents(spark, sf).createOrReplaceTempView("docs_rh_v")
    val viaSql = spark.sql(
      "SELECT doc_id, graft_rolling_hash(text) AS h FROM docs_rh_v ORDER BY doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val viaCol = Tables.documents(spark, sf)
      .select(col("doc_id"), GraftFunctions.rollingHash(col("text")).as("h"))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(viaSql == viaCol && viaSql.nonEmpty)
  }

  test("graft_hyperplane_buckets in SQL equals the Column API") {
    GraftExtensions.register(spark)
    Tables.embeddings(spark, sf).createOrReplaceTempView("emb_hb_v")
    val planes = Seq.tabulate(4, 64)((p, i) => if (i % (p + 2) == 0) 1.0 else -0.5)
    val planesSql = planes
      .map(_.map(d => s"${d}D").mkString("array(", ",", ")"))
      .mkString("array(", ",", ")")
    val viaSql = spark.sql(
      s"""SELECT vec_id, graft_hyperplane_buckets(embedding, $planesSql, 2) AS b
         |FROM emb_hb_v ORDER BY vec_id LIMIT 20""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1))
    val viaCol = Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        GraftFunctions.hyperplaneBuckets(col("embedding"), planes, 2).as("b"))
      .orderBy("vec_id").limit(20)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1))
    assert(viaSql.toSeq == viaCol.toSeq)
    assert(viaSql.forall(_._2.length == 2))
  }

  test("graft_dot in SQL equals the Column API dot") {
    GraftExtensions.register(spark)
    Tables.embeddings(spark, sf).createOrReplaceTempView("emb_v")
    val viaSql = spark.sql(
      "SELECT vec_id, graft_dot(embedding, embedding) AS d FROM emb_v ORDER BY vec_id")
    val viaCol = Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        GraftFunctions.dot(col("embedding"), col("embedding")).as("d"))
      .orderBy("vec_id")
    assert(viaSql.collect().toSeq == viaCol.collect().toSeq)
  }

  test("graft_pct_hist + graft_pct_result in SQL equals the q07 operator") {
    GraftExtensions.register(spark)
    Tables.events(spark, sf).createOrReplaceTempView("events_v")
    val viaSql = spark.sql(
      """SELECT event_type, COUNT(*) AS cnt,
        |       graft_pct_result(graft_pct_hist(value), 90) AS p90,
        |       graft_pct_result(graft_pct_hist(value), 99) AS p99
        |FROM events_v GROUP BY event_type ORDER BY event_type""".stripMargin)
    val viaOp = graft.operators.Percentiles.q07PctHistogram(spark, sf)
    assert(viaSql.collect().toSeq == viaOp.collect().toSeq)
  }

  test("a session built with the spark.sql.extensions conf resolves graft_pct_hist") {
    org.apache.spark.sql.graftbridge.ExtensionConfSession.withSession(
        spark, classOf[GraftExtensions].getName) { s =>
      assert(s ne spark)
      // {1, 2, 300}: pos = max(1, trunc(3 * 0.1)) = 1, the top value's bucket
      val p90 = s.sql(
        """SELECT graft_pct_result(graft_pct_hist(v), 90) AS p90
          |FROM VALUES (1), (2), (300) AS t(v)""".stripMargin).head().getDouble(0)
      assert(p90 === 300.0)
    }
  }

  test("graft_dot arity errors surface at analysis") {
    GraftExtensions.register(spark)
    Tables.embeddings(spark, sf).createOrReplaceTempView("emb_v")
    val e = intercept[Exception] {
      spark.sql("SELECT graft_dot(embedding) FROM emb_v").collect()
    }
    assert(e.getMessage.contains("2 arguments"))
  }
}
