package graft

import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.{cosine, dot}

/** Native DotProduct expression: bit-parity with the higher-order-function
  * formulation it replaced, across codegen and interpreted paths. */
class VectorSpec extends SparkSpec {

  private val foldDot =
    """aggregate(zip_with(embedding, embedding,
      |  (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
      |  CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin

  test("dot is bit-identical to the sequential aggregate(zip_with) fold") {
    val rows = Tables.embeddings(spark, sf)
      .select(
        dot(col("embedding"), col("embedding")).as("native"),
        expr(foldDot).as("fold"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("dot handles mixed float/double element types") {
    val out = Tables.embeddings(spark, sf).limit(5)
      .withColumn("ones", expr(
        "transform(sequence(1, size(embedding)), i -> CAST(1.0 AS DOUBLE))"))
      .select(
        dot(col("embedding"), col("ones")).as("d"),
        expr("""aggregate(transform(embedding, x -> CAST(x AS DOUBLE)),
               |  CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin).as("s"))
      .collect()
    out.foreach(r => assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
      java.lang.Double.doubleToLongBits(r.getDouble(1))))
  }

  test("dot rejects non-array inputs at analysis") {
    val e = intercept[Exception] {
      Tables.embeddings(spark, sf)
        .select(dot(col("vec_id"), col("embedding"))).collect()
    }
    assert(e.getMessage.toLowerCase.contains("dot expects"))
  }

  test("dot returns NULL on length mismatch or null elements (fold parity)") {
    val df = Tables.embeddings(spark, sf).limit(1)
      .select(
        dot(col("embedding"), expr("slice(embedding, 1, 3)")).as("mismatch"),
        dot(expr("CAST(array(1.0, NULL) AS array<double>)"),
          expr("CAST(array(1.0, 2.0) AS array<double>)")).as("withnull"),
        expr("""aggregate(zip_with(CAST(array(1.0, NULL) AS array<double>),
               |                   CAST(array(1.0, 2.0) AS array<double>),
               |                   (x, y) -> x * y),
               |  CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin).as("foldnull"))
      .collect()
    df.foreach { r =>
      assert(r.isNullAt(0), "length mismatch must yield NULL")
      assert(r.isNullAt(1), "null element must yield NULL")
      assert(r.isNullAt(2), "(fold reference also NULL)")
    }
  }

  test("cosine of a vector with itself is 1") {
    val rows = Tables.embeddings(spark, sf).limit(20)
      .select(cosine(col("embedding"), col("embedding")).as("c")).collect()
    rows.foreach(r => assert(math.abs(r.getDouble(0) - 1.0) < 1e-9))
  }

  test("hyperplaneBuckets equals the per-plane when(dot > 0) formulation") {
    import graft.functions.GraftFunctions.hyperplaneBuckets
    val tables = 6; val bits = 5; val dim = 64
    val rnd = new scala.util.Random(99)
    val planes = Seq.fill(tables * bits)(Seq.fill(dim)(rnd.nextGaussian()))
    val perPlane = (0 until tables).map { t =>
      (0 until bits).map { p =>
        when(dot(col("embedding"), typedlit(planes(t * bits + p))) > lit(0.0),
          lit(1 << p)).otherwise(lit(0))
      }.reduce(_ + _)
    }
    val rows = Tables.embeddings(spark, sf).limit(50)
      .select(
        hyperplaneBuckets(col("embedding"), planes, bits).as("fused"),
        array(perPlane: _*).as("reference"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[Int](0) === r.getSeq[Int](1))
      assert(r.getSeq[Int](0).length === tables)
    }
  }

  test("hyperplaneBuckets yields NULL on dimension mismatch") {
    import graft.functions.GraftFunctions.hyperplaneBuckets
    val planes = Seq.fill(4)(Seq.fill(3)(1.0))
    val rows = Tables.embeddings(spark, sf).limit(1)
      .select(hyperplaneBuckets(col("embedding"), planes, 2).as("b"))
      .collect()
    rows.foreach(r => assert(r.isNullAt(0)))
  }

  test("centroidScores equals the per-centroid struct(dot/norm, i) formulation") {
    import graft.functions.GraftFunctions.centroidScores
    val k = 7; val dim = 64
    val rnd = new scala.util.Random(41)
    val cents = Seq.fill(k)(Seq.fill(dim)(rnd.nextGaussian()))
    val perCent = array(cents.zipWithIndex.map { case (c, i) =>
      struct((dot(col("embedding"), typedlit(c)) / col("norm")).as("s"),
        lit(i).as("c"))
    }: _*)
    val rows = Tables.embeddings(spark, sf).limit(50)
      .withColumn("norm", sqrt(dot(col("embedding"), col("embedding"))))
      .select(
        centroidScores(col("embedding"), col("norm"), cents).as("fused"),
        perCent.as("reference"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val f = r.getSeq[org.apache.spark.sql.Row](0)
      val g = r.getSeq[org.apache.spark.sql.Row](1)
      assert(f.length === k)
      f.zip(g).foreach { case (a, b) =>
        assert(java.lang.Double.doubleToLongBits(a.getDouble(0)) ==
          java.lang.Double.doubleToLongBits(b.getDouble(0)))
        assert(a.getInt(1) === b.getInt(1))
      }
    }
  }

  test("centroidScores yields NULL on dimension mismatch") {
    import graft.functions.GraftFunctions.centroidScores
    val cents = Seq(Seq(1.0, 2.0, 3.0))
    val rows = Tables.embeddings(spark, sf).limit(1)
      .select(centroidScores(col("embedding"), lit(1.0), cents).as("b"))
      .collect()
    rows.foreach(r => assert(r.isNullAt(0)))
  }

  test("simHash64 equals the exploded 64-vote-column aggregation it replaced") {
    import graft.functions.GraftFunctions.simHash64
    // Old q21 shape: explode tokens, 64 per-bit vote sums, reassemble.
    val tokens = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(split(trim(col("text")), " +")).as("t"))
      .select(col("doc_id"), xxhash64(col("t")).as("h"))
    val votes = (0 until 64).map { bit =>
      sum(when(shiftright(col("h"), bit).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"b$bit")
    }
    val oldSig = tokens.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until 64).map { bit =>
          when(col(s"b$bit") > 0, shiftleft(lit(1L), bit)).otherwise(lit(0L))
        }.reduce((a, b) => a.bitwiseOR(b)).as("old_sig"))
    val newSig = Tables.documents(spark, sf)
      .select(col("doc_id"),
        simHash64(expr("transform(split(trim(text), ' +'), t -> xxhash64(t))"))
          .as("new_sig"))
    val diff = oldSig.join(newSig, "doc_id")
      .filter(col("old_sig") =!= col("new_sig"))
    assert(diff.count() === 0)
    assert(newSig.count() === Tables.documents(spark, sf).count())
  }

  test("sortedHashJaccard equals string-set Jaccard on collision-free inputs") {
    import graft.functions.GraftFunctions.sortedHashJaccard
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), split(trim(col("text")), " +").as("t"))
      .select(col("doc_id"), expr("array_distinct(t)").as("s"),
        expr("array_sort(transform(array_distinct(t), x -> xxhash64(x)))").as("hs"))
    val a = docs.select(col("doc_id").as("ia"), col("s").as("sa"), col("hs").as("ha"))
    val b = docs.select(col("doc_id").as("ib"), col("s").as("sb"), col("hs").as("hb"))
    val rows = a.join(b, col("ia") < col("ib")).limit(500)
      .select(
        sortedHashJaccard(col("ha"), col("hb")).as("viahash"),
        (size(array_intersect(col("sa"), col("sb"))).cast("double")
          / size(array_union(col("sa"), col("sb")))).as("viastring"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("simHash64 yields NULL on null elements, 0 on empty array") {
    import graft.functions.GraftFunctions.simHash64
    val rows = Tables.documents(spark, sf).limit(1)
      .select(
        simHash64(expr("CAST(array(1, NULL) AS array<bigint>)")).as("withnull"),
        simHash64(expr("CAST(array() AS array<bigint>)")).as("empty"))
      .collect()
    rows.foreach { r =>
      assert(r.isNullAt(0), "null token hash must yield NULL")
      assert(r.getLong(1) === 0L, "empty input: every vote ties -> all bits 0")
    }
  }

  test("tokenRuleStats equals the per-metric HOF formulation it replaced") {
    import graft.functions.GraftFunctions.tokenRuleStats
    val stop = graft.operators.TextAnalysis.stopwords
    val stopPred = stop.map(w => s"t = '$w'").mkString(" OR ")
    val rows = Tables.documents(spark, sf)
      .select(split(lower(trim(col("text"))), " +").as("toks"))
      .select(
        tokenRuleStats(col("toks"), stop).as("st"),
        size(col("toks")).as("n_words"),
        expr("aggregate(toks, 0L, (a, t) -> a + length(t))").as("sum_wlen"),
        expr("size(filter(toks, t -> t rlike '[a-z]'))").as("n_alpha"),
        size(array_intersect(array_distinct(col("toks")),
          array(stop.map(lit): _*))).as("n_stop_hof"),
        expr(s"size(filter(array_distinct(toks), t -> $stopPred))").as("n_stop_pred"),
        expr("""CASE WHEN size(toks) < 2 THEN 0 ELSE
               |size(array_distinct(transform(sequence(0, size(toks) - 2),
               |  i -> concat(toks[i], ' ', toks[i+1])))) END""".stripMargin)
          .as("n_bigrams"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val st = r.getStruct(0)
      assert(st.getInt(0) === r.getInt(1), "n_words")
      assert(st.getLong(1) === r.getLong(2), "sum_wlen")
      assert(st.getInt(2) === r.getInt(3), "n_alpha")
      assert(st.getInt(3) === r.getInt(4), "n_stop vs intersect")
      assert(st.getInt(3) === r.getInt(5), "n_stop vs predicate")
      assert(st.getInt(4) === r.getInt(6), "n_distinct_bigrams")
    }
  }

  test("pq encode/lut/adc agree with an independent reference model") {
    import graft.functions.GraftFunctions.{pqAdcScore, pqEncode, pqLut}
    val m = 8; val bits = 3; val k = 1 << bits
    // Train tiny codebooks on real unit vectors, then pin every stage of
    // the expression pipeline against plain-Scala reference arithmetic.
    val unit = Tables.embeddings(spark, sf).orderBy("vec_id").limit(64)
      .collect().map { r =>
        val v = r.getSeq[Float](1).map(_.toDouble).toArray
        val n = math.sqrt(v.map(x => x * x).sum)
        v.map(_ / n)
      }
    val books = graft.operators.Similarity.trainPqBooks(unit, m, k, iters = 5)
    val booksSeq: Seq[Seq[Seq[Double]]] = books.map(_.map(_.toSeq).toSeq).toSeq
    val dsub = 64 / m

    def refEncode(v: Array[Double]): Long = {
      var code = 0L
      for (s <- 0 until m) {
        val best = (0 until k).minBy { c =>
          val d = (0 until dsub).map { j =>
            val x = v(s * dsub + j) - books(s)(c)(j); x * x
          }.sum
          (d, c) // strict-min tie-break on lowest index, like the expression
        }
        code |= best.toLong << (bits * s)
      }
      code
    }

    val q = unit(0)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(unit.zipWithIndex.map { case (v, i) =>
        org.apache.spark.sql.Row(i.toLong, v.toSeq) }),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType)))))
      .withColumn("code", pqEncode(col("v"), booksSeq, bits))
      .withColumn("lut", pqLut(typedLit(q.toSeq), booksSeq))
      .withColumn("adc", pqAdcScore(col("code"), col("lut"), m, bits, k))
    val rows = df.orderBy("id").collect()
    assert(rows.length === 64)
    rows.foreach { r =>
      val id = r.getLong(0)
      val code = r.getLong(2)
      assert(code === refEncode(unit(id.toInt)), s"encode mismatch at $id")
      // ADC == sum over subspaces of dot(q_sub, codeword-of-code), in
      // subspace order — the exact accumulation the expression performs.
      var want = 0.0
      for (s <- 0 until m) {
        val c = ((code >>> (bits * s)) & (k - 1)).toInt
        var d = 0.0
        for (j <- 0 until dsub) d += q(s * dsub + j) * books(s)(c)(j)
        want += d
      }
      assert(java.lang.Double.doubleToLongBits(r.getDouble(4)) ==
        java.lang.Double.doubleToLongBits(want), s"adc mismatch at $id")
    }
  }

  test("pq expressions: shape-mismatch and null inputs yield NULL") {
    import graft.functions.GraftFunctions.{pqAdcScore, pqEncode, pqLut}
    val books: Seq[Seq[Seq[Double]]] =
      Seq.fill(2)(Seq.fill(4)(Seq.fill(2)(0.5))) // m=2, k=4, dsub=2 -> dim 4
    val rows = Tables.embeddings(spark, sf).limit(1)
      .select(
        pqEncode(expr("CAST(array(1.0, 2.0) AS array<double>)"), books, 2)
          .as("short"),
        pqEncode(expr("CAST(array(1.0, NULL, 3.0, 4.0) AS array<double>)"),
          books, 2).as("withnull"),
        pqLut(expr("CAST(array(1.0, 2.0) AS array<double>)"), books).as("lutshort"),
        pqAdcScore(lit(0L),
          expr("CAST(array(1.0, 2.0) AS array<double>)"), 2, 2, 4).as("lutdrift"))
      .collect()
    rows.foreach { r =>
      assert(r.isNullAt(0), "wrong input dim must yield NULL code")
      assert(r.isNullAt(1), "null element must yield NULL code")
      assert(r.isNullAt(2), "wrong input dim must yield NULL lut")
      assert(r.isNullAt(3), "lut length != m*K must yield NULL score")
    }
  }

  // --- UnitNormalize / NeighborMix (round 13, the q50 constant cut) ---

  private val lambdaUnit =
    """transform(array(sqrt(aggregate(embedding, CAST(0 AS DOUBLE),
      |    (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))),
      |  nrm -> CASE WHEN nrm = 0D THEN NULL
      |              ELSE transform(embedding, x -> CAST(x AS DOUBLE) / nrm)
      |         END)[0]""".stripMargin

  test("unitNormalize is bit-identical to the norm-bound-once lambda") {
    import graft.functions.GraftFunctions.unitNormalize
    val rows = Tables.embeddings(spark, sf)
      .select(unitNormalize(col("embedding")).as("native"),
        expr(lambdaUnit).as("fold"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val a = r.getSeq[Double](0); val b = r.getSeq[Double](1)
      assert(a.length == b.length)
      a.zip(b).foreach { case (x, y) =>
        assert(java.lang.Double.doubleToLongBits(x) ==
          java.lang.Double.doubleToLongBits(y))
      }
    }
  }

  test("unitNormalize: zero vector yields NULL; interpreted == codegen") {
    import graft.functions.GraftFunctions.unitNormalize
    val df = spark.sql(
      "SELECT CAST(array(0.0, 0.0) AS array<double>) AS z, " +
        "CAST(array(3.0, 4.0) AS array<float>) AS f")
    val r = df.select(
      unitNormalize(col("z")).as("zn"),
      unitNormalize(col("f")).as("fn")).head()
    assert(r.isNullAt(0), "zero norm must yield NULL")
    assert(r.getSeq[Double](1) == Seq(0.6, 0.8), "float input normalizes in double")
    // interpreted path (no codegen): same via direct compute
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    assert(graft.functions.UnitNormalize.compute(
      new GenericArrayData(Array[Any](0.0, 0.0)), isFloat = false) == null)
    val i = graft.functions.UnitNormalize.compute(
      new GenericArrayData(Array[Any](3.0, 4.0)), isFloat = false)
    assert(i.toDoubleArray().toSeq == Seq(0.6, 0.8))
  }

  test("neighborMix equals the sequence/element_at lambda it replaced") {
    import graft.functions.GraftFunctions.neighborMix
    val rows = Tables.embeddings(spark, sf)
      .select(col("embedding").cast("array<double>").as("emb"))
      .select(neighborMix(col("emb"), 0.1).as("native"),
        expr("""transform(sequence(1, size(emb)),
               |  i -> element_at(emb, i)
               |       + 0.1D * element_at(emb, i % size(emb) + 1))"""
          .stripMargin).as("fold"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val a = r.getSeq[Double](0); val b = r.getSeq[Double](1)
      assert(a.length == b.length)
      a.zip(b).foreach { case (x, y) =>
        assert(java.lang.Double.doubleToLongBits(x) ==
          java.lang.Double.doubleToLongBits(y))
      }
    }
  }

  test("neighborMix: empty array passes through, single element doubles back on itself") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val empty = graft.functions.NeighborMix.compute(
      new GenericArrayData(Array[Any]()), 0.1, isFloat = false)
    assert(empty.numElements() == 0)
    // n=1: neighbor of the only element is itself -> x * (1 + eps)
    val one = graft.functions.NeighborMix.compute(
      new GenericArrayData(Array[Any](2.0)), 0.1, isFloat = false)
    assert(one.toDoubleArray().toSeq == Seq(2.0 + 0.1 * 2.0))
  }

  test("tensor columns built with no session fail naming their builder") {
    import org.apache.spark.sql.SparkSession
    import graft.functions.GraftFunctions
    val live = spark // the suite's session, restored below
    val (active, default) = (SparkSession.getActiveSession, SparkSession.getDefaultSession)
    val books = Seq(Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)))
    val builders = Seq[(String, () => Any)](
      "centroidScores" -> (() => GraftFunctions.centroidScores(col("v"), lit(1.0),
        Seq(Seq(1.0, 0.0)))),
      "pqEncode" -> (() => GraftFunctions.pqEncode(col("v"), books, 1)),
      "pqLut" -> (() => GraftFunctions.pqLut(col("v"), books)))
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try builders.foreach { case (name, build) =>
      val e = intercept[IllegalStateException](build())
      assert(e.getMessage.startsWith(s"$name broadcasts its tensor"), e.getMessage)
      assert(e.getMessage.contains("build the column inside a session"), e.getMessage)
    } finally {
      SparkSession.setDefaultSession(default.getOrElse(live))
      SparkSession.setActiveSession(active.getOrElse(live))
    }
  }
}
