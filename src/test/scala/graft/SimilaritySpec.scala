package graft

import org.apache.spark.sql.functions._

import graft.operators.{Similarity, Skew}

/** IVF ANN recall + salted-join equivalence. */
class SimilaritySpec extends SparkSpec {

  test("q48 quantization: per-element error bounded by half a quantization step") {
    import org.apache.spark.sql.functions._
    val df = Similarity.q48QuantizeStats(spark, sf).cache()
    assert(df.count() === Tables.embeddings(spark, sf).count())
    // per-element |err| <= (amax/127)/2, so sq_err <= dim * step^2/4
    val dim = 64
    val bad = df.filter(
      col("sq_err") > lit(dim) * (col("amax") / 127.0) * (col("amax") / 127.0) / 4.0
        + lit(1e-12))
    assert(bad.count() === 0)
    assert(df.filter(col("amax") <= 0).count() === 0)
    // quantization must be lossy but tight on gaussian data: mean
    // squared error strictly between 0 and the uniform-quantizer bound
    assert(df.filter(col("sq_err") <= 0).count() === 0)
  }

  test("q30 IVF ANN: top-10 per query, recall@10 >= 0.85") {
    val ivf = Similarity.q30AnnIvf(spark, sf)
    val exact = Similarity.q22AnnBruteForce(spark, sf)

    val perQuery = ivf.groupBy("query_id").count().collect()
    assert(perQuery.nonEmpty)
    perQuery.foreach(r => assert(r.getLong(1) == 10L))

    val hits = ivf.select("query_id", "neighbor_id")
      .intersect(exact.select("query_id", "neighbor_id")).count()
    val recall = hits.toDouble / exact.count()
    info(f"IVF recall@10 = $recall%.2f")
    assert(recall >= 0.85)
  }

  test("q60 hard negatives: k per anchor, never the anchor's own label") {
    val df = Similarity.q60HardNegatives(spark, sf).cache()
    val perAnchor = df.groupBy("anchor_id").count().collect()
    assert(perAnchor.nonEmpty)
    perAnchor.foreach(r => assert(r.getLong(1) == 5L))
    assert(df.filter(col("anchor_label") === col("negative_label")).count() === 0)
    // hard negatives must rank by similarity: rank 1 cosine >= rank k cosine
    df.collect().groupBy(_.getLong(0)).values.foreach { rs =>
      val byRank = rs.sortBy(_.getInt(2)).map(_.getDouble(5))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
  }

  test("q53 IVF-PQ ANN: top-10 per query, recall@10 vs exact") {
    val pq = Similarity.q53AnnIvfPq(spark, sf)
    val exact = Similarity.q22AnnBruteForce(spark, sf)

    val perQuery = pq.groupBy("query_id").count().collect()
    assert(perQuery.nonEmpty)
    perQuery.foreach(r => assert(r.getLong(1) == 10L))

    val hits = pq.select("query_id", "neighbor_id")
      .intersect(exact.select("query_id", "neighbor_id")).count()
    val recall = hits.toDouble / exact.count()
    info(f"IVF-PQ recall@10 = $recall%.2f")
    // Bounded above by q30's IVF candidate recall (same cells, 0.90) —
    // and with 8-bit codebooks + rerank 128 the PQ stage loses NOTHING
    // on top of it (0.90 measured; see the q53 config sweep).
    // Deterministic (seeded sample + fixed-iteration training) — a
    // regression margin, not a flake allowance.
    assert(recall >= 0.85)
  }

  test("q30 IVF at sf0.1: K grows with the corpus, recall holds, " +
      "candidates stay a strict subset") {
    // The larger SF is where the corpus-derived K (max(24, sqrt(n)))
    // actually departs from MinCells: n=2000 -> K=45, nprobe=9. Floors
    // from the r13 IVF sweep frontier (0.94 recall / 0.58 fraction at
    // delta=0.18, OPTIMIZATION_r13.md §E and Similarity.AssignDelta;
    // deterministic sample + seeded k-means, so these are regression
    // margins, not flake allowances).
    val big = "/root/testdata/sf0.1"
    val exact = Similarity.q22AnnBruteForce(spark, big)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.q30AnnIvf(spark, big)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(f"IVF recall@10 at sf0.1 = $recall%.2f")
    assert(recall >= 0.85)

    val n = Tables.embeddings(spark, big).count()
    val scored = Similarity.ivfCandidates(spark, big).count()
    val frac = scored.toDouble / (n * 5)
    info(f"scored candidate fraction = $frac%.3f")
    assert(frac < 0.65, "the probed index must stay a strict corpus subset")

    // q53 rides the same cells: its recall is bounded by the IVF
    // candidate recall above, minus whatever the PQ short-list drops.
    val pq = Similarity.q53AnnIvfPq(spark, big)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pqRecall = (exact & pq).size.toDouble / exact.size
    info(f"IVF-PQ recall@10 at sf0.1 = $pqRecall%.2f")
    assert(pqRecall >= 0.85)
  }

  test("q26 LSH dedup equals brute force over the full perturbed corpus") {
    import graft.functions.GraftFunctions.dot
    val corpus = Similarity.dupCorpus(spark, sf)
      .withColumn("norm", sqrt(dot(col("emb"), col("emb"))))
    val a = corpus.select(col("vec_id").as("vec_a"), col("emb").as("ea"),
      col("norm").as("na"))
    val b = corpus.select(col("vec_id").as("vec_b"), col("emb").as("eb"),
      col("norm").as("nb"))
    val cosines = a.join(b, col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        (dot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("cosine"))
    val brute = cosines.filter(col("cosine") >= 0.8)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // margin evidence at this SF: nothing non-planted comes near the 0.8
    // threshold (planted pairs sit at >= 0.995)
    val maxNonPlanted = cosines.filter(col("cosine") < 0.8)
      .agg(max("cosine")).head.getDouble(0)
    info(f"max non-planted cosine at this SF = $maxNonPlanted%.3f")
    assert(maxNonPlanted < 0.7)

    val lsh = Similarity.q26EmbeddingDedup(spark, sf)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh === brute)
    assert(lsh.nonEmpty)
  }

  test("q26 LSH geometry pins bucket occupancy, not bucket count") {
    // Floor: every tested SF (corpus ≤ ~2^16 here) keeps the historical
    // 18x12 geometry — oracle behavior is unchanged by the sizing law.
    assert(Similarity.dupGeometry(1000L) === ((18, 12)))
    assert(Similarity.dupGeometry(65536L) === ((18, 12)))
    val p = 1.0 - math.acos(0.995) / math.Pi
    for (n <- Seq(1L << 20, 1L << 25, 1L << 30)) {
      val (tables, bits) = Similarity.dupGeometry(n)
      // occupancy law: expected vectors per bucket stays in [8, 16] —
      // the self-join's per-bucket pair count is O(1) per vector at any
      // corpus size (the round-13 warm3 probe measured exp 2.08 on the
      // 10x->30x interval for the FIXED 12-bit geometry).
      val occupancy = n.toDouble / (1L << bits)
      assert(occupancy <= 16.0 && occupancy > 8.0,
        s"n=$n bits=$bits occupancy=$occupancy")
      // recall law: the re-solved table count keeps the design per-pair
      // miss probability at the 0.995 operating point
      val miss = math.pow(1.0 - math.pow(p, bits), tables)
      assert(miss <= 1.4e-9, s"n=$n tables=$tables bits=$bits miss=$miss")
    }
    // concrete far-extrapolation point quoted in the Scaladoc
    assert(Similarity.dupGeometry(1000000000L) === ((37, 26)))
    // int bucket-id ceiling: bits cap at 30 (hyperplaneBuckets requires
    // <= 30 — `1 << p` would wrap/sign past that), tables keep the miss
    // solve at the capped width
    assert(Similarity.dupGeometry(1L << 40) === ((43, 30)))
  }

  test("salted join equals the plain shuffle join bit-for-bit") {
    val ev = Tables.events(spark, sf)
    val cust = Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_mktsegment"))

    val salted = Skew.saltedJoin(ev, "user_id", cust, "c_custkey", salts = 8)
      .select("event_id", "user_id", "c_custkey", "c_mktsegment")
      .collect().toSet
    val plain = ev.join(cust, ev("user_id") === cust("c_custkey"))
      .select("event_id", "user_id", "c_custkey", "c_mktsegment")
      .collect().toSet
    assert(salted == plain)
    assert(plain.nonEmpty)
  }

  test("salted join tolerates map-typed fact columns (salt skips maps)") {
    val f = spark.range(10).toDF("k")
      .withColumn("m", map(lit("a"), col("k")))
    val d = spark.range(10).toDF("dk")
    assert(Skew.saltedJoin(f, "k", d, "dk", salts = 4).count() === 10)
  }

  test("q31 salted aggregation equals q06 broadcast aggregation") {
    val a = Skew.q31SaltedJoin(spark, sf).collect().toSeq
    val b = graft.operators.Relational.q06BroadcastEnrich(spark, sf).collect().toSeq
    assert(a == b)
  }

  test("q65 diversity: sum-identity equals the brute-force pairwise mean") {
    import spark.implicits._
    val got = Similarity.q65DiversityStats(spark, sf)
      .as[(Int, Long, Double)].collect()
    assert(got.map(_._1).toSeq == got.map(_._1).toSeq.sorted)
    got.foreach { case (_, _, m) => assert(m >= -1.0 - 1e-6 && m <= 1.0 + 1e-6) }

    // brute force in full double precision: the identity path rounds each
    // normalized component once to 1e-6, so per-pair dot error is bounded
    // by ~2*dim*5e-7 — well inside 1e-3.
    val vecs = Tables.embeddings(spark, sf)
      .select("label", "vec_id", "embedding")
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Float](2).map(_.toDouble).toArray))
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val byLabel = vecs.groupBy(_._1).view.mapValues(_.map(x => unit(x._2))).toMap
    got.foreach { case (label, nVecs, mean) =>
      val vs = byLabel(label)
      assert(nVecs === vs.length.toLong)
      if (vs.length > 1) {
        var s = 0.0
        for (i <- vs.indices; j <- vs.indices if i != j)
          s += vs(i).zip(vs(j)).map { case (a, b) => a * b }.sum
        val exp = s / (vs.length.toLong * (vs.length - 1))
        assert(math.abs(mean - exp) < 1e-3, s"label $label: $mean vs $exp")
      }
    }
  }

  test("q65 diversity is invariant under repartitioning (decimal sums)") {
    val a = Similarity.q65DiversityStats(spark, sf).collect().toSeq
    val b = Similarity.q65DiversityStats(
      spark, sf).repartition(7).orderBy("label").collect().toSeq
    assert(a === b)
  }

  test("q69 knn classification agrees with an in-memory brute-force model") {
    // sequential-fold doubles exactly like the DotProduct expression, so
    // ranking ties resolve identically — the model is bit-for-bit.
    def dotd(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val vecs = Tables.embeddings(spark, sf)
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(_.toDouble).toArray))
    val norms = vecs.map(v => v._1 -> math.sqrt(dotd(v._3, v._3))).toMap
    val anchors = vecs.filter(_._1 % Similarity.KnnAnchorMod == 0)
    val expected = anchors.map { case (aid, albl, ae) =>
      val top = vecs.filter(_._1 != aid)
        .map { case (nid, nlbl, ne) =>
          (dotd(ae, ne) / (norms(aid) * norms(nid)), nid, nlbl) }
        .sortBy { case (cos, nid, _) => (-cos, nid) }
        .take(10)
      val (pred, v) = top.groupBy(_._3).view.mapValues(_.size).toSeq
        .sortBy { case (lbl, c) => (-c, lbl) }.head
      (aid, (albl, pred, v.toLong, if (pred == albl) 1 else 0))
    }.toMap
    val got = Similarity.q69KnnClassify(spark, sf).collect()
      .map(r => (r.getLong(0),
        (r.getInt(1), r.getInt(2), r.getLong(3), r.getInt(4)))).toMap
    assert(got === expected)
    assert(got.nonEmpty)
    // majority vote over 10 neighbors: winner always has >= 2 votes
    assert(got.values.forall(_._3 >= 2))
  }

  test("q79 filtered ANN: every neighbor satisfies the predicate; result " +
      "equals the brute-force top-k of the filtered corpus") {
    def dotd(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val df = Similarity.q79FilteredAnn(spark, sf).cache()
    val rows = df.collect()
    assert(rows.nonEmpty)
    // predicate holds on every emitted neighbor
    assert(rows.forall(r => Similarity.FilterLabels.contains(r.getInt(3))))
    // k per query (the filtered corpus is still >> k at sf0.001)
    rows.groupBy(_.getLong(0)).values.foreach(rs => assert(rs.length === 10))
    // in-memory model: top-k cosine over ONLY the filter class
    val vecs = Tables.embeddings(spark, sf)
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(_.toDouble).toArray))
    val norms = vecs.map(v => v._1 -> math.sqrt(dotd(v._3, v._3))).toMap
    val queries = vecs.filter(_._1 < 5)
    val expected = queries.flatMap { case (qid, _, qe) =>
      vecs.filter(v => v._1 != qid && Similarity.FilterLabels.contains(v._2))
        .map { case (nid, _, ne) =>
          (qid, nid, dotd(qe, ne) / (norms(qid) * norms(nid))) }
        .sortBy { case (_, nid, cos) => (-cos, nid) }
        .take(10).zipWithIndex
        .map { case ((_, nid, _), i) => (qid, i + 1, nid) }
    }.toSet
    val got = rows.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got === expected)
    // the filter must CHANGE the answer vs unfiltered q22 (otherwise the
    // test proves nothing): some q22 neighbor carries an excluded label
    val unfiltered = Similarity.q22AnnBruteForce(spark, sf)
      .select("query_id", "rank", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got !== unfiltered)
  }

  test("q74 dim stats: matches the in-memory per-dimension moments") {
    val vecs = Tables.embeddings(spark, sf)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val dim = vecs.head.length
    val got = Similarity.q74DimStats(spark, sf).collect()
    assert(got.length === dim)
    got.foreach { r =>
      val d = r.getInt(0)
      val xs = vecs.map(_(d))
      val n = xs.length
      assert(r.getLong(1) === n.toLong)
      val mean = xs.sum / n
      val varS = xs.map(x => (x - mean) * (x - mean)).sum / (n - 1)
      // scale-9 quantization perturbs each element by <= 5e-10; the
      // aggregate error stays orders below this tolerance
      assert(math.abs(r.getDouble(2) - mean) < 1e-7, s"mean dim $d")
      assert(math.abs(r.getDouble(3) - math.sqrt(varS)) < 1e-6, s"std dim $d")
      assert(r.getDouble(4) === xs.min)
      assert(r.getDouble(5) === xs.max)
    }
  }

  test("q74 dim stats are bit-identical under repartitioning (integer sums)") {
    val a = Similarity.q74DimStats(spark, sf).collect().toSeq
    val b = Similarity.q74DimStats(spark, sf)
    // same plan, different physical layout: re-run over a shuffled corpus
    // through the same FLOOR-nano-int expression shape (q74 moved off the
    // decimal-round quantizer after the sf0.1 dyadic-tie red; see the
    // operator's float-discipline note)
    import org.apache.spark.sql.types.DecimalType
    val comp = Tables.embeddings(spark, sf).repartition(17)
      .select(posexplode(col("embedding")).as(Seq("dim", "xf")))
      .select(col("dim"), col("xf").cast("double").as("x"))
      .withColumn("xq", floor(col("x") * lit(1e9)).cast("long"))
    val c = comp.groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(col("xq")).as("s1"),
        sum(col("xq").cast(DecimalType(38, 0)) * col("xq")).as("s2raw"),
        min(col("x")).as("vmin"), max(col("x")).as("vmax"))
      .withColumn("s2", expr("CAST(s2raw div 1000000 AS BIGINT)"))
      .select(col("dim"), col("n"),
        expr("CAST(s1 AS DOUBLE) / 1.0e9 / n").as("mean"),
        expr("sqrt((CAST(s2 AS DOUBLE) / 1.0e12" +
          " - n * (CAST(s1 AS DOUBLE) / 1.0e9 / n)" +
          " * (CAST(s1 AS DOUBLE) / 1.0e9 / n)) / (n - 1))").as("stddev"),
        col("vmin"), col("vmax"))
      .orderBy("dim").collect().toSeq
    assert(a.map(_.toSeq) === c.map(_.toSeq),
      "integer-summed moments must not depend on partitioning")
    assert(b.collect().toSeq.map(_.toSeq) === a.map(_.toSeq))
  }

  test("q124 covariance equals an exact driver-side decimal recomputation") {
    import java.math.{BigDecimal => JBD, RoundingMode}
    val got = Similarity.q124EmbeddingCovariance(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val vecs = Tables.embeddings(spark, sf).select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray)
    val dim = vecs.head.length
    assert(got.size === dim * (dim + 1) / 2)
    // mirror the pipeline's float discipline exactly: quantize each
    // component at scale 9 (HALF_UP on the shortest double repr, which
    // is what Spark's double->decimal cast quantizes), exact decimal
    // products and sums, step down to scale 12, then the double formula.
    val q = vecs.map(_.map(x =>
      JBD.valueOf(x.toDouble).setScale(9, RoundingMode.HALF_UP)))
    val n = vecs.length
    val sx = Array.tabulate(dim)(i =>
      q.map(v => v(i)).reduce(_.add(_)).doubleValue())
    for (i <- 0 until dim; j <- i until dim if i == j || (i + j) % 13 == 0) {
      val sxy = q.map(v => v(i).multiply(v(j))).reduce(_.add(_))
        .setScale(12, RoundingMode.HALF_UP).doubleValue()
      val cov = BigDecimal((sxy - sx(i) * sx(j) / n) / n)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got((i, j)) === cov, s"cell ($i,$j)")
    }
    // diagonal is a variance: non-negative everywhere
    (0 until dim).foreach(i => assert(got((i, i)) >= 0.0))
  }

  test("q125 PCA: orthonormal components, variance per coordinate = eigenvalue") {
    val (c, mean) = Similarity.covAndMean(spark, sf)
    val (evals, evecs) = Similarity.jacobiEigen(c)
    val dim = c.length
    // eigensolve invariants
    assert(evals.sliding(2).forall { case Array(a, b) => a >= b - 1e-12 },
      "eigenvalues descend")
    assert(evals.forall(_ >= -1e-9), "covariance is PSD up to rounding")
    for (a <- 0 until dim; b <- a until dim) {
      val d = (0 until dim).map(k => evecs(a)(k) * evecs(b)(k)).sum
      val expect = if (a == b) 1.0 else 0.0
      assert(math.abs(d - expect) < 1e-8, s"orthonormality at ($a,$b)")
    }
    // residual ||Cv - lambda v|| small for the kept components
    for (k <- 0 until Similarity.PcaK) {
      val v = evecs(k)
      val cv = (0 until dim).map(i => (0 until dim).map(j => c(i)(j) * v(j)).sum)
      val res = math.sqrt((0 until dim)
        .map(i => math.pow(cv(i) - evals(k) * v(i), 2)).sum)
      assert(res < 1e-8, s"eigen residual at component $k")
    }
    // projected coordinates: mean ~ 0 (centering), variance ~ eigenvalue
    val proj = Similarity.q125PcaProject(spark, sf).collect()
    assert(proj.length === Tables.embeddings(spark, sf).count())
    for (k <- 0 until Similarity.PcaK) {
      val xs = proj.map(_.getDouble(k + 1))
      val m = xs.sum / xs.length
      val va = xs.map(x => (x - m) * (x - m)).sum / xs.length
      assert(math.abs(m) < 1e-6, s"pc${k + 1} is centered")
      assert(math.abs(va - evals(k)) <= 1e-6 + 1e-3 * evals(k),
        s"pc${k + 1} variance ${va} tracks eigenvalue ${evals(k)}")
    }
  }

  test("q144: mean-pool fingerprints equal a driver-side decimal recompute") {
    val got = graft.operators.Similarity.q144MeanPool(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    val chunks = Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0) / 4, r.getSeq[Float](1)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    assert(got.keySet == chunks.keySet)
    chunks.foreach { case (doc, vecs) =>
      val (n, fp) = got(doc)
      assert(n == vecs.length)
      val dims = vecs.head.length
      val means = (0 until dims).map { d =>
        val s = vecs.map(v => BigDecimal(v(d).toDouble)
          .setScale(9, BigDecimal.RoundingMode.HALF_UP)).sum
        BigDecimal(s.toDouble / n * 1e9)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      }
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(means.mkString(",").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(fp == md, s"pooled fingerprint of doc $doc")
    }
  }

  test("q156: shares sum to one, weights rebalance exactly, gini consistent") {
    val rows = graft.operators.Similarity.q156LabelBalance(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    val nt = rows.map(_._2).sum
    val k = rows.length
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-4, "shares sum to ~1")
    // the 'balanced' convention: every class's n * weight == nt / k
    rows.foreach { case (_, n, _, cw, _, _) =>
      assert(math.abs(n * cw - nt.toDouble / k) < 1e-1) }
    val gini = 1.0 - rows.map(t => (t._2.toDouble / nt) *
      (t._2.toDouble / nt)).sum
    rows.foreach { case (_, _, _, _, g, maj) =>
      assert(math.abs(g - gini) < 1e-5)
      assert(g >= 0.0 && g < 1.0)
      assert(math.abs(maj - rows.map(_._3).max) < 1e-5)
    }
  }

  test("q185 metrics: per-class P/R/F1 match a brute force over q69's preds") {
    val preds = Similarity.q69KnnClassify(spark, sf).collect()
      .map(r => (r.getInt(1), r.getInt(2)))
    val classes = (preds.map(_._1) ++ preds.map(_._2)).distinct.sorted
    val rows = Similarity.q185ClassifierMetrics(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6)))
    assert(rows.map(_._1).toSeq === classes, "class set = union of axes")
    rows.foreach { case (c, nTrue, nPred, tp, p, r, f1) =>
      assert(nTrue === preds.count(_._1 == c).toLong)
      assert(nPred === preds.count(_._2 == c).toLong)
      assert(tp === preds.count(x => x._1 == c && x._2 == c).toLong)
      assert(p === (if (nPred == 0) 0.0 else tp.toDouble / nPred))
      assert(r === (if (nTrue == 0) 0.0 else tp.toDouble / nTrue))
      assert(f1 === (if (p + r == 0.0) 0.0 else 2.0 * p * r / (p + r)))
    }
    // micro-accuracy ties out: sum of tp over classes = correct preds
    assert(rows.map(_._4).sum === preds.count(x => x._1 == x._2).toLong)
  }

  test("q204 matryoshka audit matches a driver-side sequential-fold replay") {
    val vecs = Tables.embeddings(spark, sf).select("vec_id", "embedding")
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      .sortBy(_._1)
    def dotD(a: Array[Float], b: Array[Float], k: Int): Double = {
      var s = 0.0; var i = 0
      while (i < k) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    def cos(a: Array[Float], b: Array[Float], k: Int): Double =
      dotD(a, b, k) / (math.sqrt(dotD(a, a, k)) * math.sqrt(dotD(b, b, k)))
    def d6(x: Double): BigDecimal =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val byId = vecs.toMap
    val pairs = vecs.flatMap { case (id, a) => byId.get(id + 1).map(b => (a, b)) }
    val dims = Seq(4, 8, 16)
    val expect = dims.map { k =>
      val ds = pairs.map { case (a, b) =>
        d6(math.abs(cos(a, b, k) - cos(a, b, a.length)))
      }
      (k.toLong, ds.length.toLong,
        d6(ds.sum.toDouble / ds.length).toDouble, // double division, as the engines do
        ds.max.toDouble,
        ds.count(_ > BigDecimal(0.05)).toLong)
    }
    val got = Similarity.q204MatryoshkaAudit(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getLong(4))).toSeq
    assert(got === expect, "exact per-k distortion aggregates")
    // truncating harder cannot help on average: mean distortion at k=4
    // is at least the mean at k=16
    assert(got.head._3 >= got.last._3)
  }

  test("q225 herding matches a driver replay; the selected mean converges") {
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>)").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    def dot(x: Array[Double], y: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < x.length) { acc += x(i) * y(i); i += 1 }
      acc
    }
    val n = vecs.length.toLong
    val dim = vecs.head._2.length
    val sx = Array.tabulate(dim) { d =>
      vecs.map(v => math.floor(v._2(d) * 1.0e9).toLong).sum
    }
    val mu = sx.map(_.toDouble / n / 1.0e9)
    val ds = scala.collection.mutable.HashMap.empty[Long, Double]
    vecs.foreach(v => ds(v._1) = 0.0)
    val byId = vecs.toMap
    var expect = Vector.empty[(Long, Long, Double)]
    for (t <- 1 to 8) {
      val scored = vecs.map { case (id, v) =>
        (id, (dot(v, v) + 2.0 * ds(id)) - (2.0 * t * dot(v, mu)))
      }
      val (wid, ws) = scored.minBy { case (id, s) => (s, id) }
      expect :+= ((t.toLong, wid, ws))
      val wv = byId(wid)
      vecs.foreach { case (id, v) => ds(id) += dot(v, wv) }
    }
    val got = Similarity.q225HerdingCoreset(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toVector
    assert(got === expect, "identical herding trajectory")
    // round 1 must pick the vector closest to the corpus mean, and the
    // selected set's mean must end closer to mu than that single point
    val firstBest = vecs.minBy { case (id, v) =>
      (dot(v, v) - 2.0 * dot(v, mu), id) }._1
    assert(got.head._2 === firstBest)
    def meanDist(ids: Seq[Long]): Double = {
      val m = Array.tabulate(dim)(d => ids.map(byId(_)(d)).sum / ids.size)
      val diff = m.zip(mu).map { case (a, b) => a - b }
      dot(diff, diff)
    }
    val d1 = meanDist(got.take(1).map(_._2))
    val d8 = meanDist(got.map(_._2))
    assert(d8 < d1, s"herding must tighten the mean match: $d8 vs $d1")
  }

  test("q217 k-center matches a driver greedy replay; radius non-increasing") {
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>)").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    def d2(a: Array[Double], b: Array[Double]): Double = {
      // the same |a|²+|b|²−2ab with sequential-fold dots the engines use
      def dot(x: Array[Double], y: Array[Double]): Double = {
        var acc = 0.0; var i = 0
        while (i < x.length) { acc += x(i) * y(i); i += 1 }
        acc
      }
      (dot(a, a) + dot(b, b)) - (2.0 * dot(a, b))
    }
    val mind = scala.collection.mutable.HashMap.empty[Long, Double]
    val first = vecs.head
    vecs.foreach(v => mind(v._1) = d2(v._2, first._2))
    var expect = Vector((1L, first._1, 0.0))
    val byId = vecs.toMap
    for (r <- 2 to 8) {
      val (wid, wd) = mind.toSeq.minBy { case (id, d) => (-d, id) }
      expect :+= ((r.toLong, wid, wd))
      val wv = byId(wid)
      vecs.foreach(v => mind(v._1) = math.min(mind(v._1), d2(v._2, wv)))
    }
    val got = Similarity.q217KCenter(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toVector
    assert(got === expect, "identical greedy farthest-point trajectory")
    // each pick reduces (never raises) the covering radius, and no
    // center repeats
    val radii = got.drop(1).map(_._3)
    assert(radii.zip(radii.tail).forall { case (a, b) => a >= b })
    assert(got.map(_._2).distinct.size === got.size)
  }

  test("q244 JL projection matches an exact driver-side replay and the " +
      "mean distortion sits near 1e6 (the JL guarantee, realized)") {
    val got = Similarity.q244JlProjection(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    // replay: same MD5-parity signs, same floor quantization, pure Long math
    val md = java.security.MessageDigest.getInstance("MD5")
    val signs = Array.tabulate(64, 16) { (i, j) =>
      val h = md.digest(s"${i}_$j".getBytes("UTF-8"))
      if (((h(0) >> 4) & 1) == 0) 1L else -1L
    }
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1e4).toLong).toArray)
      .toMap
    def proj(v: Array[Long]): Array[Long] =
      Array.tabulate(16)(j => (0 until 64).map(i => signs(i)(j) * v(i)).sum)
    got.foreach { case (id, d2o, d2p, ppm) =>
      val (a, b) = (vecs(id), vecs(id + 1))
      val eo = (0 until 64).map(i => (a(i) - b(i)) * (a(i) - b(i))).sum
      val (pa, pb) = (proj(a), proj(b))
      val ep = (0 until 16).map(j => (pa(j) - pb(j)) * (pa(j) - pb(j))).sum
      assert(d2o == eo && d2p == ep, s"pair $id")
      assert(ppm == (if (eo == 0) 1000000L else 62500L * ep / eo), s"ppm $id")
    }
    // Achlioptas: E[d2_proj] = k * d2_orig, so the per-pair distortions
    // average to ~1e6 (relative sd ~ sqrt(2/k)/sqrt(n) for the mean)
    val mean = got.map(_._4).sum.toDouble / got.length
    assert(mean > 0.85e6 && mean < 1.15e6, s"mean distortion $mean")
    assert(got.forall(_._4 > 0), "no pair collapses to zero distance")
  }
}
