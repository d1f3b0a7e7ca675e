package graft

import org.apache.spark.sql.functions._

import graft.operators.{Clustering, Dedup}

/** Connected-components dedup canonicalization and distributed k-means:
  * semantic invariants (the q46 DuckDB oracle covers hash parity; q47 is
  * iterative float training, so its guarantees live here). */
class ClusteringSpec extends SparkSpec {

  test("q46 components: every doc labeled, canonical is the component min") {
    val df = Clustering.q46DedupComponents(spark, sf).cache()
    assert(df.count() === Tables.documents(spark, sf).count())
    // component label is the minimum doc_id of its members
    val badMin = df.groupBy("component").agg(min(col("doc_id")).as("mn"))
      .filter(col("component") =!= col("mn"))
    assert(badMin.count() === 0)
    // exactly one canonical per component, and it carries the label id
    val canon = df.filter(col("is_canonical"))
    assert(canon.count() === df.select("component").distinct().count())
    assert(canon.filter(col("doc_id") =!= col("component")).count() === 0)
  }

  test("q46 components agree with an independent union-find over the q40 pairs") {
    import spark.implicits._
    val pairs = Dedup.q40NgramJaccard(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    // driver-side union-find as the independent reference
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      .map(x => x -> find(x)).toMap
    val got = Clustering.q46DedupComponents(spark, sf)
      .filter(!col("is_canonical") || col("doc_id").isin(expected.keys.toSeq: _*))
      .select("doc_id", "component").as[(Long, Long)].collect().toMap
    expected.foreach { case (node, root) =>
      assert(got(node) === root, s"node $node")
    }
    // chains must exist on this corpus for the test to mean anything
    assert(expected.values.toSet.size < expected.size)
  }

  test("q46 size-adaptive paths agree: driver union-find == iterative propagation") {
    import spark.implicits._
    val pairs = Dedup.q40NgramJaccard(spark, sf).select("doc_a", "doc_b")
    val fast = Clustering.componentLabels(spark, pairs, Long.MaxValue)
      .as[(Long, Long)].collect().toMap
    val iter = Clustering.componentLabels(spark, pairs, -1L) // force distributed
      .as[(Long, Long)].collect().toMap
    assert(fast === iter,
      "the strategy switch must be invisible: identical labels either way")
    assert(fast.nonEmpty)
  }

  test("q47 k-means: output partitions the corpus into k clusters") {
    val df = Clustering.q47KmeansCluster(spark, sf).cache()
    val n = Tables.embeddings(spark, sf).count()
    assert(df.agg(sum(col("n_vectors"))).head().getLong(0) === n)
    assert(df.count() <= 8)
    assert(df.filter(col("avg_cosine") < -1.0 || col("avg_cosine") > 1.0)
      .count() === 0)
  }

  test("q50 semdedup: precision 1.0 and recall >= 0.85 vs brute-force pairs") {
    import spark.implicits._
    val out = Clustering.q50SemDedup(spark, sf).cache()
    val corpus = graft.operators.Similarity.dupCorpus(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    // output covers the corpus exactly once
    assert(out.count() === corpus.length)
    assert(out.select("vec_id").distinct().count() === corpus.length)
    // brute-force expected drop set: any smaller-id near-dup anywhere
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val sorted = corpus.sortBy(_._1)
    val expectedDrop = (for {
      i <- sorted.indices; j <- 0 until i
      if cos(sorted(i)._2, sorted(j)._2) >= 0.8
    } yield sorted(i)._1).toSet
    val gotDrop = out.filter(!col("is_kept")).select("vec_id")
      .as[Long].collect().toSet
    // every emitted drop is exact-verified within its cluster -> no
    // false positives, ever
    assert(gotDrop.subsetOf(expectedDrop),
      s"false drops: ${gotDrop -- expectedDrop}")
    // cluster-split pairs may be missed, but rarely: planted pairs sit
    // at cosine >= 0.995 and almost always share an argmax centroid
    assert(expectedDrop.nonEmpty)
    val recall = (gotDrop & expectedDrop).size.toDouble / expectedDrop.size
    info(f"semdedup recall vs brute force = $recall%.3f (${expectedDrop.size} true drops)")
    assert(recall >= 0.85, f"recall $recall%.3f below floor")
    out.unpersist()
  }

  test("q50 semdedup: two-level assignment never scores the full sub-centroid set") {
    val p = Clustering.semDedupParts(spark, sf)
    assert(p.totalSubs > p.kCoarse,
      "level 2 must refine level 1 (more subs than coarse cells)")
    // Per-vector scored sub-centroids: flat assignment would put exactly
    // totalSubs rows per vector into `scored`; two-level puts only the
    // assigned cells' subs there.
    val perVec = p.scored.groupBy("vec_id").agg(count(lit(1)).as("m")).cache()
    val mx = perVec.agg(max(col("m"))).head().getLong(0)
    val avg = p.scored.count().toDouble / p.n
    info(f"scored subs per vector: avg $avg%.1f / max $mx (totalSubs ${p.totalSubs}, kCoarse ${p.kCoarse})")
    // flat assignment scores totalSubs for EVERY vector; two-level keeps
    // the average near totalSubs/kCoarse (a near-tie vector may still
    // multi-assign to several cells — the tail, not the norm)
    assert(avg <= 0.75 * p.totalSubs,
      f"avg scored $avg%.1f not materially below flat ${p.totalSubs}")
    val atFlat = perVec.filter(col("m") >= p.totalSubs).count()
    assert(atFlat <= p.n / 20,
      s"$atFlat of ${p.n} vectors scored the full sub set — flat assignment shape")
    perVec.unpersist()
    // every vector is assigned: primary is a partition of the corpus
    assert(p.primary.count() === p.n)
    assert(p.primary.select("vec_id").distinct().count() === p.n)
  }

  test("q47 k-means: the spherical objective is non-decreasing over rounds") {
    val (_, objectives) = Clustering.kmeansTrain(spark, sf, k = 8, rounds = 4)
    assert(objectives.length === 4)
    objectives.sliding(2).foreach {
      case Seq(a, b) => assert(b >= a - 1e-9,
        s"objective must not regress: $objectives")
      case _ =>
    }
    // training must actually move the centroids off their init
    assert(objectives.last > objectives.head)
  }
  test("q47 k-means: Lloyd rounds leave no centroid broadcast behind") {
    import org.apache.spark.sql.graftbridge.BroadcastBlocks
    // each round ships its centroid matrix as a broadcast; a leak would
    // leave one per round alive after training
    def centroidBroadcasts(): Set[Long] = BroadcastBlocks.live {
      case _: Array[Array[Double]] => true
      case _ => false
    }
    val unit = Tables.embeddings(spark, sf).select(col("vec_id"),
        graft.functions.GraftFunctions.unitNormalize(col("embedding")).as("unit"))
      .filter(col("unit").isNotNull)
    val before = centroidBroadcasts()
    val (_, objectives) = Clustering.kmeansTrainOn(unit, 4, 6)
    assert(objectives.length == 6)
    assert((centroidBroadcasts() -- before).isEmpty)
  }

  test("q86 cluster-canonical: one representative per component, the longest doc") {
    val comp = Clustering.q46DedupComponents(spark, sf)
      .select(col("doc_id"), col("component"))
    val rep = Clustering.q86ClusterCanonical(spark, sf)
    val j = rep.join(comp, "doc_id")
      .join(Tables.documents(spark, sf).select(col("doc_id"), col("n_chars")), "doc_id")
      .cache()
    // docs share a rep exactly when they share a q46 component
    assert(j.groupBy("component").agg(countDistinct("rep_id").as("k"))
      .filter(col("k") =!= 1).count() === 0)
    // the rep is a member of its own component and is kept
    val reps = j.filter(col("doc_id") === col("rep_id"))
    assert(reps.filter(!col("is_kept")).count() === 0)
    // the rep maximizes n_chars within the component (ties -> lowest id)
    val best = j.groupBy("component").agg(max("n_chars").as("mx"))
    val repLen = reps.select(col("component"), col("n_chars"))
    assert(repLen.join(best, "component").filter(col("n_chars") =!= col("mx"))
      .count() === 0)
    // non-reps are not kept; kept count equals component count
    assert(j.filter(col("is_kept")).count() ===
      comp.select("component").distinct().count())
    j.unpersist()
  }

  test("q193 pagerank: every nation ranked, mass conserved up to div truncation") {
    val df = Clustering.q193Pagerank(spark, sf).cache()
    val n = Tables.nation(spark, sf).count()
    assert(df.count() === n)
    val prs = df.collect().map(_.getLong(1))
    // every node holds at least the teleport base and less than all mass
    assert(prs.forall(p => p >= 150000000L / n && p < 1000000000L))
    // the damped map is substochastic (dangling nations evaporate mass;
    // truncating divs only lose): total never exceeds the initial 1.0,
    // and never falls under the teleport floor N * base
    assert(prs.sum <= 1000000000L && prs.sum >= n * (150000000L / n))
    df.unpersist()
  }

  test("q193 pagerank matches an exact driver-side integer replay") {
    import spark.implicits._
    val n = Tables.nation(spark, sf).count()
    val edges = Tables.lineitem(spark, sf).select("l_orderkey", "l_suppkey")
      .join(Tables.orders(spark, sf).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.supplier(spark, sf).select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .join(Tables.customer(spark, sf).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("s_nationkey").as("src"), col("c_nationkey").as("dst"))
      .count()
      .as[(Long, Long, Long)].collect()
    val outw = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val nodes = Tables.nation(spark, sf).select("n_nationkey")
      .as[Long].collect().sorted
    var pr = nodes.map(_ -> 1000000000L / n).toMap
    for (_ <- 1 to 3) {
      val s = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      for ((u, v, w) <- edges) s(v) += pr(u) * w / outw(u)
      pr = nodes.map(v => v -> (150000000L / n + 85L * s(v) / 100L)).toMap
    }
    val got = Clustering.q193Pagerank(spark, sf).collect()
      .map(r => r.getAs[Number](0).longValue -> r.getLong(1)).toMap
    assert(got === pr, "bit-exact integer PageRank parity with the replay")
  }

  test("q195 triangles match a driver-side adjacency-set replay") {
    import spark.implicits._
    // undirected co-purchase edges, value-ordered, from first principles
    val po = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").cast("long"), col("l_partkey").cast("long"))
      .distinct().as[(Long, Long)].collect()
    val edges = po.groupBy(_._1).values.flatMap { basket =>
      val ps = basket.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
    }.toSet
    val adj = scala.collection.mutable.Map[Long, Set[Long]]().withDefaultValue(Set.empty)
    for ((u, v) <- edges) { adj(u) += v; adj(v) += u }
    val tri = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    for ((u, v) <- edges; w <- adj(u) if w > v && adj(v).contains(w)) {
      tri(u) += 1; tri(v) += 1; tri(w) += 1
    }
    val expect = adj.keys.toSeq.sorted.map { n =>
      val d = adj(n).size.toLong
      val c = if (d < 2) 0.0
              else BigDecimal(2.0 * tri(n) / (d * (d - 1)))
                .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (n, d, tri(n), c)
    }
    val got = Clustering.q195Triangles(spark, sf).collect()
      .map(r => (r.getAs[Number](0).longValue, r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got === expect, "degree/triangle/coefficient parity per node")
    // sanity: a dense co-purchase graph at this SF has real triangles
    assert(got.map(_._3).sum > 0, "graph must contain triangles")
  }

  test("q195 no-hint default equals the forced-broadcast close plan") {
    // Since r11 the DEFAULT close is no-hint (AQE size-driven — the
    // measured winner at 10x edges, SCALING.md); the forced broadcast
    // is kept as the comparison path: same triangles, row for row.
    val aqe = Clustering.q195Triangles(spark, sf).collect().toSeq
    val forced = Clustering.q195TrianglesBroadcastClose(spark, sf)
      .collect().toSeq
    assert(aqe === forced)
  }

  test("q197 assortativity matches a driver-side exact-sum replay") {
    import spark.implicits._
    val po = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").cast("long"), col("l_partkey").cast("long"))
      .distinct().as[(Long, Long)].collect()
    val edges = po.groupBy(_._1).values.flatMap { basket =>
      val ps = basket.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
    }.toSet
    val deg = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    for ((u, v) <- edges) { deg(u) += 1; deg(v) += 1 }
    val m = edges.size.toDouble
    var (sjk, sjk2, sq) = (0L, 0L, 0L)
    for ((u, v) <- edges) {
      val (j, k) = (deg(u), deg(v))
      sjk += j * k; sjk2 += j + k; sq += j * j + k * k
    }
    // the same double expression tree as q197RExpr
    val half = sjk2.toDouble / (2.0 * m)
    val r = (sjk.toDouble / m - half * half) / (sq.toDouble / (2.0 * m) - half * half)
    val expect = BigDecimal(r).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val row = Clustering.q197Assortativity(spark, sf).collect().head
    assert(row.getLong(0) === edges.size.toLong)
    assert(row.getDouble(1) === expect, "exact-sum assortativity parity")
    assert(row.getDouble(1) >= -1.0 && row.getDouble(1) <= 1.0)
  }

  test("q199 k-core: 8 peels match a driver replay; peeling monotone") {
    import spark.implicits._
    val po = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").cast("long"), col("l_partkey").cast("long"))
      .distinct().as[(Long, Long)].collect()
    var edges = po.groupBy(_._1).values.flatMap { basket =>
      val ps = basket.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
    }.toSet
    val sizes = scala.collection.mutable.ArrayBuffer(edges.size)
    for (_ <- 1 to Clustering.KCorePeels) {
      val deg = edges.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val keep = deg.filter(_._2 >= Clustering.KCoreK).keySet
      edges = edges.filter(e => keep(e._1) && keep(e._2))
      sizes += edges.size
    }
    val deg = edges.toSeq.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expect = deg.toSeq.sorted
    val got = Clustering.q199KCore(spark, sf).collect()
      .map(r => (r.getAs[Number](0).longValue, r.getLong(1))).toSeq
    assert(got === expect, "node/degree parity after exactly 8 peels")
    assert(sizes.zip(sizes.tail).forall { case (a, b) => b <= a },
      "peeling never adds edges")
    // the surviving core, if any, genuinely satisfies the k bound
    assert(deg.values.forall(_ >= Clustering.KCoreK.toLong) || deg.isEmpty)
  }

  test("q223 edge-cut audit matches an exact replay on both strategies") {
    val edges = Clustering.kCoreEdgeList(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val mxn = edges.flatMap(e => Seq(e._1, e._2)).max + 1
    def hashP(n: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
      val hex = d.digest(n.toString.getBytes("UTF-8"))
        .map(x => f"$x%02x").mkString.take(8)
      java.lang.Long.parseLong(hex, 16) % 8
    }
    def rangeP(n: Long): Long = n * 8 / mxn
    val expect = Seq(("hash", hashP _), ("range", rangeP _)).map {
      case (name, pf) =>
        val parts = edges.map(e => (pf(e._1), pf(e._2)))
        val cut = parts.count(p => p._1 != p._2).toLong
        val loads = parts.flatMap(p => Seq(p._1, p._2))
          .groupBy(identity).view.mapValues(_.length.toLong)
        (name, edges.length.toLong, cut, 1000000L * cut / edges.length,
          loads.values.max, loads.values.min)
    }.sortBy(_._1)
    val got = Clustering.q223EdgeCutAudit(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got === expect, "exact cut counts and load bounds per strategy")
    // an id-locality-free graph cuts ~1 - 1/P under ANY oblivious
    // placement; a large hash-vs-range gap would signal id communities
    got.foreach { case (s, _, _, ppm, _, _) =>
      assert(ppm > 700000L && ppm < 1000000L, s"cut_ppm($s) $ppm")
    }
  }
}
