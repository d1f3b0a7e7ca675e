package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Clustering, Dedup, Relational, Similarity}

/** Quality-floor report for the nine no-oracle queries (approximate or
  * iterative by design — q21/q23/q30/q34/q47/q50/q53/q57/q125): measures the
  * same recall/error/monotonicity numbers the spec floors assert, and
  * writes them as ONE JSON file so the round artifact (QUALITY_r{N}.json,
  * committed next to CORRECTNESS_r{N}.json) shows measured values, not
  * just `no_oracle`.
  *
  * Run per round: `sbt "runMain graft.Quality /root/testdata/sf0.01 QUALITY_r8.json"`
  * (any SF dir works; floors are SF-invariant by design).
  */
object Quality {

  /** Drift direction per metric: +1 = higher is better (a drop is
    * adverse), -1 = lower is better (a rise is adverse), 0 =
    * informational (pairs counts, data-dependent shares — never
    * flagged). The floors only gate the FLOOR; a metric can sag from
    * 0.92 toward a 0.85 floor across rounds without any single round
    * noticing — the drift guard (QualityDriftSpec) red-flags any >10%
    * adverse round-over-round move even when still above floor. */
  val MetricDirection: Map[String, Int] = Map(
    "minhash_overlap_recall" -> 1, "recall_at_10" -> 1, "recall" -> 1,
    "precision" -> 1, "objective_final" -> 1,
    "max_rel_error" -> -1, "max_rank_error_frac" -> -1,
    "orthonormality_residual" -> -1, "monotonic_violations" -> -1,
    "pairs" -> 0, "floor" -> 0, "objective_gain" -> 0,
    "explained_top8_share" -> 0)

  /** True when `cur` moved >10% in the adverse direction vs `prev`.
    * Lower-better (error) metrics get an absolute epsilon of 10% of the
    * metric's floor so near-zero noise (0 -> 1e-3 under a 0.05 floor)
    * never flags; higher-better (recall-class) metrics sit near 1 where
    * the relative threshold alone is the right test. */
  def adverseDrift(metric: String, prev: Double, cur: Double,
      floor: Option[Double]): Boolean =
    MetricDirection.getOrElse(metric, 0) match {
      case 1  => cur < prev * 0.9 - 1e-12
      case -1 =>
        val eps = math.max(floor.map(f => 0.1 * math.abs(f)).getOrElse(1e-9), 1e-12)
        cur > prev * 1.1 + eps
      case _  => false
    }

  /** All committed round files, (round -> query -> metric -> value),
    * sorted by round. */
  def loadRounds(dir: String = "."): Seq[(Int, Map[String, Map[String, Double]])] = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.matches("QUALITY_r\\d+\\.json"))
    files.map { f =>
      val round = f.getName.stripPrefix("QUALITY_r").stripSuffix(".json").toInt
      val qs = om.readTree(f).get("queries")
      val m = scala.jdk.CollectionConverters.IteratorHasAsScala(qs.fieldNames())
        .asScala.map { q =>
          val n = qs.get(q)
          q -> scala.jdk.CollectionConverters.IteratorHasAsScala(n.fieldNames())
            .asScala.map(k => k -> n.get(k).asDouble()).toMap
        }.toMap
      round -> m
    }.toSeq.sortBy(_._1)
  }

  /** Adverse >10% moves between the two most recent rounds:
    * (query, metric, prev, cur). */
  def driftReport(rounds: Seq[(Int, Map[String, Map[String, Double]])]): Seq[(String, String, Double, Double)] =
    if (rounds.size < 2) Nil
    else {
      val (_, prev) = rounds(rounds.size - 2)
      val (_, cur) = rounds.last
      for {
        (q, cm) <- cur.toSeq
        pm <- prev.get(q).toSeq
        (metric, cv) <- cm.toSeq
        pv <- pm.get(metric).toSeq
        if adverseDrift(metric, pv, cv, cm.get("floor"))
      } yield (q, metric, pv, cv)
    }

  /** quality_history.json: every metric's full per-round history — the
    * committed record that makes a slow multi-round sag visible at a
    * glance (and lets the drift spec run without re-measuring). */
  def writeHistory(dir: String = "."): Unit = {
    val rounds = loadRounds(dir)
    val queries = rounds.flatMap(_._2.keys).distinct.sorted
    val json = queries.map { q =>
      val metrics = rounds.flatMap(_._2.get(q).map(_.keys).getOrElse(Nil))
        .distinct.sorted
      val ms = metrics.map { k =>
        val hist = rounds.flatMap { case (r, m) =>
          m.get(q).flatMap(_.get(k)).map(v => f""""r$r":$v%.9f""")
        }.mkString("{", ",", "}")
        s""""$k":$hist"""
      }.mkString("{", ",", "}")
      s""""$q":$ms"""
    }.mkString(
      s"""{"rounds":${rounds.map(_._1).mkString("[", ",", "]")},"queries":{""",
      ",", "}}")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/quality_history.json"),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  private def topkSet(df: DataFrame): Set[(Long, Long)] =
    df.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  /** (metric -> value) per no-oracle query; every floor mirrors its spec. */
  def measure(spark: SparkSession, sfDir: String): Seq[(String, Seq[(String, Double)])] = {
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, Seq[(String, Double)])]
    def done(name: String, m: (String, Double)*): Unit = {
      out += name -> m.toSeq
      spark.sharedState.cacheManager.clearCache()
    }

    // q21 — SimHash near-dup: structural guarantees are exact (ordering,
    // hamming cutoff); quality = how much of the MinHash+verify dup set
    // (q20, itself oracle-checked vs brute-force J>=0.8) it re-finds.
    // The two detectors measure DIFFERENT similarities — q20 thresholds
    // set Jaccard over shingles, SimHash Hamming<=3 approximates a high
    // cosine over term-frequency vectors — so full cross-method overlap
    // is not expected: a pair at Jaccard 0.8 with disjoint heavy tokens
    // can legitimately sit at Hamming 4+. Everything is deterministic
    // (fixed planes, fixed corpus), so the 0.6 measured at sf0.01 is a
    // stable number, not a flake; 0.5 is the regression floor
    // (TrainingDataSpec asserts the same bound).
    val simPairs = Dedup.q21SimHashDedup(spark, sfDir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val mhPairs = Dedup.q20MinHashDedup(spark, sfDir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    done("q21_simhash_dedup",
      "pairs" -> simPairs.size.toDouble,
      "minhash_overlap_recall" ->
        (if (mhPairs.isEmpty) 1.0
         else (simPairs & mhPairs).size.toDouble / mhPairs.size),
      "floor" -> 0.5)

    // Exact ANN baseline for the three approximate ANN queries.
    val exact = topkSet(Similarity.q22AnnBruteForce(spark, sfDir))

    val lsh = topkSet(Similarity.q23AnnLsh(spark, sfDir))
    done("q23_ann_lsh",
      "recall_at_10" -> (exact & lsh).size.toDouble / exact.size,
      "floor" -> 0.85)

    val ivf = topkSet(Similarity.q30AnnIvf(spark, sfDir))
    done("q30_ann_ivf",
      "recall_at_10" -> (exact & ivf).size.toDouble / exact.size,
      "floor" -> 0.85)

    val pq = topkSet(Similarity.q53AnnIvfPq(spark, sfDir))
    done("q53_ann_ivf_pq",
      "recall_at_10" -> (exact & pq).size.toDouble / exact.size,
      "floor" -> 0.85)

    // q34 — HLL++ distinct counts: max relative error vs exact.
    val approxD = Relational.q34ApproxDistinct(spark, sfDir)
      .select("event_type", "approx_users").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exactD = Tables.events(spark, sfDir)
      .groupBy("event_type").agg(countDistinct("user_id").as("u")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    done("q34_approx_distinct",
      "max_rel_error" -> exactD.map { case (k, e) =>
        math.abs(approxD.getOrElse(k, 0L) - e).toDouble / e }.max,
      "floor" -> 0.05)

    // q47 — k-means: spherical objective must be non-decreasing and must
    // move off its init (the spec's monotonicity contract).
    val (_, objectives) = Clustering.kmeansTrain(spark, sfDir, k = 8, rounds = 4)
    done("q47_kmeans_cluster",
      "objective_final" -> objectives.last,
      "monotonic_violations" -> objectives.sliding(2).count {
        case Seq(a, b) => b < a - 1e-9
        case _         => false
      }.toDouble,
      "objective_gain" -> (objectives.last - objectives.head))

    // q50 — SemDeDup: precision/recall of the drop set vs the brute-force
    // cosine>=0.8 closure over the planted corpus.
    val corpus = Similarity.dupCorpus(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      d / math.sqrt(na * nb)
    }
    val expectedDrop = (for {
      i <- corpus.indices; j <- 0 until i
      if cos(corpus(i)._2, corpus(j)._2) >= 0.8
    } yield corpus(i)._1).toSet
    val gotDrop = Clustering.q50SemDedup(spark, sfDir)
      .filter(!col("is_kept")).select("vec_id").collect()
      .map(_.getLong(0)).toSet
    done("q50_semdedup",
      "recall" -> (if (expectedDrop.isEmpty) 1.0
                   else (gotDrop & expectedDrop).size.toDouble / expectedDrop.size),
      "precision" -> (if (gotDrop.isEmpty) 1.0
                      else (gotDrop & expectedDrop).size.toDouble / gotDrop.size),
      "floor" -> 0.85)

    // q57 — GK approximate quantiles: worst rank error as a fraction of n
    // (guarantee: <= 1/accuracy = 1e-4, plus integer-rank slack).
    val approxQ = Relational.q57ApproxQuantiles(spark, sfDir).collect()
      .map(r => r.getString(0) -> Seq(0.5 -> r.getDouble(1),
        0.95 -> r.getDouble(2), 0.99 -> r.getDouble(3))).toMap
    val values = Tables.events(spark, sfDir)
      .select(col("event_type"), col("value")).collect()
      .map(r => r.getString(0) -> r.getDouble(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    done("q57_approx_quantiles",
      "max_rank_error_frac" -> approxQ.map { case (k, qs) =>
        val vs = values(k); val n = vs.length
        qs.map { case (p, v) =>
          math.max(0.0, math.abs(vs.count(_ <= v) - p * n) - 1) / n }.max
      }.max,
      "floor" -> 1e-4)

    // q125 — PCA projection: iterative eigensolve, no SQL oracle. The
    // published numbers are the orthonormality residual of the solve and
    // the share of total variance the kept top-k components explain
    // (data-dependent — reported, floor on orthonormality only).
    {
      val (c, _) = Similarity.covAndMean(spark, sfDir)
      val (evals, evecs) = Similarity.jacobiEigen(c)
      val dim = c.length
      val ortho = (for (a <- 0 until dim; b <- a until dim) yield {
        val d = (0 until dim).map(k => evecs(a)(k) * evecs(b)(k)).sum
        math.abs(d - (if (a == b) 1.0 else 0.0))
      }).max
      val trace = (0 until dim).map(i => c(i)(i)).sum
      done("q125_pca_project",
        "orthonormality_residual" -> ortho,
        "explained_top8_share" -> evals.take(Similarity.PcaK).sum / trace,
        "floor" -> 1e-8)
    }

    out.toSeq
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outPath = if (args.length > 1) args(1) else "quality.json"
    val spark = GraftSession.local()
    val metrics = measure(spark, sfDir)
    val json = metrics.map { case (q, ms) =>
      ms.map { case (k, v) => f""""$k":$v%.9f""" }
        .mkString(s""""$q":{""", ",", "}")
    }.mkString(s"""{"sf":"$sfDir","queries":{""", ",", "}}")
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(json)
    // Refresh the committed per-round history + print the drift verdict
    // (the spec-enforced check lives in QualityDriftSpec; this print is
    // the human-readable echo at measurement time).
    if (outPath.matches("QUALITY_r\\d+\\.json")) {
      writeHistory()
      val drifts = driftReport(loadRounds())
      if (drifts.isEmpty) println("quality drift: none >10% adverse vs previous round")
      else drifts.foreach { case (q, k, p, c) =>
        println(f"quality drift ALERT: $q.$k $p%.6f -> $c%.6f") }
    }
    spark.stop()
  }
}
