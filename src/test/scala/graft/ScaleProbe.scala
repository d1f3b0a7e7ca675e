package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ListenerBusDrain

import graft.operators.{Clustering, Curation, Dedup, Relational, Similarity}

/** 10x scale probe (run manually on a quiet machine:
  * `SPARK_DRIVER_MEM=24g sbt "Test/runMain graft.ScaleProbe"`): measures
  * the top-heavy structural queries at sf0.1 and at a synthetic ~10x
  * blow-up, printing time ratios, output sizes, and plan-shape
  * fingerprints — the raw numbers SCALING.md records next to each
  * query's 100x scale claim.
  *
  * The blow-up is TEN DISJOINT SHARDS: ids offset per copy, each copy's
  * tokens suffixed `_k` (shingle spaces disjoint across copies), each
  * copy's embeddings cyclically rotated by k dims (cosine between a
  * vector and its rotation is far from the dup threshold), lineitem
  * order/part keys offset (ten disjoint co-purchase graphs). This is
  * deliberate: the null model for SCALING is ten independent corpora of
  * identical shape. Ten literal copies would instead make every doc a
  * 10-way near-dup — a quadratic dup-structure explosion that measures
  * a pathological corpus, not the operator's scaling exponent.
  */
object ScaleProbe {
  private val K = 10

  private def blowUp(spark: SparkSession, base: String): String =
    blowUpK(spark, base, K)

  private def blowUpK(spark: SparkSession, base: String, K: Int): String =
    // SPARK_GRAFT_BLOWUP_ROOT persists the fixture across probe runs
    // (VERDICT r13 item #5: "generate sf1 testdata once") — the blow-up
    // is deterministic (pure projections of the seeded base tables), so
    // a reused directory is the same bytes modulo file split; without
    // the env var the old temp-dir behavior stands.
    sys.env.get("SPARK_GRAFT_BLOWUP_ROOT") match {
      case Some(root) =>
        val dir = java.nio.file.Paths.get(root, s"x$K")
        if (Files.isDirectory(dir.resolve("lineitem.parquet"))) {
          println(s"[blowup] reusing persisted ${K}x fixture at $dir")
          dir.toString
        } else {
          Files.createDirectories(dir)
          blowUpInto(spark, base, K, dir.toString)
        }
      case None =>
        blowUpInto(spark, base, K,
          Files.createTempDirectory(s"scaleprobe${K}x").toString)
    }

  private def blowUpInto(spark: SparkSession, base: String, K: Int,
      out: String): String = {

    val docs = spark.read.parquet(s"$base/documents.parquet")
    val nDocs = docs.agg(max("doc_id")).first().getLong(0) + 1
    (0 until K).map { k =>
      docs.select(
        (col("doc_id") + lit(k * nDocs)).as("doc_id"),
        expr(s"array_join(transform(split(text, ' '), t -> concat(t, '_$k')), ' ')")
          .as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionAll _)
      .repartition(32).write.parquet(s"$out/documents.parquet")

    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    val nVec = emb.agg(max("vec_id")).first().getLong(0) + 1
    (0 until K).map { k =>
      val rotated =
        if (k == 0) col("embedding")
        else expr(s"concat(slice(embedding, ${k + 1}, size(embedding) - $k), " +
          s"slice(embedding, 1, $k))")
      emb.select((col("vec_id") + lit(k * nVec)).as("vec_id"),
        rotated.as("embedding"), col("label"))
    }.reduce(_ unionAll _)
      .repartition(16).write.parquet(s"$out/embeddings.parquet")

    val li = spark.read.parquet(s"$base/lineitem.parquet")
    val nOrd = li.agg(max("l_orderkey")).first().getLong(0) + 1
    val nPart = li.agg(max("l_partkey")).first().getLong(0) + 1
    (0 until K).map { k =>
      li.withColumn("l_orderkey", col("l_orderkey") + lit(k * nOrd))
        .withColumn("l_partkey", col("l_partkey") + lit(k * nPart))
    }.reduce(_ unionAll _)
      .repartition(32).write.parquet(s"$out/lineitem.parquet")

    // events + orders: disjoint user populations per shard — the RFM
    // probe (q220) exercises TwoPass.globalNtile over 10x users with the
    // same per-user profile distribution repeated ten times. ONE stride
    // covers both id domains (o_custkey's range is wider than user_id's
    // at the test SFs), so the events.user_id -> o_custkey FK pairs stay
    // aligned within a shard and never alias across shards.
    val ev = spark.read.parquet(s"$base/events.parquet")
    val ord = spark.read.parquet(s"$base/orders.parquet")
    val stride = math.max(
      ev.agg(max("user_id")).first().getLong(0),
      ord.agg(max("o_custkey")).first().getLong(0)) + 1
    (0 until K).map { k =>
      ev.withColumn("user_id", col("user_id") + lit(k * stride))
    }.reduce(_ unionAll _)
      .repartition(32).write.parquet(s"$out/events.parquet")

    val nOkey = ord.agg(max("o_orderkey")).first().getLong(0) + 1
    (0 until K).map { k =>
      ord.withColumn("o_custkey", col("o_custkey") + lit(k * stride))
        .withColumn("o_orderkey", col("o_orderkey") + lit(k * nOkey))
    }.reduce(_ unionAll _)
      .repartition(16).write.parquet(s"$out/orders.parquet")

    out
  }

  /** Join/exchange fingerprint of the FINAL (post-AQE) physical plan:
    * plan-shape invariance across scales means the same operator set,
    * not the same partition counts. */
  private def planShape(df: DataFrame): Seq[String] = {
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    "(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct|Exchange hashpartitioning|Exchange rangepartitioning|Exchange SinglePartition)"
      .r.findAllIn(plan).toSeq.distinct.sorted
  }

  /** Warm interleaved scale A/B — the q195 discipline applied to the
    * scale axis (`sbt "Test/runMain graft.ScaleProbe warm"`, 24g heap,
    * quiet machine): per query, run 1x, 10x, 1x, 10x in ONE session
    * with no cache clears inside the quartet, and report min-of-2 per
    * scale. The cold single-run table (below, `main` without args)
    * produced contradictory exponents across probes (q199 1.74x vs
    * 19.88x — the second reading was one cold iteration chain paying
    * uncached-shuffle I/O); interleaving cancels the first-run
    * JIT/page-cache bias that inverted the q195 probe conclusion, and
    * min-of-2 drops one-off GC/scheduler noise. */
  private def warmAb(spark: SparkSession, base: String, big: String,
      cases: Seq[(String, (SparkSession, String) => DataFrame)]): Unit = {
    for ((name, fn) <- cases) {
      spark.sharedState.cacheManager.clearCache()
      val obs = scala.collection.mutable.Map[String, List[Double]]()
        .withDefaultValue(Nil)
      val rows = scala.collection.mutable.Map[String, Long]()
      val shapes = scala.collection.mutable.Map[String, Seq[String]]()
      for ((label, dir) <- Seq("1x" -> base, "10x" -> big,
          "1x" -> base, "10x" -> big)) {
        val t0 = System.nanoTime()
        val df = fn(spark, dir)
        rows(label) = df.count()
        obs(label) = obs(label) :+ (System.nanoTime() - t0) / 1e9
        shapes(label) = planShape(df)
      }
      spark.sharedState.cacheManager.clearCache()
      val m1 = obs("1x").min; val m10 = obs("10x").min
      val ratio = m10 / m1
      println(f"$name%-22s 1x min ${m1}%7.2f s (runs ${obs("1x").map(t => f"$t%.2f").mkString("/")})" +
        f"  10x min ${m10}%7.2f s (runs ${obs("10x").map(t => f"$t%.2f").mkString("/")})" +
        f"  warm ratio $ratio%5.2f  exp ${math.log10(ratio)}%4.2f" +
        f"  rows ${rows("1x")}%d -> ${rows("10x")}%d" +
        s"  shape${if (shapes("1x") == shapes("10x")) "=SAME" else
          s" 1x=${shapes("1x").mkString("|")} 10x=${shapes("10x").mkString("|")}"}")
    }
  }

  /** Shuffle-codec A/B (guide §2.3; VERDICT r13 item #5): run the
    * shuffle-heavy probe queries at the 10x fixture under the codec
    * named in args(1) — `spark.io.compression.codec` is a core conf,
    * immutable after SparkContext start, so one JVM measures one codec
    * and the A/B interleaves two invocations of this mode. Prints
    * per-query min-of-2 wall time plus total shuffle-write bytes (the
    * quantity the codec actually changes). */
  private def codecMode(codec: String): Unit = {
    val spark = GraftSession.local(extra = Map("spark.io.compression.codec" -> codec))
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          shuffleBytes.addAndGet(
            s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
          ()
        }
      })
    val base = "/root/testdata/sf0.1"
    val big = blowUp(spark, base)
    println(s"[codec] $codec fixture=$big")
    val cases: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "q195_triangles" -> (Clustering.q195Triangles _),
      "q46_dedup_components" -> (Clustering.q46DedupComponents _),
      "q40_ngram_jaccard" -> (Dedup.q40NgramJaccard _),
      "q26_embedding_dedup" -> (Similarity.q26EmbeddingDedup _))
    for ((name, fn) <- cases) {
      spark.sharedState.cacheManager.clearCache()
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, big).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      ListenerBusDrain(spark) // stage-completed events post asynchronously
      println(f"[codec] $codec $name%-22s min ${times.min}%7.2f s " +
        f"(runs ${times.map(t => f"$t%.2f").mkString("/")})  " +
        f"cum_shuffle_write_mb ${shuffleBytes.get() / 1e6}%.0f")
    }
    spark.stop()
  }

  /** Above-switch recall validation for the adaptive dedup geometries
    * (VERDICT r13 item #7). q26 at the 10x fixture (adaptive bits > the
    * 12-bit floor): every planted (v, v+idOff) perturbed pair must be
    * output — recall 1.0 — and the banded candidate volume must scale
    * ~linearly in n. q21 at a documents-only blow-up past its 2^20-doc
    * switch: the two-level pigeonhole branch must reproduce every
    * shifted copy of the 1x pair set (the blow-up's shards are
    * token-disjoint, so the true pair set IS the shifted union, modulo
    * chance 64-bit simhash collisions, which are reported). */
  private def bigRecallMode(): Unit = {
    val spark = TestSpark.spark
    import spark.implicits._
    val base = "/root/testdata/sf0.1"

    // --- q26 at 10x and 30x (the adaptive branch engages at 30x: the
    // 2k-row embeddings table gives corpus n = 120k there, past the
    // 12-bit/16-occupancy floor) ---
    for (k <- Seq(10, 30)) {
      val big = blowUpK(spark, base, k)
      val (raw1, n1) = Similarity.dupCorpusSized(spark, base)
      val (rawK, nK) = Similarity.dupCorpusSized(spark, big)
      val (t1, b1) = Similarity.dupGeometry(n1)
      val (tK, bK) = Similarity.dupGeometry(nK)
      println(s"[recall] q26 ${k}x n=$n1 -> $nK  geometry ${t1}x$b1 -> " +
        s"${tK}x$bK (adaptive branch engaged: ${bK > b1 || tK != t1})")
      val outK = Similarity.q26WithGeometry(rawK, tK, bK)
        .select(col("vec_a"), col("vec_b")).cache()
      // planted pair = (v, v + idOff): idOff is max(vec_id)+1 over the
      // blown-up embeddings table (dupCorpusSized's own offset rule); a
      // pair matching the filter is necessarily a real vector + its OWN
      // perturbed copy. One planted pair exists per embedding row.
      val idOff = graft.Tables.embeddings(spark, big)
        .agg(max(col("vec_id"))).head().getLong(0) + 1
      val nVecRows = nK / 2
      val planted = outK.filter(col("vec_b") === col("vec_a") + lit(idOff))
        .count()
      println(f"[recall] q26 ${k}x planted pairs present $planted%d of " +
        f"$nVecRows%d -> recall ${planted.toDouble / nVecRows}%.4f")
      val c1 = Similarity.dupCandidateCount(raw1, t1, b1)
      val cK = Similarity.dupCandidateCount(rawK, tK, bK)
      println(f"[recall] q26 ${k}x banded candidates $c1%d -> $cK%d " +
        f"(per-row density ${c1.toDouble / n1}%.1f -> ${cK.toDouble / nK}%.1f" +
        f" — the occupancy law bounds density at tables*occupancy/2)")
      outK.unpersist()
    }

    // --- q21 at 1M docs, both banding levels, documents-only blow-up ---
    val docs1 = spark.read.parquet(s"$base/documents.parquet")
    val nDocs = docs1.count()
    val needK = (1048576L / nDocs + 2).toInt
    val droot = sys.env.get("SPARK_GRAFT_BLOWUP_ROOT")
      .map(r => java.nio.file.Paths.get(r, s"docs_x$needK"))
      .getOrElse(Files.createTempDirectory(s"docsx$needK"))
    if (!Files.isDirectory(droot.resolve("documents.parquet"))) {
      Files.createDirectories(droot)
      (0 until needK).map { k =>
        docs1.select(
          (col("doc_id") + lit(k * nDocs)).as("doc_id"),
          expr(s"array_join(transform(split(text, ' '), t -> concat(t, '_$k')), ' ')")
            .as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.reduce(_ unionAll _)
        .repartition(32).write.mode("overwrite")
        .parquet(droot.resolve("documents.parquet").toString)
    }
    println(s"[recall] q21 corpus ${nDocs * needK} docs (K=$needK) at $droot" +
      s" — two-level switch at ${Dedup.SimOccupancy << 16} docs")
    // The exactness statement at 1M-doc volume: the two-level pigeonhole
    // (forced here — this corpus sits below the switch, so it would
    // auto-select the single-level banding) must return the IDENTICAL
    // pair set as the single-level banding — the shape every tested SF
    // runs and the oracle verifies — over the same 1M-doc corpus. (A shifted-union-of-1x expectation does NOT hold
    // here: the blow-up suffixes tokens per shard, which re-draws every
    // simhash, so within-shard pair sets differ from 1x by design.)
    val t0 = System.nanoTime()
    val outTwo = Dedup.q21WithLevel(spark, droot.toString, Some(true))
      .select(col("doc_a"), col("doc_b")).cache()
    val nTwo = outTwo.count()
    val tTwo = (System.nanoTime() - t0) / 1e9
    val t1s = System.nanoTime()
    val outOne = Dedup.q21WithLevel(spark, droot.toString, Some(false))
      .select(col("doc_a"), col("doc_b")).cache()
    val nOne = outOne.count()
    val tOne = (System.nanoTime() - t1s) / 1e9
    val missing = outOne.except(outTwo).count()
    val extra = outTwo.except(outOne).count()
    println(f"[recall] q21 two-level $nTwo%d pairs in $tTwo%.2f s; " +
      f"single-level $nOne%d pairs in $tOne%.2f s; " +
      f"missing=$missing%d extra=$extra%d (exactness holds iff both 0)")
    outTwo.unpersist(); outOne.unpersist()
    spark.stop()
  }

  /** q21 banding-level crossover: time BOTH pigeonhole levels on
    * doubled corpora built from the persisted 211x docs fixture (one
    * more token-suffix union per doubling — the 422-way union a direct
    * blow-up would need stalls Catalyst). Prints per-level wall time
    * and pair counts at each corpus size; the SimOccupancy switch
    * constant should sit at the measured crossover. */
  private def q21CrossMode(): Unit = {
    val spark = TestSpark.spark
    val root = sys.env.getOrElse("SPARK_GRAFT_BLOWUP_ROOT",
      sys.error("q21cross needs SPARK_GRAFT_BLOWUP_ROOT"))
    val base211 = java.nio.file.Paths.get(root, "docs_x211")
    require(Files.isDirectory(base211.resolve("documents.parquet")),
      "run `ScaleProbe bigrecall` first to build docs_x211")
    def doubled(src: java.nio.file.Path, name: String): java.nio.file.Path = {
      val dst = java.nio.file.Paths.get(root, name)
      if (!Files.isDirectory(dst.resolve("documents.parquet"))) {
        Files.createDirectories(dst)
        val d = spark.read.parquet(src.resolve("documents.parquet").toString)
        val n = d.agg(max("doc_id")).first().getLong(0) + 1
        d.unionAll(d.select((col("doc_id") + lit(n)).as("doc_id"),
            expr("array_join(transform(split(text, ' '), t -> concat(t, '_d')), ' ')")
              .as("text"),
            col("lang"), col("source"), col("n_chars")))
          .repartition(32).write.mode("overwrite")
          .parquet(dst.resolve("documents.parquet").toString)
      }
      dst
    }
    val dirs = Seq("1.05M" -> base211,
      "2.1M" -> doubled(base211, "docs_x422"))
    for ((label, dir) <- dirs; round <- 1 to 2;
         (lname, lvl) <- Seq("single" -> false, "two" -> true)) {
      spark.sharedState.cacheManager.clearCache()
      val t0 = System.nanoTime()
      val n = Dedup.q21WithLevel(spark, dir.toString, Some(lvl)).count()
      println(f"[q21cross] $label $lname%-6s run$round " +
        f"${(System.nanoTime() - t0) / 1e9}%7.2f s  ($n pairs)")
    }
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("codec")) {
      codecMode(if (args.length > 1) args(1) else "lz4"); return
    }
    if (args.headOption.contains("bigrecall")) { bigRecallMode(); return }
    if (args.headOption.contains("q21cross")) { q21CrossMode(); return }
    val spark = TestSpark.spark
    val base = "/root/testdata/sf0.1"
    println("building 10x blow-up ...")
    val big = blowUp(spark, base)
    println(s"blow-up at $big")

    if (args.headOption.contains("warm")) {
      // the three operators whose cold continuation readings contradict
      // the first probe (SCALING.md), plus q195's two closes for the
      // size-driven default's record at both scales
      warmAb(spark, base, big, Seq(
        "q40_ngram_jaccard" -> (Dedup.q40NgramJaccard _),
        "q26_embedding_dedup" -> (Similarity.q26EmbeddingDedup _),
        "q199_kcore" -> (Clustering.q199KCore _),
        "q195_triangles" -> (Clustering.q195Triangles _),
        "q46_dedup_components" -> (Clustering.q46DedupComponents _)))
      spark.stop()
      return
    }

    if (args.headOption.contains("geom")) {
      // q26 LSH geometry A/B at 30x in ONE session (the 99s-vs-40s
      // cross-session reading was confounded: the second session's 1x
      // leg was 4.7x slower with UNCHANGED geometry). For each geometry:
      // full-query wall time (interleaved twice, min-of-2) plus the
      // candidate-pair count before/after distinct — the quantity the
      // occupancy law is supposed to bound.
      val big30 = { println("building 30x blow-up ..."); blowUpK(spark, base, 30) }
      val (raw, n) = Similarity.dupCorpusSized(spark, big30)
      println(s"corpus n=$n adaptive=${Similarity.dupGeometry(n)}")
      val variants = Seq("fixed_18x12" -> (18, 12),
        "adaptive" -> Similarity.dupGeometry(n))
      val obs = scala.collection.mutable.Map[String, List[Double]]()
        .withDefaultValue(Nil)
      for (round <- 1 to 2; (label, (t, b)) <- variants) {
        spark.sharedState.cacheManager.clearCache()
        val t0 = System.nanoTime()
        val rows = Similarity.q26WithGeometry(raw, t, b).count()
        val dt = (System.nanoTime() - t0) / 1e9
        obs(label) = obs(label) :+ dt
        println(f"[$round] $label%-12s ($t x $b) $dt%7.2f s  out rows $rows%d")
      }
      for ((label, (t, b)) <- variants)
        println(f"$label%-12s ($t x $b) min ${obs(label).min}%7.2f s" +
          f" (runs ${obs(label).map(x => f"$x%.2f").mkString("/")})")
      spark.stop()
      return
    }

    if (args.headOption.contains("warm3")) {
      // round-13 extension: a SECOND scale point. A single 10x ratio can
      // hide super-linear onset (a term that is 5% of the cost at 10x
      // dominates at 100x); two intervals measure the exponent's
      // CURVATURE. Per query: interleave 1x,10x,30x twice (min-of-2 per
      // scale, the warm discipline), report the per-decade exponent on
      // each interval — exp(1->10) = log10(t10/t1), exp(10->30) =
      // log(t30/t10)/log(3). A 100 TB claim wants the second number at
      // or below the first; rising curvature names the operator whose
      // constant-looking term is actually growing.
      val big30 = { println("building 30x blow-up ..."); blowUpK(spark, base, 30) }
      println(s"30x blow-up at $big30")
      val allCases: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
        "q40_ngram_jaccard" -> (Dedup.q40NgramJaccard _),
        "q26_embedding_dedup" -> (Similarity.q26EmbeddingDedup _),
        "q46_dedup_components" -> (Clustering.q46DedupComponents _),
        "q199_kcore" -> (Clustering.q199KCore _),
        "q50_semdedup" -> (Clustering.q50SemDedup _),
        "q208_coreset_greedy" -> (Curation.q208CoresetGreedy _),
        // the other fixed-bucket LSH ops, probed after q26's geometry
        // went quadratic on the second interval: q21 bands on 4 x 2^16
        // fixed buckets, q20 bands on hash-valued (unbounded) buckets
        "q21_simhash_dedup" -> (Dedup.q21SimHashDedup _),
        "q20_minhash_dedup" -> (Dedup.q20MinHashDedup _),
        // second-interval completion for the rest of the cost head:
        // q86/q195 never measured at 30x, q124/q151 flat at 10x (flat
        // often means constant-dominated — the 30x point shows the slope)
        "q86_cluster_canonical" -> (Clustering.q86ClusterCanonical _),
        "q195_triangles" -> (Clustering.q195Triangles _),
        "q124_embedding_cov" -> (Similarity.q124EmbeddingCovariance _),
        "q151_quantile_norm" -> (Curation.q151QuantileNorm _))
      // optional extra args: probe only the named cases
      val cases = if (args.length > 1)
        allCases.filter(c => args.tail.contains(c._1)) else allCases
      for ((name, fn) <- cases) {
        spark.sharedState.cacheManager.clearCache()
        val obs = scala.collection.mutable.Map[String, List[Double]]()
          .withDefaultValue(Nil)
        val rows = scala.collection.mutable.Map[String, Long]()
        val shapes = scala.collection.mutable.Map[String, Seq[String]]()
        val legs = Seq("1x" -> base, "10x" -> big, "30x" -> big30)
        for ((label, dir) <- legs ++ legs) {
          val t0 = System.nanoTime()
          val df = fn(spark, dir)
          rows(label) = df.count()
          obs(label) = obs(label) :+ (System.nanoTime() - t0) / 1e9
          shapes(label) = planShape(df)
        }
        spark.sharedState.cacheManager.clearCache()
        val (m1, m10, m30) = (obs("1x").min, obs("10x").min, obs("30x").min)
        val e10 = math.log10(m10 / m1)
        val e30 = math.log(m30 / m10) / math.log(3.0)
        println(f"$name%-22s 1x $m1%7.2f  10x $m10%7.2f  30x $m30%7.2f s" +
          f"  exp(1->10) $e10%5.2f  exp(10->30) $e30%5.2f" +
          f"  rows ${rows("1x")}%d/${rows("10x")}%d/${rows("30x")}%d" +
          s"  shape${if (shapes("10x") == shapes("30x")) "=SAME@10/30" else
            s" 10x=${shapes("10x").mkString("|")} 30x=${shapes("30x").mkString("|")}"}")
      }
      spark.stop()
      return
    }

    if (args.headOption.contains("warm2")) {
      // round-12 extension: the remaining heavy BATCH operators whose
      // 10x exponents were never warm-measured — the board's batch cost
      // head (q50/q208/q86) plus q124 (the r11 board's headline
      // disturbance key, whose own scaling was never on record)
      warmAb(spark, base, big, Seq(
        "q50_semdedup" -> (Clustering.q50SemDedup _),
        "q208_coreset_greedy" -> (Curation.q208CoresetGreedy _),
        "q86_cluster_canonical" -> (Clustering.q86ClusterCanonical _),
        "q124_embedding_cov" -> (Similarity.q124EmbeddingCovariance _)))
      spark.stop()
      return
    }

    val cases: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "q40_ngram_jaccard" -> (Dedup.q40NgramJaccard _),
      "q46_dedup_components" -> (Clustering.q46DedupComponents _),
      "q26_embedding_dedup" -> (Similarity.q26EmbeddingDedup _),
      "q195_triangles" -> (Clustering.q195Triangles _),
      "q195_forced_broadcast" -> (Clustering.q195TrianglesBroadcastClose _),
      "q199_kcore" -> (Clustering.q199KCore _),
      // the round-11 globalNtile conversions: exact ntile with no
      // single-task window — the probe checks the range-partitioned
      // rank decomposition stays ~linear over 10x rows
      "q151_quantile_norm" -> (Curation.q151QuantileNorm _),
      "q224_woe_audit" -> (Curation.q224WoeAudit _),
      "q220_rfm_segments" -> (Relational.q220RfmSegments _),
      "q232_length_buckets_scaled" -> (Curation.q232LengthBucketsScaled _))

    for ((name, fn) <- cases) {
      val rows = scala.collection.mutable.Map[String, Long]()
      val times = scala.collection.mutable.Map[String, Double]()
      val shapes = scala.collection.mutable.Map[String, Seq[String]]()
      for ((label, dir) <- Seq("1x" -> base, "10x" -> big)) {
        spark.sharedState.cacheManager.clearCache()
        // the timer wraps CONSTRUCTION + count: the globalNtile queries
        // (and any eager localCheckpoint pipeline) do their heavy work
        // at construction time
        val t0 = System.nanoTime()
        val df = fn(spark, dir)
        rows(label) = df.count()
        times(label) = (System.nanoTime() - t0) / 1e9
        shapes(label) = planShape(df)
      }
      val ratio = times("10x") / times("1x")
      val expo = math.log10(ratio)
      println(f"$name%-22s 1x ${times("1x")}%7.2f s (${rows("1x")}%7d rows)" +
        f"  10x ${times("10x")}%7.2f s (${rows("10x")}%8d rows)" +
        f"  ratio $ratio%5.2f  exp $expo%4.2f" +
        s"  shape${if (shapes("1x") == shapes("10x")) "=SAME" else
          s" 1x=${shapes("1x").mkString("|")} 10x=${shapes("10x").mkString("|")}"}")
    }
    spark.stop()
  }
}
