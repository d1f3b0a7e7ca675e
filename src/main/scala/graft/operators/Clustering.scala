package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Graph/geometry clustering for training-data curation.
  *
  * q46 — dedup-graph connected components: near-duplicate PAIRS (q40's
  * exact trigram-Jaccard join) only become a dedup DECISION once
  * transitive groups are resolved — A~B and B~C must collapse to one
  * cluster {A,B,C} with one canonical survivor, or chained dups leak
  * through pairwise-only dedup. Components are computed by iterative
  * min-label propagation over the edge list.
  *
  * q47 — distributed spherical k-means over the embedding column: the
  * corpus-clustering step of curation pipelines (topic balancing,
  * diversity sampling, per-cluster quotas). Unlike q30's IVF training
  * (bounded driver-side sample — index building), this is FULL-CORPUS
  * Lloyd's: assignment and centroid sums run as Spark aggregations on
  * executors; the driver only ever sees K*(dim+1) scalars per round.
  */
object Clustering {

  // ---------------------------------------------------------------------
  // q46 — connected components over the q40 near-dup pairs; canonical
  // doc per component = min doc_id (keep-first dedup policy). Output is
  // one row per document (singletons are their own canonical), so the
  // result is corpus-sized, never pair-sized.
  //
  // Scale shape — SIZE-ADAPTIVE, like an engine's join-strategy pick:
  //  - The edge list is the set of NEAR-DUP PAIRS — orders of magnitude
  //    smaller than the corpus (q40's prefix filter emits only verified
  //    J>=threshold pairs). When it fits the driver comfortably
  //    (<= CcDriverEdgeCap edges, a count the pair frame yields for
  //    free), components resolve by UNION-FIND with path compression in
  //    O(E a(E)) — microseconds — and the node->min-label map (edge-
  //    touched nodes only, pair-set-sized) broadcasts back as the join
  //    build side. This is the fast path virtually every real dedup run
  //    takes, and it replaces 3+ distributed rounds (each a join +
  //    aggregate + checkpoint barrier) with one collect.
  //  - Past the cap, iterative min-label propagation: each round is one
  //    equi-join (edges x labels, both sides 2-long rows) + a
  //    min-groupBy — convergence in diameter rounds, and near-dup
  //    graphs are shallow (tight cliques/chains; measured diameter <= 3
  //    on every SF here, 25-round cap as a guard). Lineage is truncated
  //    every round with an eager localCheckpoint, or iteration i's plan
  //    would embed i joins. (localCheckpoint trades fault tolerance for
  //    speed; a 100 TB deployment sets a checkpoint dir and swaps in
  //    reliable checkpoint() at the same call sites.) The only
  //    driver-side value per round is the O(1) convergence count. For
  //    adversarial long-chain graphs the classic escalation is
  //    large-star/small-star contraction (O(log n) rounds, same join
  //    shape) — not needed for the dedup workload this models.
  // Both paths produce the identical node -> min-member label frame
  // (spec-asserted), so the switch is invisible to callers.
  // ---------------------------------------------------------------------
  private val MaxCcRounds = 25

  /** Edges fitting under this cap resolve on the driver (16 bytes/edge
    * -> ~64 MB at the cap; the label map sent back is smaller still). */
  private[graft] val CcDriverEdgeCap = 4000000L

  /** node -> min-member component label for every edge-touched node.
    * `pairs` must be (doc_a, doc_b) with doc_a < doc_b. */
  private[graft] def componentLabels(spark: SparkSession, pairs: DataFrame,
                                     driverCap: Long): DataFrame = {
    val cached = pairs.cache()
    val nEdges = cached.count()
    val out = if (nEdges <= driverCap) {
      // driver fast path: union-find, union-by-min => root == min member
      val es = cached.collect().map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      es.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
      val rows = parent.keys.toSeq.sorted.map(v => (v, find(v)))
      import spark.implicits._
      rows.toDF("node", "lbl")
    } else {
      val edges = cached
        .unionAll(cached.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .cache()
      var labels = edges.select(col("src").as("node")).distinct()
        .withColumn("lbl", col("node"))
        .localCheckpoint(true)
      var changed = 1L
      var round = 0
      while (changed > 0 && round < MaxCcRounds) {
        val nbrMin = edges
          .join(labels.select(col("node").as("dst"), col("lbl").as("dst_lbl")), "dst")
          .groupBy(col("src").as("node"))
          .agg(min(col("dst_lbl")).as("nbr_lbl"))
        val updated = labels.join(nbrMin, Seq("node"), "left")
          .select(col("node"),
            least(col("lbl"), coalesce(col("nbr_lbl"), col("lbl"))).as("lbl"),
            (coalesce(col("nbr_lbl"), col("lbl")) < col("lbl")).as("moved"))
          .localCheckpoint(true)
        changed = updated.filter(col("moved")).count()
        labels = updated.select(col("node"), col("lbl"))
        round += 1
      }
      edges.unpersist()
      labels
    }
    cached.unpersist()
    out
  }

  def q46DedupComponents(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = Dedup.q40NgramJaccard(spark, sfDir)
      .select(col("doc_a"), col("doc_b"))
    val labels = componentLabels(spark, pairs, CcDriverEdgeCap)
    Tables.documents(spark, sfDir).select(col("doc_id"))
      .join(labels.select(col("node").as("doc_id"), col("lbl")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("lbl"), col("doc_id")).as("component"),
        (coalesce(col("lbl"), col("doc_id")) === col("doc_id")).as("is_canonical"))
      .orderBy("doc_id")
  }

  /** Transitive closure by recursive CTE over the same exact edge set —
    * tractable at oracle SFs because the near-dup edge list is tiny. */
  val q46Sql: String =
    """WITH RECURSIVE t AS (
      |  SELECT doc_id,
      |         list_distinct(CASE WHEN len(toks) >= 3
      |           THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
      |                 for i in range(1, len(toks) - 1)]
      |           ELSE [] END) AS sh
      |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS toks
      |        FROM documents)),
      |e0 AS (
      |  SELECT a.doc_id AS u, b.doc_id AS v
      |  FROM t a JOIN t b ON a.doc_id < b.doc_id
      |  WHERE len(a.sh) > 0 AND len(b.sh) > 0
      |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |          / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5),
      |e AS (SELECT u, v FROM e0 UNION SELECT v, u FROM e0),
      |r AS (
      |  SELECT u AS node, v AS reach FROM e
      |  UNION
      |  SELECT r.node, e.v FROM r JOIN e ON r.reach = e.u),
      |comp AS (SELECT node, LEAST(node, MIN(reach)) AS component
      |         FROM r GROUP BY node)
      |SELECT d.doc_id,
      |       COALESCE(comp.component, d.doc_id) AS component,
      |       COALESCE(comp.component, d.doc_id) = d.doc_id AS is_canonical
      |FROM documents d LEFT JOIN comp ON d.doc_id = comp.node
      |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q47 — distributed spherical k-means (full-corpus Lloyd's).
  //
  // Per round: (1) assignment = argmax cosine against the K current
  // centroids, one fused CentroidScores projection (no shuffle);
  // (2) centroid update = posexplode(unit vector) -> groupBy(cluster,
  // dim) sum — ONE shuffle whose map-side partial aggregation collapses
  // every partition to at most K*dim rows, so shuffle volume is
  // O(partitions * K * dim), independent of corpus size; (3) the driver
  // collects K*dim sums + K counts (O(1) wrt corpus), renormalizes, and
  // broadcasts the next round's centroids inside the expression. Empty
  // clusters keep their previous centroid. Deterministic: init =
  // evenly-id-spaced corpus vectors, fixed round count.
  //
  // No SQL oracle (iterative float training); ClusteringSpec asserts
  // the spherical objective (mean cosine to assigned centroid) is
  // non-decreasing over rounds and the output partitions the corpus.
  // ---------------------------------------------------------------------
  private val KmK      = 8
  private val KmRounds = 5

  import graft.functions.BcTensor
  import graft.functions.GraftFunctions.centroidScores

  /** Unit-normalized corpus: (vec_id, unit array<double>). The norm is
    * LAMBDA-BOUND once per row (transform over a one-element array —
    * the q48 construct): referencing a derived norm column inside the
    * per-element division lambda would let CollapseProject inline the
    * whole sqrt(dot) tree there, recomputed per element (64x). */
  private def unitCorpus(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        graft.functions.GraftFunctions.unitNormalize(col("embedding")).as("unit"))
      .filter(col("unit").isNotNull)

  /** Full-corpus Lloyd's over the embeddings table; returns (final
    * centroids, per-round mean-cosine objective trace). Exposed for the
    * spec's monotonicity assertion. */
  private[graft] def kmeansTrain(spark: SparkSession, sfDir: String,
      k: Int = KmK, rounds: Int = KmRounds): (Array[Array[Double]], Seq[Double]) =
    kmeansTrainOn(unitCorpus(spark, sfDir), k, rounds)

  /** Lloyd's over ANY (vec_id long, unit array<double>) corpus — q47
    * trains on the raw embeddings, q50 on the planted-near-dup union. */
  private[graft] def kmeansTrainOn(unitDf: DataFrame,
      k: Int, rounds: Int): (Array[Array[Double]], Seq[Double]) = {
    val corpus = unitDf.cache()
    val n = corpus.count()
    require(n >= k, s"need >= $k vectors")

    // Deterministic init: evenly-id-spaced corpus vectors (ids are
    // independent of geometry in this corpus), located via EXACT
    // distributed quantiles of vec_id — O(k) driver values, never a
    // collect of the id column (error 0.0 = Greenwald-Khanna exact
    // rank query, returns actual data points). The k init VECTORS then
    // come back through one isin-pruned scan.
    val picked0 = corpus.stat
      .approxQuantile("vec_id", Array.tabulate(k)(i => i.toDouble / k), 0.0)
      .map(_.toLong).distinct
    // rank collisions can only happen when n barely exceeds k; top up
    // deterministically from the smallest ids not already picked.
    val picked: Array[Long] =
      if (picked0.length >= k) picked0.take(k)
      else picked0 ++ corpus.select(col("vec_id")).orderBy("vec_id")
        .limit(k + picked0.length).collect().map(_.getLong(0))
        .filterNot(picked0.contains).take(k - picked0.length)
    var cents: Array[Array[Double]] = corpus
      .filter(col("vec_id").isin(picked.toSeq: _*))
      .orderBy("vec_id").collect()
      .map(_.getSeq[Double](1).toArray)

    val objectives = Seq.newBuilder[Double]
    var r = 0
    while (r < rounds) {
      // the round's centroids ship as one broadcast, destroyed as soon as
      // the round's collect has returned (the next round ships its own)
      val tensor = BcTensor(cents, "kmeansTrainOn")
      val assigned = corpus.withColumn("best",
          array_max(centroidScores(col("unit"), lit(1.0), tensor)))
        .select(col("vec_id"), col("unit"),
          col("best.c").as("cluster"), col("best.s").as("cos"))
      // ONE job per round: the per-(cluster, dim) sums, the per-cluster
      // counts, and the objective all ride the same posexplode shuffle —
      // counts/sum(cos) are dim-invariant, so the driver reads them off
      // the pos=0 rows. (Fusing the former separate stats pass halves the
      // round's job count and removes the cache the two passes shared.)
      val rows = try assigned
        .select(col("cluster"), col("cos"), posexplode(col("unit")))
        .groupBy(col("cluster"), col("pos"))
        .agg(sum(col("col")).as("s"), count(lit(1)).as("cnt"),
          sum(col("cos")).as("sumcos"))
        .collect()
      finally tensor.destroy()
      val dim = cents(0).length
      val next = Array.tabulate(k)(c => cents(c).clone())
      val acc = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      var obj = 0.0
      rows.foreach { row =>
        val c = row.getInt(0); val p = row.getInt(1)
        acc(c)(p) = row.getDouble(2)
        if (p == 0) { counts(c) = row.getLong(3); obj += row.getDouble(4) }
      }
      objectives += obj / n
      var c = 0
      while (c < k) {
        if (counts(c) > 0) {
          val v = acc(c)
          val nrm = math.sqrt(v.map(x => x * x).sum)
          if (nrm > 0) next(c) = v.map(_ / nrm)
        }
        c += 1
      }
      cents = next
      r += 1
    }
    corpus.unpersist()
    (cents, objectives.result())
  }

  def q47KmeansCluster(spark: SparkSession, sfDir: String): DataFrame = {
    val (cents, _) = kmeansTrain(spark, sfDir)
    unitCorpus(spark, sfDir)
      .withColumn("best",
        array_max(centroidScores(col("unit"), lit(1.0), cents.map(_.toSeq).toSeq)))
      .select(col("best.c").as("cluster"), col("best.s").as("cos"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_vectors"),
        round(avg(col("cos")), 6).as("avg_cosine"))
      .orderBy("cluster")
  }

  // ---------------------------------------------------------------------
  // q50 — SemDeDup semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
  // k-means-partition the embedding space, then search for near-dup
  // pairs ONLY within each cluster — the clustering replaces LSH banding
  // (q26) as the candidate generator. Drop policy: a vector is dropped
  // iff a same-cluster near-dup with a smaller id exists (greedy
  // keep-first, the q15/q26 convention; transitive resolution across
  // pairs is q46's job).
  //
  // Corpus: q26's planted-near-dup union — the margin argument at
  // Similarity.scala:80-100 applies unchanged (raw isotropic embeddings
  // admit NO subquadratic complete candidate filter, so near-dup
  // detection presupposes a margin corpus).
  //
  // Scale shape — TWO-LEVEL assignment (the fix for the flat version's
  // O(n*K) = O(n^2/64) argmax): the fine-cluster budget K still grows
  // linearly with the corpus (K = n / SemTargetClusterSize, holding
  // EXPECTED cluster size constant, the paper's own scaling argument),
  // but no vector ever scores all K centroids:
  //   level 1 — Kc = ceil(sqrt(K)) COARSE cells, trained on a bounded
  //     driver-side sample with q30's IVF quantizer (trainCentroids).
  //     The Kc x dim matrix is the ONLY centroid literal in the plan
  //     (sqrt of the flat version's K x dim, which at K ~ 1e6 was a
  //     driver/plan-size bottleneck).
  //   level 2 — ~K/Kc SUB-centroids per cell, held as a DataFrame keyed
  //     by cell (never a plan literal) and trained by distributed
  //     Lloyd's where each round scores a vector against ONLY its own
  //     cell's subs: an equi-join on cell, O(n * K/Kc) dots per round.
  // Per-vector assignment work is Kc + K/Kc = O(sqrt(K)) instead of K,
  // so total assignment is O(n^1.5 / 8) instead of O(n^2 / 64), and it
  // is an equi-join + groupBy — the shape that scales out.
  //
  // Candidate pairs come from an equi-self-join on the fine cluster id
  // (cell, sub) (PlanSpec gates no-cross-product). Near-tie vectors are
  // multi-assigned to every cluster within SemAssignDelta of their best
  // score (q30's cell-overlap trick, applied at assignment time): a
  // planted pair sitting exactly on a centroid boundary still shares a
  // cluster. Precision is unaffected — every pair is exact-verified.
  // A skewed cluster at 100 TB gets the same medicine as any skewed
  // join key (salt, or size-cap + re-cluster).
  //
  // Approximate BY DESIGN: a pair split across clusters is missed.
  // ClusteringSpec measures recall vs brute force (floor 0.85), asserts
  // precision is exactly 1.0 (every emitted drop is exact-cosine-
  // verified), and pins the two-level shape (no vector scores the full
  // sub-centroid set). No SQL oracle (k-means is iterative float
  // training) — driver records a rows-only check, like q23/q30/q47.
  // ---------------------------------------------------------------------
  private val SemDupCosine         = 0.8
  private val SemTargetClusterSize = 64
  // Round cap 4 -> 2 in round 13 (VERDICT r12 #4): with the evenly
  // id-spaced init two Lloyd rounds measure the SAME recall as four
  // (recall 0.998 sf0.001 / 0.9975 sf0.1, precision 1.0 —
  // OPTIMIZATION_r13.md §B) at ~1.1 s less board cost; the movement
  // early-exit inside the loop covers corpora that converge even sooner.
  private val SemSubRounds         = 2
  private val SemAssignDelta       = 0.05

  /** Intermediates of the two-level assignment, exposed for the spec's
    * scored-centroid-count and recall assertions. `scored` is the final
    * assignment's (vector, sub-centroid) scoring pairs — under flat
    * assignment every vector would carry `totalSubs` rows there. */
  private[graft] final case class SemParts(
      n: Long, kCoarse: Int, totalSubs: Long,
      scored: DataFrame,      // (vec_id, cell, sub_id, d)
      memberships: DataFrame, // (vec_id, cluster) — multi-assigned
      primary: DataFrame,     // (vec_id, cluster) — one row per vector
      units: DataFrame,       // (vec_id, unit) — cached
      cellMulti: DataFrame) { // (vec_id, unit, cell, is_primary) — cached
    /** Drop the two cached frames this build pinned. Without this,
      * repeated q50 calls accumulate cached corpora for the session
      * (cellMulti is otherwise method-local and unreleasable by callers).
      * q50SemDedup calls it after materializing its result; specs that
      * consume the parts directly call it when done. */
    def release(): Unit = { units.unpersist(); cellMulti.unpersist() }
  }

  private[graft] def semDedupParts(spark: SparkSession, sfDir: String): SemParts = {
    import graft.functions.GraftFunctions.dot
    import org.apache.spark.sql.expressions.Window
    // Unit-normalize the planted corpus (emb is already array<double>)
    // in one codegen'd pass — see functions.UnitNormalize.
    val units = Similarity.dupCorpus(spark, sfDir)
      .select(col("vec_id"),
        graft.functions.GraftFunctions.unitNormalize(col("emb")).as("unit"))
      .filter(col("unit").isNotNull)
      .cache()

    val n = units.count()
    val k  = math.max(8, (n / SemTargetClusterSize).toInt) // fine budget
    val kc = math.max(4, math.ceil(math.sqrt(k.toDouble)).toInt)

    // Level 1: coarse quantizer = q30's index-training step — bounded
    // driver-side sample, Kc cells, under the same absolute ceiling as
    // every other training collect (Similarity.TrainSampleCap).
    val sample: Array[Array[Double]] = units
      .orderBy("vec_id").limit(Similarity.trainSampleSize(kc, floor = 2048))
      .collect().map(_.getSeq[Double](1).toArray)
    val coarse: Seq[Seq[Double]] =
      Similarity.trainCentroids(sample, kc).map(_.toSeq).toSeq

    // Coarse assignment: the only centroid literal in the plan (Kc x dim).
    // Multi-assign within SemAssignDelta of the best cell; the primary
    // (argmax) cell trains the subs, all assigned cells generate
    // candidates.
    val cellMulti = units
      .withColumn("sc", centroidScores(col("unit"), lit(1.0), coarse))
      .select(col("vec_id"), col("unit"),
        expr("array_max(sc).c").as("cell0"),
        explode(expr(
          s"transform(filter(sc, x -> x.s >= array_max(sc).s - $SemAssignDelta), x -> x.c)"))
          .as("cell"))
      .withColumn("is_primary", col("cell") === col("cell0"))
      .drop("cell0")
      .cache()
    // The Lloyd working set: a filter+project over the CACHED cellMulti,
    // deliberately NOT checkpointed — a localCheckpoint here replaces the
    // InMemoryRelation (whose stats let Catalyst broadcast the K-row subs
    // side of every training join) with a stats-less LogicalRDD, and the
    // rounds demote to sort-merge joins (measured 4x slower — see
    // OPTIMIZATION_r13.md §B).
    // The per-round re-filter over the cache is a narrow scan of
    // state-cardinality rows.
    val primaryRows = cellMulti.filter(col("is_primary"))
      .select(col("vec_id"), col("cell"), col("unit"))

    // Level 2 init: per cell, ksub = round(cellCount / target) evenly
    // id-spaced members — fully distributed (two window passes), no
    // driver-side centroid materialization at any point.
    val wCell = Window.partitionBy("cell")
    var subs = primaryRows
      .withColumn("rn", row_number().over(wCell.orderBy("vec_id")))
      .withColumn("cnt", count(lit(1)).over(wCell))
      .withColumn("ksub", greatest(lit(1),
        round(col("cnt") / SemTargetClusterSize).cast("int")))
      .withColumn("stride", greatest(lit(1), (col("cnt") / col("ksub")).cast("int")))
      .filter((col("rn") - 1) % col("stride") === 0 &&
        (col("rn") - 1) / col("stride") < col("ksub"))
      .select(col("cell"), ((col("rn") - 1) / col("stride")).cast("int").as("sub_id"),
        col("unit").as("sc"))
      .localCheckpoint(true) // K tiny rows; truncated per round like q46
    val totalSubs = subs.count()

    // Level 2 training: distributed Lloyd's, each vector scored against
    // ONLY its primary cell's subs (equi-join on cell — co-located, so
    // the argmax partial-agg collapses before the shuffle). Sub-centroid
    // updates never touch the driver; empty subs keep their centroid.
    //
    // Early exit (VERDICT r12 #4, q199's pattern): when a round moved no
    // centroid, every later round re-derives the same assignments and is
    // the identity — training stops. Measured on the K-row sub-centroid
    // table (one tiny co-partitioned join per round from round 2 on, never
    // on the n-row corpus): min over subs of dot(new, old) >= 1 - 1e-12
    // means the round re-summed exactly the same members (float sums are
    // shuffle-order-dependent, so "unchanged" is ulp-tolerant rather than
    // bit-exact). A spurious trigger would need a real centroid move
    // below 1e-12 cosine — far under the 0.05 assignment margin — and the
    // quality floors (ClusteringSpec recall/precision) guard the output
    // anyway.
    var trainRound = 0
    var converged = false
    while (trainRound < SemSubRounds && !converged) {
      trainRound += 1
      val best = primaryRows.join(subs, "cell")
        .select(col("vec_id"), col("cell"), col("sub_id"), col("unit"),
          dot(col("unit"), col("sc")).as("d"))
        .groupBy(col("vec_id"))
        .agg(max(struct(col("d"), col("sub_id"), col("cell"), col("unit"))).as("b"))
      val rebuilt = best
        .select(col("b.cell").as("cell"), col("b.sub_id").as("sub_id"),
          posexplode(col("b.unit")))
        .groupBy(col("cell"), col("sub_id"), col("pos"))
        .agg(sum(col("col")).as("s"))
        .groupBy(col("cell"), col("sub_id"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, s))), x -> x.s)")
          .as("v"))
        .select(col("cell"), col("sub_id"),
          graft.functions.GraftFunctions.unitNormalize(col("v")).as("nsc"))
      // `mv` rides along in the SAME checkpoint job: cosine between each
      // sub-centroid and its replacement (1.0 for untouched empty subs),
      // so the convergence check below is a ~free agg over K
      // materialized rows, not a separate join job.
      val subsFull = subs.join(rebuilt, Seq("cell", "sub_id"), "left")
        .select(col("cell"), col("sub_id"),
          coalesce(col("nsc"), col("sc")).as("sc"),
          coalesce(dot(col("nsc"), col("sc")), lit(1.0)).as("mv"))
        .localCheckpoint(true)
      subs = subsFull.select("cell", "sub_id", "sc")
      if (trainRound < SemSubRounds) {
        // the final round has nothing left to skip; every earlier round
        // checks — including round 1, for a corpus whose id-spaced init
        // is already the fixpoint
        val minDot = subsFull.agg(min(col("mv"))).head().getDouble(0)
        converged = minDot >= 1.0 - 1e-12
      }
    }

    // Final assignment: every assigned coarse cell's subs (and only
    // those) are scored — Kc + ~K/Kc dots per vector. Fine cluster id =
    // (cell, sub) packed into one long.
    val scored = cellMulti.join(subs, "cell")
      .select(col("vec_id"), col("cell"), col("sub_id"),
        dot(col("unit"), col("sc")).as("d"))
    val wVec = Window.partitionBy("vec_id")
    val ranked = scored
      .withColumn("bd", max(col("d")).over(wVec))
      .withColumn("rk", row_number().over(
        wVec.orderBy(col("d").desc, col("cell"), col("sub_id"))))
    val clusterId = (col("cell").cast("long") * lit(1L << 32) + col("sub_id"))
      .as("cluster")
    val memberships = ranked.filter(col("d") >= col("bd") - SemAssignDelta)
      .select(col("vec_id"), clusterId)
    val primary = ranked.filter(col("rk") === 1)
      .select(col("vec_id"), clusterId)
    SemParts(n, kc, totalSubs, scored, memberships, primary, units, cellMulti)
  }

  /** Lazy q50 pipeline + its build parts. PlanSpec gates the join shape
    * on THIS pre-checkpoint plan (q50SemDedup truncates lineage when it
    * materializes); callers must release() the parts when done. */
  private[graft] def q50SemDedupLazy(
      spark: SparkSession, sfDir: String): (DataFrame, SemParts) = {
    import graft.functions.GraftFunctions.dot
    val p = semDedupParts(spark, sfDir)

    // Within-cluster candidate pairs over the multi-assigned memberships;
    // unit vectors make cosine = dot. l.vec_id > r.vec_id orients each
    // pair once, with l the drop side; distinct folds multi-assignment
    // duplicates before the verdict join.
    val mu = p.memberships.join(p.units, "vec_id")
    val dropped = mu.as("l")
      .join(mu.as("r"),
        col("l.cluster") === col("r.cluster") &&
          col("l.vec_id") > col("r.vec_id"))
      .filter(dot(col("l.unit"), col("r.unit")) >= SemDupCosine)
      .select(col("l.vec_id").as("vec_id")).distinct()
      .withColumn("is_dropped", lit(true))

    (p.primary.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        (!coalesce(col("is_dropped"), lit(false))).as("is_kept"))
      .orderBy("vec_id"), p)
  }

  def q50SemDedup(spark: SparkSession, sfDir: String): DataFrame = {
    // Materialize the (n-row) verdict eagerly so the build's cached
    // frames can be released HERE instead of leaking until session end —
    // same truncation pattern as the subs/q46 checkpoints above.
    val (df, p) = q50SemDedupLazy(spark, sfDir)
    val out = df.localCheckpoint(true)
    p.release()
    out
  }

  // ---------------------------------------------------------------------
  // q86 — cluster-canonical dedup: the pipeline step AFTER grouping
  // near-dups into components (q46): each component keeps exactly ONE
  // representative — the longest document (ties: lowest doc_id), the
  // usual "keep the most complete copy" policy — and the output maps
  // every document to its kept representative. This is the op that turns
  // a near-dup PAIR list into an actual deduplicated corpus.
  //
  // Scale shape: q46's component labels are one row per edge-touched doc
  // (tiny vs the corpus); the representative choice is a per-component
  // window over that small frame joined back to doc metadata (n_chars —
  // never text). Singleton docs never enter the window: they are their
  // own representative by construction (left join + coalesce), so the
  // window cost is O(near-dup docs), not O(corpus).
  // ---------------------------------------------------------------------
  def q86ClusterCanonical(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window

    val meta = Tables.documents(spark, sfDir).select(col("doc_id"), col("n_chars"))
    // Only docs in a real (size >= 2) component need representative
    // election; q46 labels every doc, so restrict to non-singletons.
    val comp = q46DedupComponents(spark, sfDir)
      .select(col("doc_id"), col("component"))
    val sizes = comp.groupBy("component").agg(count(lit(1)).as("cluster_size"))
    val multi = comp.join(sizes.filter(col("cluster_size") > 1), "component")

    val w = Window.partitionBy(col("component"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    val reps = multi.join(meta, "doc_id")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("component"), col("doc_id").as("rep_id"))

    comp.join(reps, Seq("component"), "left")
      .select(col("doc_id"),
        coalesce(col("rep_id"), col("doc_id")).as("rep_id"),
        (coalesce(col("rep_id"), col("doc_id")) === col("doc_id")).as("is_kept"))
      .orderBy("doc_id")
  }

  /** Oracle: q46's recursive-CTE closure + per-component arg-max. */
  val q86Sql: String =
    """WITH RECURSIVE t AS (
      |  SELECT doc_id,
      |         list_distinct(CASE WHEN len(toks) >= 3
      |           THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
      |                 for i in range(1, len(toks) - 1)]
      |           ELSE [] END) AS sh
      |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS toks
      |        FROM documents)),
      |e0 AS (
      |  SELECT a.doc_id AS u, b.doc_id AS v
      |  FROM t a JOIN t b ON a.doc_id < b.doc_id
      |  WHERE len(a.sh) > 0 AND len(b.sh) > 0
      |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |          / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5),
      |e AS (SELECT u, v FROM e0 UNION SELECT v, u FROM e0),
      |r AS (
      |  SELECT u AS node, v AS reach FROM e
      |  UNION
      |  SELECT r.node, e.v FROM r JOIN e ON r.reach = e.u),
      |comp AS (SELECT node, LEAST(node, MIN(reach)) AS component
      |         FROM r GROUP BY node),
      |lab AS (SELECT d.doc_id, COALESCE(comp.component, d.doc_id) AS component
      |        FROM documents d LEFT JOIN comp ON d.doc_id = comp.node),
      |reps AS (
      |  SELECT component, doc_id AS rep_id
      |  FROM (SELECT lab.component, lab.doc_id,
      |               ROW_NUMBER() OVER (PARTITION BY lab.component
      |                                  ORDER BY d.n_chars DESC, lab.doc_id ASC) AS rn,
      |               COUNT(*) OVER (PARTITION BY lab.component) AS csize
      |        FROM lab JOIN documents d ON lab.doc_id = d.doc_id)
      |  WHERE rn = 1 AND csize > 1)
      |SELECT lab.doc_id,
      |       COALESCE(reps.rep_id, lab.doc_id) AS rep_id,
      |       COALESCE(reps.rep_id, lab.doc_id) = lab.doc_id AS is_kept
      |FROM lab LEFT JOIN reps ON lab.component = reps.component
      |ORDER BY lab.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q193 — fixed-iteration weighted PageRank over the nation trade graph
  // (supplier-nation -> customer-nation, edge weight = lineitem flow).
  // The iterative-graph-analytics shape missing from the surface so far
  // (q46's components converge by min-propagation; PageRank is the
  // weighted-stationary-mass counterpart a crawl-curation pipeline uses
  // to quality-weight sources, cf. the CommonCrawl-derived corpora).
  //
  // EXACT integer arithmetic for cross-engine parity: rank mass lives in
  // int64 NANO-units (1.0 == 1e9), every step is integer multiply +
  // integer div — pr*w div outw per edge, base + (85*sum) div 100 per
  // node (d = 0.85) — so Spark and DuckDB agree bit-for-bit with no
  // float summation-order or round() boundary hazard anywhere
  // (truncating div == floor for the all-positive masses here).
  //
  // Scale shape: the expensive part is building the edge list — one pass
  // over lineitem joining orders (shuffle on orderkey), then
  // BROADCAST-joining the two small dimension maps — after which the
  // graph aggregate is |nations|^2-sized and each of the K iterations is
  // a broadcast-join + 4096-group aggregate over the cached edge frame.
  // At a web-graph scale the same loop holds with edges shuffled on src
  // (contributions are map-side combinable per dst); K is fixed, so the
  // lineage stays bounded without checkpointing.
  // ---------------------------------------------------------------------
  private val PrIters = 3

  def q193Pagerank(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir).select(col("l_orderkey"), col("l_suppkey"))
    val o  = Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_custkey"))
    val s  = Tables.supplier(spark, sfDir).select(col("s_suppkey"), col("s_nationkey"))
    val c  = Tables.customer(spark, sfDir).select(col("c_custkey"), col("c_nationkey"))
    val nations = Tables.nation(spark, sfDir).select(col("n_nationkey").as("node"))
    val n = nations.count() // 25-row dimension; exact base terms need N

    // edge list: one heavy shuffle (orderkey), dims broadcast, then a
    // |N|^2-bounded aggregate. Cached: reused by outw + every iteration.
    val edges = li
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("s_nationkey").as("src"), col("c_nationkey").as("dst"))
      .agg(count(lit(1)).as("w"))
      .cache()
    val outw = edges.groupBy(col("src").as("ou")).agg(sum(col("w")).as("outw"))
    val g = edges.join(outw, col("src") === col("ou")).drop("ou").cache()

    var pr = nations.withColumn("pr", lit(1000000000L / n))
    for (_ <- 1 to PrIters) {
      val contrib = g.join(broadcast(pr), col("src") === col("node"))
        .select(col("dst"), expr("(pr * w) div outw").as("m"))
        .groupBy("dst").agg(sum("m").as("s"))
      pr = nations.join(contrib, col("node") === col("dst"), "left")
        .select(col("node"),
          (lit(150000000L / n) +
            expr("(85 * coalesce(s, CAST(0 AS BIGINT))) div 100")).as("pr"))
    }
    // caches stay live for the consumer's single materialization — the
    // Verify/Bench harness clearCache()s between queries (repo-wide
    // convention for lazily-returned cached plans).
    pr.withColumnRenamed("pr", "pr_nano").orderBy("node")
  }

  val q193Sql: String =
    """WITH nn AS (SELECT COUNT(*) AS n FROM nation),
      |e AS (
      |  SELECT s_nationkey AS src, c_nationkey AS dst, COUNT(*) AS w
      |  FROM lineitem
      |  JOIN orders   ON l_orderkey = o_orderkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |g AS (
      |  SELECT e.src, e.dst, e.w, ow.outw
      |  FROM e JOIN (SELECT src, CAST(SUM(w) AS BIGINT) AS outw
      |               FROM e GROUP BY src) ow ON ow.src = e.src),
      |p0 AS (SELECT n_nationkey AS node, CAST(1000000000 // n AS BIGINT) AS pr
      |       FROM nation CROSS JOIN nn),
      |s1 AS (SELECT g.dst, CAST(SUM((p.pr * g.w) // g.outw) AS BIGINT) AS s
      |       FROM g JOIN p0 p ON p.node = g.src GROUP BY g.dst),
      |p1 AS (SELECT p.node,
      |              CAST(150000000 // n + (85 * COALESCE(s1.s, 0)) // 100 AS BIGINT) AS pr
      |       FROM p0 p CROSS JOIN nn LEFT JOIN s1 ON s1.dst = p.node),
      |s2 AS (SELECT g.dst, CAST(SUM((p.pr * g.w) // g.outw) AS BIGINT) AS s
      |       FROM g JOIN p1 p ON p.node = g.src GROUP BY g.dst),
      |p2 AS (SELECT p.node,
      |              CAST(150000000 // n + (85 * COALESCE(s2.s, 0)) // 100 AS BIGINT) AS pr
      |       FROM p1 p CROSS JOIN nn LEFT JOIN s2 ON s2.dst = p.node),
      |s3 AS (SELECT g.dst, CAST(SUM((p.pr * g.w) // g.outw) AS BIGINT) AS s
      |       FROM g JOIN p2 p ON p.node = g.src GROUP BY g.dst),
      |p3 AS (SELECT p.node,
      |              CAST(150000000 // n + (85 * COALESCE(s3.s, 0)) // 100 AS BIGINT) AS pr
      |       FROM p2 p CROSS JOIN nn LEFT JOIN s3 ON s3.dst = p.node)
      |SELECT node, pr AS pr_nano FROM p3 ORDER BY node""".stripMargin

  // ---------------------------------------------------------------------
  // q195 — triangle counting + local clustering coefficient over the
  // part co-purchase graph (parts are adjacent iff they share an order).
  // Triadic closure is the community-structure audit of an association
  // graph — q138/q181 mine the EDGES (itemset pairs / rules); this
  // measures how clustered the neighborhood of each node is, the
  // standard pre-partitioning signal for community detection.
  //
  // Enumeration uses the DEGREE-ORDERED ORIENTATION (Schank–Wagner /
  // "compact-forward"): every undirected edge points from its lower
  // (deg, node) endpoint to the higher, so each triangle is generated
  // exactly once from its lowest-rank corner and the wedge join fans
  // out by OUT-degree, which the orientation bounds by O(sqrt(|E|))
  // even on skewed graphs — the plan survives a power-law co-purchase
  // graph where a naive value-ordered self-join explodes on the hub
  // nodes. Ranks are packed into one int64 (deg*2^32 + node) so the
  // wedge join and the closing edge probe stay single-column equi-joins.
  // All counts are exact integers; the only double is the final
  // 6-dp-rounded coefficient (repo-wide cross-engine rounding idiom).
  //
  // Scale shape: basket aggregation shuffles on orderkey (per-basket
  // pair fan-out bounded by basket size squared, generated map-side),
  // edge dedup + degree are one shuffle each, the 25k-row degree map
  // broadcasts, wedges/closures are rank-keyed equi-joins — no
  // cartesian anywhere (plan-gated).
  // ---------------------------------------------------------------------
  /** Undirected co-purchase edge list (u < v): parts adjacent iff they
    * share an order. One orderkey shuffle + one 16-byte-pair dedup.
    *
    * Shape (round 13): ONE aggregation per order (collect_set, partial
    * map-side) and the basket's u < v pairs generated in the projection
    * from the SORTED set — the basket² fan-out never passes through a
    * join. The pre-r13 self-join on orderkey produced the IDENTICAL
    * pair set (each basket contributes exactly its u < v pairs either
    * way; the cross-order distinct is unchanged) but paid the join
    * machinery on the fan-out: interleaved warm A/B at sf0.1 reads
    * join-shape min 3.72 s vs this shape 2.61 s over 3 rounds, equal
    * counts every run (OPTIMIZATION_r13.md §H; q195/q197/q199 oracles
    * re-green after the switch). TOTAL work stays Θ(Σ basket²) with one
    * less sorted merge, but the MEMORY envelope is not identical: each row
    * now materializes its basket in the aggregation buffer and its
    * basket² pair array in the projection, where the join streamed the
    * fan-out with shuffle spill — fine for order-bounded baskets (TPC-H
    * caps them small), while a hub basket of B parts would hold O(B²)
    * structs in one row; past ~10⁴-part baskets, split hot orders or
    * fall back to the join shape (ADVICE r13). collect_set also drops
    * any repeated (order, part) before pair generation, which the old
    * pair-level distinct had to absorb downstream. */
  private def coPurchaseEdges(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .groupBy("o").agg(array_sort(collect_set(col("p"))).as("ps"))
      .select(explode(expr(
        """flatten(transform(ps,
          |  (x, i) -> transform(slice(ps, i + 2, size(ps)),
          |            y -> struct(x AS u, y AS v))))""".stripMargin)).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .distinct()

  /** Per-node degree of a (u, v) edge list. ONE scan of `e` (explode of
    * the 2-element endpoint array) instead of the unionAll-of-two-
    * projections form, which scanned the cached/checkpointed edge list
    * twice — q199 pays this once per peel round. Same partial-agg
    * shuffle (counts per node), identical result. */
  private def degreeOf(e: DataFrame): DataFrame =
    e.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))

  /** Crossover for the size-driven close. Measured (SCALING.md): at
    * 1.2M edges (sf0.1) the forced broadcast wins 4.0 s vs 13.5 s —
    * AQE alone does NOT rescue it, because the ~19 MB cached close
    * side sits past the 10 MB auto-broadcast threshold and the close
    * becomes a sort-merge join that shuffles the out-deg² wedge
    * stream. At 12M edges an INTERLEAVED warm A/B measures a wash
    * (min-of-2 7.4 s broadcast vs 6.9 s shuffled; the round's earlier
    * 17-vs-8 reading was first-run order bias — both arms swing 2x
    * run to run). So the threshold is set where the broadcast stops
    * being cluster-sane rather than at a measured loss: 16M edges is
    * a ~256 MB build side — fine to ship to every executor once,
    * while past it the per-executor memory and rebroadcast-per-retry
    * costs compound and the wedge shuffle (whose volume the degree
    * orientation already bounds) is the safer plan. */
  private val BroadcastCloseMaxEdges = 16000000L

  /** Default close is SIZE-DRIVEN on the MEASURED edge count (r11: the
    * round's first no-hint default cost 3.4x at sf0.1 — AQE mis-sizes
    * the cached close side; see [[BroadcastCloseMaxEdges]] for the
    * measured regimes). The count is free: it materializes the edge
    * cache every downstream job reads anyway. Both paths are
    * row-for-row equal (ClusteringSpec) and individually plan-gated
    * (PlanSpec). */
  def q195Triangles(spark: SparkSession, sfDir: String): DataFrame =
    q195WithClose(spark, sfDir, broadcastClose = None)

  /** The FORCED-broadcast close (the pre-r11 default), kept for the
    * equality spec and the scale probe: same output row for row. */
  def q195TrianglesBroadcastClose(spark: SparkSession, sfDir: String): DataFrame =
    q195WithClose(spark, sfDir, broadcastClose = Some(true))

  /** The past-broadcast-reach fallback shape (= the no-hint default;
    * kept as a named alias for the PlanSpec fallback gate, which pins
    * that with auto-broadcast off this plans as a SHUFFLED equi-join,
    * never a nested loop). */
  def q195TrianglesShuffledClose(spark: SparkSession, sfDir: String): DataFrame =
    q195WithClose(spark, sfDir, broadcastClose = Some(false))

  private def q195WithClose(spark: SparkSession, sfDir: String,
      broadcastClose: Option[Boolean]): DataFrame = {
    val e = coPurchaseEdges(spark, sfDir)
      .cache() // feeds degree, orientation, and the closing-edge probe
    val deg = degreeOf(e).cache()
    val rank = (c: String) => col(s"d$c").cast("long") * 4294967296L + col(c)
    val ranked = e
      .join(broadcast(deg.select(col("node").as("u"), col("deg").as("du"))), "u")
      .join(broadcast(deg.select(col("node").as("v"), col("deg").as("dv"))), "v")
      .select(rank("u").as("ru"), rank("v").as("rv"))
    val dir = ranked.select(
        least(col("ru"), col("rv")).as("lo"),
        greatest(col("ru"), col("rv")).as("hi"))
      .cache()
    // triangle (x,a,b): wedge a<b out of x, closed by oriented edge a->b.
    // With broadcastClose the |E|-row edge list is force-broadcast so
    // the wedge stream (out-deg² >> |E| rows) pipelines through a
    // map-side hash probe inside one stage. The shipped default leaves
    // the hint OFF: AQE broadcasts while |E| fits and shuffles the
    // (lo, hi) equi-join past broadcast reach — the 10x probe measured
    // the forced broadcast LOSING to the AQE choice as edges grow
    // (SCALING.md); the orientation bound on wedge volume is what
    // matters at scale either way.
    // None = size-driven: one count over the just-built cache (the jobs
    // it runs are exactly the materialization every downstream stage
    // needs) picks the measured winner for this graph's edge volume.
    val useBroadcast = broadcastClose.getOrElse(
      dir.count() <= BroadcastCloseMaxEdges)
    val close = if (useBroadcast) broadcast(dir.as("e3")) else dir.as("e3")
    // Wedge enumeration (round 14): ONE exchange — group the oriented
    // list by its low corner and generate each out-neighbor pair (a<b)
    // map-side from the SORTED neighbor array (the r13 edge-build shape
    // applied to the wedge stage; the pre-r14 self-join on e1.lo=e2.lo
    // sorted and merged the full oriented list TWICE to produce the
    // identical wedge set). posexplode + suffix-slice keeps per-row
    // memory O(out-deg); the orientation already bounds out-deg by
    // O(sqrt |E|), so the per-group buffer is the same bound the wedge
    // join's fan-out carried. collect_list is exact here: (lo, hi)
    // pairs are distinct by construction (ranks are injective, edges
    // distinct).
    val adj = dir.groupBy(col("lo"))
      .agg(array_sort(collect_list(col("hi"))).as("hs"))
    val wedges = adj
      .select(col("lo").as("rx"), col("hs"),
        posexplode(col("hs")).as(Seq("i", "ra")))
      .select(col("rx"), col("ra"),
        explode(expr("slice(hs, i + 2, size(hs))")).as("rb"))
    val tri = wedges
      .join(close, col("ra") === col("e3.lo") && col("rb") === col("e3.hi"))
      .select(col("rx"), col("ra"), col("rb"))
    val triPerNode = tri.select(explode(array(col("rx"), col("ra"), col("rb"))).as("r"))
      .select(pmod(col("r"), lit(4294967296L)).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri"))
    deg.join(triPerNode, Seq("node"), "left")
      .select(col("node").as("part"),
        col("deg").as("degree"),
        coalesce(col("tri"), lit(0L)).as("triangles"),
        when(col("deg") < 2, lit(0.0)).otherwise(
          round(lit(2.0) * coalesce(col("tri"), lit(0L)) /
            (col("deg") * (col("deg") - lit(1))), 6)).as("clustering"))
      .orderBy("part")
  }

  /** Oracle enumerates by part-key value order (u<v edges chained
    * u<v<w) — a different generation order over the SAME triangle set,
    * so per-node counts must match the orientation-based plan exactly. */
  val q195Sql: String =
    """WITH po AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |e AS (SELECT DISTINCT a.p AS u, b.p AS v
      |      FROM po a JOIN po b ON a.o = b.o AND a.p < b.p),
      |t AS (SELECT e1.u AS x, e1.v AS y, e2.v AS z
      |      FROM e e1
      |      JOIN e e2 ON e2.u = e1.v
      |      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
      |tn AS (SELECT node, COUNT(*) AS tri FROM (
      |         SELECT x AS node FROM t
      |         UNION ALL SELECT y FROM t
      |         UNION ALL SELECT z FROM t) u GROUP BY node),
      |d AS (SELECT node, COUNT(*) AS deg FROM (
      |         SELECT u AS node FROM e
      |         UNION ALL SELECT v FROM e) w GROUP BY node)
      |SELECT d.node AS part,
      |       CAST(d.deg AS BIGINT) AS degree,
      |       CAST(COALESCE(tn.tri, 0) AS BIGINT) AS triangles,
      |       CASE WHEN d.deg < 2 THEN 0.0
      |            ELSE ROUND(2.0 * COALESCE(tn.tri, 0)
      |                       / (d.deg * (d.deg - 1.0)), 6) END AS clustering
      |FROM d LEFT JOIN tn ON tn.node = d.node
      |ORDER BY part""".stripMargin

  // ---------------------------------------------------------------------
  // q197 — degree assortativity (Newman 2002, eq. 4) of the co-purchase
  // graph: the Pearson correlation of endpoint degrees over edges — THE
  // single-number structure audit (hub-to-hub vs hub-to-leaf wiring)
  // read before choosing a graph partitioning / skew strategy.
  //
  // r = [ S_jk/M − (S_j2k2h/M)² ] / [ S_jjkk/M − (S_j2k2h/M)² ] with
  // M=|E|, S_jk=Σ j·k, S_j2k2h=Σ (j+k)/2, S_jjkk=Σ (j²+k²)/2 — every
  // sum an exact BIGINT (halves handled by keeping Σ(j+k), Σ(j²+k²)
  // whole and dividing by 2M in the double step), so both engines agree
  // exactly; the one double expression is SHARED verbatim (q196 idiom).
  //
  // Scale shape: edge build as q195; the degree map broadcasts onto the
  // edge list; the reduce is 4 integer sums — map-side combinable, O(1)
  // state. Nothing grows with |V| or |E| past the one edge scan.
  // ---------------------------------------------------------------------
  private val q197RExpr: String =
    "ROUND((CAST(sjk AS DOUBLE) / m - (CAST(sjk2 AS DOUBLE) / (2.0 * m)) *" +
      " (CAST(sjk2 AS DOUBLE) / (2.0 * m))) /" +
      " (CAST(sq AS DOUBLE) / (2.0 * m) - (CAST(sjk2 AS DOUBLE) / (2.0 * m)) *" +
      " (CAST(sjk2 AS DOUBLE) / (2.0 * m))), 6) AS assortativity"

  def q197Assortativity(spark: SparkSession, sfDir: String): DataFrame = {
    val e = coPurchaseEdges(spark, sfDir).cache()
    val deg = degreeOf(e)
    val withDeg = e
      .join(broadcast(deg.select(col("node").as("u"), col("deg").as("j"))), "u")
      .join(broadcast(deg.select(col("node").as("v"), col("deg").as("k"))), "v")
    withDeg.selectExpr(
        "COUNT(*) AS n_edges", "CAST(COUNT(*) AS DOUBLE) AS m",
        "SUM(j * k) AS sjk", "SUM(j + k) AS sjk2", "SUM(j*j + k*k) AS sq")
      .selectExpr("n_edges", q197RExpr)
  }

  val q197Sql: String =
    s"""WITH po AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |e AS (SELECT DISTINCT a.p AS u, b.p AS v
       |      FROM po a JOIN po b ON a.o = b.o AND a.p < b.p),
       |d AS (SELECT node, COUNT(*) AS deg FROM (
       |         SELECT u AS node FROM e
       |         UNION ALL SELECT v FROM e) w GROUP BY node),
       |g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
       |             CAST(COUNT(*) AS DOUBLE) AS m,
       |             CAST(SUM(dj.deg * dk.deg) AS BIGINT) AS sjk,
       |             CAST(SUM(dj.deg + dk.deg) AS BIGINT) AS sjk2,
       |             CAST(SUM(dj.deg*dj.deg + dk.deg*dk.deg) AS BIGINT) AS sq
       |      FROM e JOIN d dj ON dj.node = e.u JOIN d dk ON dk.node = e.v)
       |SELECT n_edges, $q197RExpr
       |FROM g""".stripMargin

  // ---------------------------------------------------------------------
  // q199 — k-core peeling (k = 64, FIXED 8 rounds): repeatedly drop
  // nodes whose degree fell under k and re-derive degrees on the induced
  // subgraph. The k-core is the dense backbone a curation pipeline
  // keeps when pruning a similarity/co-occurrence graph to its stable
  // community structure (and the standard pre-step before expensive
  // per-node work like q195's triangles on web-scale graphs).
  //
  // DETERMINISM contract: both engines peel EXACTLY KCorePeels rounds —
  // the unrolled-iteration idiom of q193 — so the outputs are identical
  // whether or not the peel has reached its fixpoint (the spec replay
  // reports convergence; on this graph family 8 rounds converge).
  //
  // Scale shape: each round is one degree aggregation (map-side
  // combinable) plus two broadcast semi-joins of the shrinking keep
  // set; intermediate edge frames are cached so round i+1 reads round
  // i's result instead of re-deriving the chain. At web scale the keep
  // set rides a bloom/semi-join instead of a broadcast (q84's shape).
  // ---------------------------------------------------------------------
  private[graft] val KCoreK     = 64
  private[graft] val KCorePeels = 8

  /** One peel round: recompute degrees on `e`, keep nodes with deg >= k,
    * induce the subgraph. The keep set rides the broadcast side of both
    * semi-joins (plan-gated on this method directly, since the full
    * q199 plan is lineage-truncated). */
  private[graft] def kCorePeelOnce(e: DataFrame): DataFrame = {
    val keep = degreeOf(e).filter(col("deg") >= KCoreK).select(col("node"))
    e.join(broadcast(keep.select(col("node").as("u"))), "u")
      .join(broadcast(keep.select(col("node").as("v"))), "v")
      .select(col("u"), col("v"))
  }

  /** Co-purchase edges, exposed for the peel-round plan gate. */
  private[graft] def kCoreEdgeList(spark: SparkSession, sfDir: String): DataFrame =
    coPurchaseEdges(spark, sfDir)

  def q199KCore(spark: SparkSession, sfDir: String): DataFrame = {
    // Each round's edge frame is EAGERLY localCheckpointed (q46's
    // iterative idiom): keep_i's plan embeds e_i, so a lazy chain would
    // double the logical plan every round — 2^8 copies of the base scan
    // by round 8, which stalls Catalyst. Truncating lineage keeps plan
    // size constant per round. (localCheckpoint trades fault tolerance
    // for speed; a cluster deployment swaps in reliable checkpoint().)
    //
    // FIXPOINT EARLY EXIT (exact): a round that drops zero edges means
    // every node passed the degree filter, so e_i == e_{i-1} as a set
    // and every remaining round is the identity — skipping them returns
    // EXACTLY the result of KCorePeels rounds (the DETERMINISM contract
    // with the unrolled oracle is preserved by construction, and the
    // ClusteringSpec driver replay of all 8 rounds stays row-identical).
    // The edge count is free evidence — the frame is already
    // materialized by the eager checkpoint — and each skipped round
    // saves a full degree-agg + two joins + a re-materialization pass,
    // the cost that dominates q199's measured 10x exponent (SCALING.md:
    // 45 s warm at 10x for 8 unconditional rounds).
    var e = coPurchaseEdges(spark, sfDir).localCheckpoint(true)
    var edges = e.count()
    var round = 0
    var fixed = false
    while (round < KCorePeels && !fixed) {
      val next = kCorePeelOnce(e).localCheckpoint(true)
      val m = next.count()
      fixed = m == edges
      e = next
      edges = m
      round += 1
    }
    degreeOf(e)
      .select(col("node").as("part"), col("deg").as("core_deg"))
      .orderBy("part")
  }

  /** Every CTE is MATERIALIZED: DuckDB inlines CTEs by default, and the
    * unrolled peel references e_{i-1} three times per round — inlined,
    * that's 3^8 copies of the base scan (the same blowup the Spark side
    * avoids with per-round localCheckpoint). */
  val q199Sql: String = {
    val sb = new StringBuilder(
      """WITH po AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e0 AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
        |       FROM po a JOIN po b ON a.o = b.o AND a.p < b.p)""".stripMargin)
    for (i <- 1 to KCorePeels) sb ++=
      s""",
         |d$i AS MATERIALIZED (SELECT node, COUNT(*) AS deg FROM (
         |          SELECT u AS node FROM e${i - 1}
         |          UNION ALL SELECT v FROM e${i - 1}) w GROUP BY node),
         |k$i AS MATERIALIZED (SELECT node FROM d$i WHERE deg >= $KCoreK),
         |e$i AS MATERIALIZED (SELECT u, v FROM e${i - 1}
         |        WHERE u IN (SELECT node FROM k$i)
         |          AND v IN (SELECT node FROM k$i))""".stripMargin
    sb ++=
      s"""
         |SELECT node AS part, CAST(deg AS BIGINT) AS core_deg FROM (
         |  SELECT node, COUNT(*) AS deg FROM (
         |    SELECT u AS node FROM e$KCorePeels
         |    UNION ALL SELECT v FROM e$KCorePeels) w GROUP BY node) d
         |ORDER BY part""".stripMargin
    sb.toString
  }

  // ---------------------------------------------------------------------
  // q223 — graph-placement edge-cut audit: before distributing per-node
  // graph work (q193's PageRank messages, q199's peels), measure what
  // each PLACEMENT strategy costs on THIS graph — the fraction of
  // co-purchase edges whose endpoints land on different partitions
  // (every cut edge is a network message per iteration) and the node
  // balance (the straggler bound). Hash placement (md5 % P, the
  // default) is compared against contiguous range placement
  // (id·P div N): on an id-locality-free graph both cut ~1−1/P of
  // edges, and a measured GAP between them is the signal that ids
  // carry community structure worth exploiting with a real partitioner.
  //
  // One pass over the edge list per strategy (the part columns are
  // projections), one node-load aggregate; everything exact integers —
  // the md5 hash and the range rule are the q36/q147 slicing idioms,
  // bit-identical cross-engine.
  // ---------------------------------------------------------------------
  private val CutParts = 8

  def q223EdgeCutAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val e = kCoreEdgeList(spark, sfDir).cache() // both strategies + loads
    val mx = e.selectExpr("greatest(max(u), max(v)) + 1 AS mxn")
    def partExpr(col: String, strategy: String): String = strategy match {
      case "hash" =>
        s"CAST(conv(substring(md5(CAST($col AS STRING)), 1, 8), 16, 10)" +
          s" AS BIGINT) % $CutParts"
      case "range" => s"$col * $CutParts div mxn"
    }
    import spark.implicits._
    Seq("hash", "range").map { strat =>
      val parts = e.crossJoin(broadcast(mx)).selectExpr(
        s"${partExpr("u", strat)} AS pu", s"${partExpr("v", strat)} AS pv")
      val cut = parts.selectExpr(
          "count(1) AS n_edges",
          "CAST(sum(CASE WHEN pu <> pv THEN 1 ELSE 0 END) AS BIGINT)" +
            " AS cut_edges")
        .selectExpr("n_edges", "cut_edges",
          "1000000L * cut_edges div n_edges AS cut_ppm")
      val loads = parts.selectExpr("pu AS p").unionAll(
          parts.selectExpr("pv AS p"))
        .groupBy(col("p")).agg(count(lit(1)).as("load"))
        .agg(max(col("load")).as("max_load"), min(col("load")).as("min_load"))
      cut.crossJoin(loads) // 1 row x 1 row
        .selectExpr(s"'$strat' AS strategy", "n_edges", "cut_edges",
          "cut_ppm", "max_load", "min_load")
    }.reduce(_.unionAll(_)).orderBy("strategy")
  }

  val q223Sql: String =
    s"""WITH po AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |e AS MATERIALIZED (
       |  SELECT DISTINCT a.p AS u, b.p AS v
       |  FROM po a, po b WHERE a.o = b.o AND a.p < b.p),
       |mx AS (SELECT greatest(max(u), max(v)) + 1 AS mxn FROM e),
       |hp AS (SELECT ('0x' || substr(md5(CAST(u AS VARCHAR)), 1, 8))::BIGINT
       |                % $CutParts AS pu,
       |              ('0x' || substr(md5(CAST(v AS VARCHAR)), 1, 8))::BIGINT
       |                % $CutParts AS pv
       |       FROM e),
       |rp AS (SELECT u * $CutParts // mx.mxn AS pu,
       |              v * $CutParts // mx.mxn AS pv
       |       FROM e, mx),
       |hcut AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
       |                CAST(SUM(CASE WHEN pu <> pv THEN 1 ELSE 0 END)
       |                  AS BIGINT) AS cut_edges
       |         FROM hp),
       |rcut AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
       |                CAST(SUM(CASE WHEN pu <> pv THEN 1 ELSE 0 END)
       |                  AS BIGINT) AS cut_edges
       |         FROM rp),
       |hload AS (SELECT CAST(MAX(load) AS BIGINT) AS max_load,
       |                 CAST(MIN(load) AS BIGINT) AS min_load FROM
       |          (SELECT p, CAST(COUNT(*) AS BIGINT) AS load FROM
       |            (SELECT pu AS p FROM hp UNION ALL SELECT pv FROM hp)
       |           GROUP BY p)),
       |rload AS (SELECT CAST(MAX(load) AS BIGINT) AS max_load,
       |                 CAST(MIN(load) AS BIGINT) AS min_load FROM
       |          (SELECT p, CAST(COUNT(*) AS BIGINT) AS load FROM
       |            (SELECT pu AS p FROM rp UNION ALL SELECT pv FROM rp)
       |           GROUP BY p))
       |SELECT 'hash' AS strategy, n_edges, cut_edges,
       |       1000000 * cut_edges // n_edges AS cut_ppm, max_load, min_load
       |FROM hcut CROSS JOIN hload
       |UNION ALL
       |SELECT 'range' AS strategy, n_edges, cut_edges,
       |       1000000 * cut_edges // n_edges AS cut_ppm, max_load, min_load
       |FROM rcut CROSS JOIN rload
       |ORDER BY strategy""".stripMargin
}
