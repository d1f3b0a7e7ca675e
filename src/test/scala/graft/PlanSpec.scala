package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Bucketing, Clustering, Dedup, Relational, Similarity, TextAnalysis}

/** Plan-shape assertions — the 100 TB readiness gates: filters/projections
  * reach the parquet scan, small dims broadcast, aggregates are partial
  * before the shuffle, top-k never global-sorts. */
class PlanSpec extends SparkSpec {

  private def finalPlan(df: DataFrame): String = {
    df.collect() // force AQE to finalize
    df.queryExecution.executedPlan.toString
  }

  test("q03: filter and projection are pushed to the parquet scan") {
    val plan = finalPlan(Relational.q03FilterProject(spark, sf))
    assert(plan.contains("PushedFilters"))
    assert(plan.contains("EqualTo(event_type,purchase)"))
    assert(plan.contains("GreaterThan(value,50.0)"))
  }

  test("q03: scan reads only referenced columns") {
    val plan = finalPlan(Relational.q03FilterProject(spark, sf))
    val readSchema = plan.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("props"), "unused column must be pruned")
  }

  test("q06: dimension join is a broadcast hash join") {
    val plan = finalPlan(Relational.q06BroadcastEnrich(spark, sf))
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"))
  }

  test("q01: aggregation is partial (map-side) before the shuffle") {
    val plan = finalPlan(Relational.q01SlidingWindowAgg(spark, sf))
    assert(plan.contains("partial_sum") || plan.contains("partial_count"))
  }

  test("q10: top-k uses TakeOrderedAndProject, not a global sort") {
    val plan = finalPlan(Relational.q10TopK(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("q22: query side broadcasts; scan side never shuffles the vectors") {
    val plan = finalPlan(Similarity.q22AnnBruteForce(spark, sf))
    assert(plan.contains("BroadcastNestedLoopJoin"))
  }

  test("q195 fallback: no-hint closing probe plans as a SHUFFLED equi-join " +
      "— no BNLJ, no cartesian") {
    // Emulate past-broadcast-reach conditions: with auto-broadcast off
    // (what a 10^8-edge relation's size stats do for real), the no-hint
    // closing probe must become a shuffled EQUI-join on (lo, hi) — the
    // plan the comment promises — and never degrade to a nested loop.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val plan = finalPlan(Clustering.q195TrianglesShuffledClose(spark, sf))
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        "closing probe must stay equi-keyed under the fallback")
      assert(plan.contains("SortMergeJoin") ||
        plan.contains("ShuffledHashJoin"),
        s"expected a shuffled equi-join in the fallback plan:\n$plan")
    } finally spark.conf.set(key, prev)
  }

  test("q228: paragraph-contam candidates come from the half-hash " +
      "equi-joins — no cross product") {
    val plan = finalPlan(graft.operators.Dedup.q228ParaContam(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "the pigeonhole half-split must keep candidate generation equi-keyed")
  }

  test("q26: dedup plan is hash equi-joins only — no cartesian, no nested loop") {
    val plan = finalPlan(Similarity.q26EmbeddingDedup(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      "LSH dedup must never materialize the all-pairs cross product")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "candidate generation and verify must stay equi-key hash joins")
  }

  test("q23: multiprobe candidates come from a broadcast bucket equi-join — no cross product") {
    val plan = finalPlan(Similarity.q23AnnLsh(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      "the probed query side must broadcast into a (tbl, bucket) equi-join")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "multiprobe must widen the query side only, never the join shape")
  }

  test("q50: semdedup candidates come from the cluster equi-join — no cross product") {
    // the LAZY pipeline: q50SemDedup itself localCheckpoints (truncating
    // the plan to a scan), so the join shape is only visible here
    val (df, p) = Clustering.q50SemDedupLazy(spark, sf)
    val plan = finalPlan(df)
    p.release()
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "within-cluster pairing must be an equi-join on the cluster id")
  }

  test("q30: IVF probe is an equi-join on cell with broadcast probes — no cross product") {
    val plan = finalPlan(Similarity.q30AnnIvf(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      "the small probe side must broadcast")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "candidates must come from the cell equi-join, never a cross product")
  }

  test("q53: PQ candidates come from the cell equi-join; exact re-rank " +
      "joins by id — no cross product") {
    val plan = finalPlan(Similarity.q53AnnIvfPq(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      "the probe/query sides must broadcast")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "ADC scoring must ride the cell equi-join, never a cross product")
  }

  test("q40: prefix-filter candidates come from an equi-join — no cross product") {
    val plan = finalPlan(Dedup.q40NgramJaccard(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "the inverted-index join must stay equi-keyed on the shingle hash")
  }

  test("q174: containment candidates stay equi-keyed — no cross product") {
    val plan = finalPlan(Dedup.q174Containment(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "the asymmetric prefix x full-index join must stay hash-keyed")
  }

  test("q189: SNM window pairs ride the block-id equi-join — no cross product") {
    val plan = finalPlan(Dedup.q189SnmDedup(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "the w-row neighborhood must come from the block-id join")
  }

  test("q190: span matches stay keyed on the gram hash — no cross product") {
    val plan = finalPlan(graft.operators.Curation.q190ContamSpans(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "positional gram matching must stay an equi-join")
  }

  test("q192: band-bucket candidates ride the (band, value) equi-join") {
    val plan = finalPlan(Dedup.q192FingerprintNeardup(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "Hamming-LSH candidates must come from the banded equi-join")
  }

  test("q191: DSIR selection is a distributed top-K, weights broadcast") {
    // (the 1-row totals frame rides an intended broadcast cross join —
    // no blanket no-BNLJ assertion here, the q187 waterfill shape)
    val plan = finalPlan(graft.operators.Curation.q191DsirSelect(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"),
      "top-K must be TakeOrderedAndProject, never a global sort")
    assert(plan.contains("BroadcastHashJoin"),
      "the B-row weight table joins back as a broadcast")
  }

  test("q54: substring-run stats stay equi-keyed — no cross product, pruned scan") {
    val plan = finalPlan(Dedup.q54SubstringRuns(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "window-frequency joins must stay keyed on the md5 hash")
    assert(plan.contains("ReadSchema") && !plan.contains("n_chars"),
      "the scan must not read unreferenced document columns")
  }

  test("q55: LM scoring joins stay equi-keyed on the bigram — no cross product") {
    val plan = finalPlan(TextAnalysis.q55BigramLm(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "count-table joins must stay keyed on (w1, w2) / w1")
  }

  test("q20: MinHash candidate generation never materializes a cross product") {
    val plan = finalPlan(Dedup.q20MinHashDedup(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("q56: month filter prunes partitions at the source, not in a row filter") {
    val plan = finalPlan(Bucketing.q56PartitionPruning(spark, sf))
    val flat = plan.replaceAll("\\s+", " ")
    assert(flat.matches(".*PartitionFilters: \\[[^\\]]*o_month[^\\]]*\\].*"),
      "the o_month predicate must be a partition (metadata) filter on the scan")
    // no row-level Filter node should re-test the partition column
    assert(!flat.matches(".*\\bFilter \\[?[^\\]]*o_month.*"),
      "partition pruning must fully absorb the o_month predicate")
  }

  test("q35: bucketed join runs with no exchange on either side") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (li, ord) = Bucketing.ensureBucketedTables(spark, sf)
      val l = spark.table(li)
      val o = spark.table(ord)
      val plan = finalPlan(l.join(o, l("l_orderkey") === o("o_orderkey")))
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange hashpartitioning"),
        "bucketed layout must make the join shuffle-free")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q21: simhash signature is a projection — no aggregation shuffle before banding") {
    val plan = finalPlan(Dedup.q21SimHashDedup(spark, sf))
    // The signature used to be explode + 64-vote-column groupBy(doc_id):
    // a full token shuffle plus a HashAggregate pair upstream of the band
    // join. As a SimHash64 projection the ONLY aggregation left in the
    // plan is the candidate-pair distinct — whose partial/final pair the
    // AdaptiveSparkPlan string prints twice (final + initial plan), so
    // the ceiling is 4; the old signature aggregation would add 4 more.
    val aggs = "HashAggregate".r.findAllIn(plan).length
    assert(aggs <= 4, s"expected only the pair-distinct partial/final " +
      s"aggregate pair, found $aggs HashAggregates:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("q162: paragraph near-dup candidates come from the banded equi-join — no cross product") {
    val plan = finalPlan(Dedup.q162ParaDedup(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "paragraph-unit pairing must stay the (band, bh) equi-join")
  }

  test("q163: novelty joins stay equi-keyed on the gram hash — no cross product") {
    val plan = finalPlan(graft.operators.TextAnalysis.q163Novelty(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "first-occurrence matching must never become an all-pairs join")
  }

  test("q167: LM scoring joins stay equi-keyed on bigram/unigram tokens") {
    val plan = finalPlan(graft.operators.TextAnalysis.q167BigramXent(spark, sf))
    // the only nested-loop join allowed is the broadcast 1-row V scalar
    assert(!plan.contains("CartesianProduct"),
      "model scoring must never become an unbroadcast all-pairs join")
  }

  test("q170: JSD scoring joins stay equi-keyed on the token") {
    val plan = finalPlan(graft.operators.TextAnalysis.q170SourceJsd(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      "marginal attachment must ride broadcasts, not a cartesian shuffle")
  }

  test("q41: decontamination joins stay equi-keyed on the gram hash — no cross product") {
    val plan = finalPlan(graft.operators.Curation.q41Decontamination(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "train x test gram matching must never be an all-pairs join")
  }

  test("q43: packing reads only the referenced columns; windows sort within shards") {
    val plan = finalPlan(graft.operators.Curation.q43SequencePack(spark, sf))
    val readSchema = plan.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("source") && !readSchema.contains("n_chars"),
      "unused columns must be pruned from the scan")
    // the running sum partitions by (lang, shard): its exchange is a hash
    // partitioning, never a single-partition global sort of the corpus
    assert(plan.contains("Exchange hashpartitioning(lang"))
  }

  test("q44: scrub is a pure per-row projection (no hash shuffle)") {
    val plan = finalPlan(graft.operators.Curation.q44Scrub(spark, sf))
    assert(!plan.contains("Exchange hashpartitioning"))
    assert(!plan.contains("BatchEvalPython"))
  }

  test("q47: centroid sums are partially aggregated before the shuffle") {
    val plan = finalPlan(graft.operators.Clustering.q47KmeansCluster(spark, sf))
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      "the final per-cluster rollup must combine map-side")
  }

  test("q33 rolling hash is a pure per-row projection (no UDFs, no hash shuffle)") {
    val plan = finalPlan(TextAnalysis.q33RollingHash(spark, sf))
    assert(!plan.contains("BatchEvalPython") && !plan.contains("SQLAppliedFunction"))
    // only the deterministic output sort may exchange; no aggregation shuffle
    assert(!plan.contains("Exchange hashpartitioning"))
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"))
  }

  test("q64: the gram self-join is equi-keyed; the only non-equi join is " +
      "the S x S sizes frame") {
    // toString of an AQE plan carries BOTH the final and the initial
    // plan; count join nodes only in the final section
    val plan = finalPlan(graft.operators.Curation.q64SourceOverlap(spark, sf))
      .split("== Initial Plan ==").head
    // the corpus-sized frame (per-source gram sets) must meet itself on
    // the gh equi-key, never as a cross product; the one deliberate
    // cartesian is between two source-count-sized AGGREGATES (the
    // all-pairs matrix frame), which AQE resolves as a tiny BNLJ
    val nonEqui = "CartesianProduct|BroadcastNestedLoopJoin".r
      .findAllIn(plan).size
    assert(nonEqui <= 1, s"expected at most the sizes-matrix join, got $nonEqui")
    assert(plan.contains("Exchange hashpartitioning"),
      "gram sets must co-locate by hash before the self-join")
  }

  test("q65: diversity is two aggregations — no join of corpus-sized " +
      "frames, partial aggregation before every shuffle") {
    val plan = finalPlan(Similarity.q65DiversityStats(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      "the identity must never materialize pairs")
    assert(plan.contains("partial_sum"),
      "per-dim and per-label sums must combine map-side")
  }

  test("q68: block dedup joins stay equi-keyed — no cross product; the " +
      "block-count agg combines map-side") {
    val plan = finalPlan(Dedup.q68BlockDedup(spark, sf))
      .split("== Initial Plan ==").head
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "first-occurrence window and reassembly must stay hash-keyed")
    assert(plan.contains("partial_count"),
      "per-doc block counts must combine map-side")
  }

  test("q69: anchors broadcast against one corpus scan (q22's BNLJ shape); " +
      "the vote is a hash aggregation") {
    val plan = finalPlan(Similarity.q69KnnClassify(spark, sf))
    assert(plan.contains("BroadcastNestedLoopJoin"),
      "the anchor side must broadcast — the corpus is scanned, not shuffled")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q70: vocab stats aggregate partially before the (lang, token) " +
      "shuffle; no joins at all") {
    val plan = finalPlan(TextAnalysis.q70VocabStats(spark, sf))
    assert(plan.contains("partial_count"),
      "token counts must combine map-side")
    assert(!plan.contains("Join"), "a profile query must not join")
  }

  test("q72: drift joins stay equi-keyed on token/source; the only " +
      "non-equi join is the 1-row total broadcast") {
    val plan = finalPlan(TextAnalysis.q72UnigramDrift(spark, sf))
      .split("== Initial Plan ==").head
    val nonEqui = "CartesianProduct|BroadcastNestedLoopJoin".r
      .findAllIn(plan).size
    assert(nonEqui <= 1, s"expected at most the 1-row N broadcast, got $nonEqui")
    assert(plan.contains("InMemoryTableScan"),
      "the (source, token) counts must be cached across their three consumers")
  }

  test("q73: chunk plan is a pure projection — no hash shuffle, pruned scan") {
    val plan = finalPlan(graft.operators.Curation.q73ChunkPlan(spark, sf))
    assert(!plan.contains("Exchange hashpartitioning"),
      "chunking must not shuffle — only the presentation sort may exchange")
    assert(!plan.contains("BatchEvalPython"))
    val readSchema = plan.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("lang") && !readSchema.contains("source"),
      "unused columns must be pruned from the scan")
  }

  test("q76: boilerplate scrub joins stay equi-keyed on the block hash — " +
      "no cross product; frequency count combines map-side") {
    val plan = finalPlan(Dedup.q76BoilerplateScrub(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "the verdict join must stay a hash equi-join on bh")
    assert(plan.contains("partial_count"),
      "the per-block doc frequency must partially aggregate before its shuffle")
    assert(plan.contains("InMemoryTableScan"),
      "the exploded block frame must be cached across its three consumers")
  }

  test("q77: the constant rank limit is pushed below the stratum shuffle " +
      "(WindowGroupLimit) — map tasks pre-prune to their local top-N") {
    val plan = finalPlan(graft.operators.Curation.q77StratifiedSample(spark, sf))
    assert(plan.contains("WindowGroupLimit"),
      "rank <= SampleN must rewrite to WindowGroupLimit; without it every " +
        "row of a skewed stratum ships to one reducer")
  }

  test("q79: the label predicate reaches the parquet scan; scoring keeps " +
      "q22's broadcast shape") {
    val plan = finalPlan(Similarity.q79FilteredAnn(spark, sf))
    assert(plan.contains("PushedFilters") && plan.contains("In(label"),
      "the metadata filter must prune at the scan, not post-materialization")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      "queries broadcast against ONE filtered corpus scan")
  }

  test("q74: moments aggregate partially before the dim shuffle; no joins") {
    val plan = finalPlan(Similarity.q74DimStats(spark, sf))
    assert(plan.contains("partial_sum") || plan.contains("partial_count"),
      "per-dim moment sums must fold map-side: the exchange carries " +
        "O(partitions x dim) tuples, not n x dim exploded rows")
    assert(!plan.contains("Join"), "a profile query must not join")
  }

  test("q75: zero-fill join broadcasts the aggregate — the corpus " +
      "shuffles once, the grid never sort-merges") {
    val plan = finalPlan(Relational.q75GapFill(spark, sf))
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin"),
      "the (hour, type) aggregate is grid-sized metadata — it must " +
        "broadcast as the left join's build side")
    assert(!plan.contains("SortMergeJoin"),
      "gap fill must never shuffle the grid against the aggregate")
    assert(plan.contains("InMemoryTableScan"),
      "bounds/types/zero-fill must all read the CACHED grid-sized " +
        "aggregate — deriving any of them from the raw table would " +
        "re-scan the corpus")
  }
  test("q84: bloom probe filter evaluates in the scan stage, no broadcast of the probe") {
    val plan = finalPlan(graft.operators.RuntimeFilters.q84BloomSemiJoin(spark, sf))
    // the pre-filter predicate sits in the plan as might_contain over the
    // literal sketch — before the semi join, not after
    assert(plan.contains("might_contain"),
      "bloom pre-filter must appear in the physical plan")
    assert(plan.contains("LeftSemi"), "exact verification is a left-semi join")
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("q85: cube is one Expand feeding one partial aggregate — a single scan") {
    val plan = finalPlan(Relational.q85CubeSummary(spark, sf))
    assert(plan.contains("Expand"))
    assert(plan.contains("partial_count") || plan.contains("partial_sum"))
    // AQE prints Final + Initial sections; count scans in the final one
    assert(plan.split("== Initial Plan ==")(0)
      .linesIterator.count(_.contains("Scan parquet")) === 1,
      "4 grouping sets must not mean 4 scans")
  }

  test("q89: explicit-list pivot compiles to one scan + conditional aggregation (no distinct pre-pass)") {
    val plan = finalPlan(Relational.q89Pivot(spark, sf))
    assert(plan.split("== Initial Plan ==")(0)
      .linesIterator.count(_.contains("Scan parquet")) === 1)
    assert(!plan.contains("Expand"), "explicit pivot values need no expand/distinct discovery")
    assert(plan.contains("partial_count"))
  }

  test("q90: unpivot is Expand + one partial aggregate over a single scan") {
    val plan = finalPlan(Relational.q90Unpivot(spark, sf))
    assert(plan.contains("Expand"))
    assert(plan.split("== Initial Plan ==")(0)
      .linesIterator.count(_.contains("Scan parquet")) === 1)
    assert(plan.contains("partial_min") || plan.contains("partial_count"))
  }

  test("q91: only extracted fields reach the aggregate — JSON text pruned after the scan projection") {
    val plan = finalPlan(Relational.q91JsonExtract(spark, sf))
    // the scan must read props (it is the extraction input)...
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("props"))
    // ...but no exchange row carries the raw JSON: the shuffle schema is
    // the aggregate state over (event_type, k). get_json_object appears
    // only below the first aggregate.
    val exchangeIdx = plan.indexOf("Exchange")
    val extractIdx = plan.indexOf("get_json_object")
    assert(extractIdx > exchangeIdx && exchangeIdx > 0,
      "extraction must happen scan-side (below the exchange in the plan tree)")
  }

  test("q92: funnel is one shuffle on user_id — window and aggregate share it, no self-join") {
    val plan = finalPlan(Relational.q92FunnelLag(spark, sf))
    assert(!plan.contains("Join"), "analytic-frame funnel must not self-join")
    assert(plan.contains("Window"))
  }

  test("q97: fuzzy vocab join is an equi-join on deletion variants — never a cross product") {
    val plan = finalPlan(Dedup.q97FuzzyVocabJoin(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      "vocab x vocab with a levenshtein predicate is the plan that never finishes")
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("q98: dimension chain broadcasts; the date filter reaches the orders scan") {
    val plan = finalPlan(Relational.q98StarFlagship(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      "region/nation/customer must broadcast against the fact side")
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate")
      || plan.contains("GreaterThanOrEqual(o_orderdate"),
      "order-date predicate must be pushed to the parquet scan")
  }

  test("q101: every z-cell is a rectangle covering ~1/4 of EACH dimension") {
    val rows = Bucketing.q101ZorderLayout(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty && rows.forall(r => r._1 >= 0 && r._1 < 16))
    val okRange = (rows.map(_._3).max - rows.map(_._2).min + 1).toDouble
    val pkRange = (rows.map(_._5).max - rows.map(_._4).min + 1).toDouble
    rows.foreach { case (cell, okMin, okMax, pkMin, pkMax) =>
      // top-4-bit z-cells tile the key space 4x4: each cell's span in
      // EITHER dimension is <= range/4 (+1 bucket of boundary slack).
      // A 1-D sort key would give span == full range on the second dim.
      assert((okMax - okMin + 1) <= okRange / 4 + okRange / 256 + 1,
        s"cell $cell orderkey span too wide")
      assert((pkMax - pkMin + 1) <= pkRange / 4 + pkRange / 256 + 1,
        s"cell $cell partkey span too wide")
    }
  }

  test("q102: window-max and the aggregate share ONE user_id exchange") {
    val plan = finalPlan(Relational.q102DecayFeatures(spark, sf))
    val exchanges = plan.split("== Initial Plan ==")(0).linesIterator
      .count(l => l.contains("Exchange hashpartitioning(user_id"))
    assert(exchanges === 1,
      "decay features must not shuffle twice on the same key")
    assert(!plan.toLowerCase.contains("exp("), "no transcendental in the plan")
  }

  test("q103: skyline never cross-joins — prefix-min window runs over the price-level aggregate") {
    val plan = finalPlan(Relational.q103Skyline(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "the NOT EXISTS formulation (O(n^2)) must never be the physical plan")
    // the Window must consume the aggregated levels, not base rows:
    // HashAggregate appears below (after, in tree print) the Window
    val winIdx = plan.indexOf("Window")
    val aggIdx = plan.lastIndexOf("HashAggregate")
    assert(winIdx >= 0 && aggIdx > winIdx,
      "prefix-min runs over per-price aggregates")
  }

  test("q104: trend statistics aggregate partially in one pass — no window, no join") {
    val plan = finalPlan(Relational.q104RegrTrend(spark, sf))
    assert(!plan.contains("Join") && !plan.contains("Window"))
    assert(plan.contains("partial_"))
  }

  test("q107: per-group rank reuses the aggregate's exchange — one shuffle total") {
    val plan = finalPlan(Relational.q107GroupedTopK(spark, sf))
    val body = plan.split("== Initial Plan ==")(0)
    // window partitions by a prefix of the aggregate key, so the only
    // exchanges are the agg's own and (possibly) its re-key for the
    // window — never a global sort
    assert(!body.contains("Exchange SinglePartition") ||
      body.contains("TakeOrdered") || !body.contains("Sort global"),
      "grouped top-k must not plan a global sort")
    assert(plan.contains("partial_"), "the per-user sums aggregate map-side")
  }

  test("q109: skew profile shuffles only per-key partial counts") {
    val plan = finalPlan(graft.operators.Profiling.q109SkewProfile(spark, sf))
    assert(plan.contains("partial_count") || plan.contains("partial_"),
      "key counting must combine map-side — the shuffle carries keys, not rows")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q100: all column stats evaluate in one scan via Expand") {
    val plan = finalPlan(graft.operators.Profiling.q100TableStats(spark, sf))
    assert(plan.split("== Initial Plan ==")(0)
      .linesIterator.count(_.contains("Scan parquet")) === 1,
      "the profiler must not scan the table once per column")
    assert(plan.contains("Expand"),
      "multi-column exact NDV compiles to a single Expand")
    assert(plan.contains("partial_"), "stats aggregate partially map-side")
  }

  test("q122: bottom-k sample is a per-partition top-k, not a global sort") {
    val plan = finalPlan(graft.operators.Curation.q122BottomkSample(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"),
      "orderBy(hash).limit(k) must compile to the heap-based top-k " +
        "(the only sort touching corpus-sized data; the outer doc_id " +
        "sort sees k rows)")
  }

  /** AQE's plan string repeats the tree under "== Initial Plan ==" —
    * count nodes in the final section only. */
  private def finalSection(plan: String): String =
    plan.split("== Initial Plan ==")(0)

  test("q127: inverted index is ONE token-keyed shuffle — no join, partial count") {
    val plan = finalPlan(TextAnalysis.q127InvertedIndex(spark, sf))
    assert(!plan.contains("Join"), "index build must not join")
    assert(plan.contains("partial_count") || plan.contains("partial"),
      "df count must combine map-side")
    val hashEx = finalSection(plan).linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 1, s"expected exactly one hash exchange, saw $hashEx")
  }

  test("q129: PMI joins stay equi-keyed; only the 1-row total broadcasts loosely") {
    val plan = finalPlan(TextAnalysis.q129PmiCollocations(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      "marginal joins must be hash equi-joins")
  }

  test("q131: incremental merge is user_id-keyed aggregation — no cartesian") {
    val plan = finalPlan(Relational.q131IncrementalAgg(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      "only the 1-row cutoff may broadcast (BNLJ); base/delta stay keyed")
    assert(plan.contains("Union"), "base and delta partial states must union")
    assert(plan.contains("partial"), "merge aggregate must combine map-side")
  }

  test("q149: BM25 term filter broadcasts; top-k is heap-based, no cartesian") {
    val plan = finalPlan(TextAnalysis.q149Bm25(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"),
      "the global top-k must compile to per-partition heaps")
    assert(!plan.contains("CartesianProduct"),
      "only the 1-row corpus stats may ride a broadcast nested loop")
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"),
      "the 3-row query-term table must broadcast against the tf explode")
  }

  test("q152/q158: series pairs and path top-k stay off the cartesian path") {
    val p152 = finalPlan(Relational.q152SeriesCorr(spark, sf))
    assert(!p152.contains("CartesianProduct"),
      "the pair join must key on hour; only the tiny grid explode " +
        "broadcasts loosely")
    val p158 = finalPlan(Relational.q158PathMining(spark, sf))
    assert(p158.contains("TakeOrderedAndProject"),
      "path top-k must compile to per-partition heaps, not a global sort")
    assert(!p158.contains("CartesianProduct"))
  }

  test("q193/q194: graph iterations and sketch probes broadcast, never cartesian") {
    val p193 = finalPlan(Clustering.q193Pagerank(spark, sf))
    assert(!p193.contains("CartesianProduct"))
    assert(p193.contains("BroadcastHashJoin"),
      "dimension maps and the 25-row rank frame must ride the broadcast " +
        "side of every join — only the lineitem-orders join may shuffle")
    val p194 = finalPlan(TextAnalysis.q194Countmin(spark, sf))
    assert(!p194.contains("CartesianProduct"))
    assert(p194.contains("BroadcastHashJoin"),
      "the 80-cell probe set must broadcast against the 4096-cell sketch")
    assert(p194.contains("partial"),
      "the sketch build must fold map-side into the fixed 4x1024 grid")
  }

  test("q196: the probe fit is one scan and one partial-aggregable reduce") {
    val plan = finalPlan(TextAnalysis.q196LinearProbe(spark, sf))
    assert(!plan.contains("Join"), "normal-equation sums must not join")
    assert(plan.contains("partial"),
      "the nine Gram sums must fold map-side — O(1) state per partition")
    // AQE's toString repeats the tree under "== Initial Plan ==" — count
    // scans in the final section only
    val finalSection = plan.split("== Initial Plan ==").head
    assert(finalSection.split("Scan parquet").length <= 2,
      "one documents scan only")
  }

  test("q195: triangle enumeration is equi-joins only, degree map broadcasts") {
    val plan = finalPlan(Clustering.q195Triangles(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      "wedge and closing-edge probes must stay rank-keyed equi-joins")
    assert(plan.contains("BroadcastHashJoin"),
      "the |V|-row degree map must broadcast onto the edge list")
  }

  test("q199/q200: peel rounds broadcast; the weighted sample is a top-K") {
    // gate one peel round directly: the full q199 truncates lineage per
    // round, so its final plan is just the degree aggregate
    val p199 = finalPlan(
      Clustering.kCorePeelOnce(Clustering.kCoreEdgeList(spark, sf)))
    assert(!p199.contains("CartesianProduct"))
    assert(p199.contains("BroadcastHashJoin"),
      "every peel round's keep set must ride the broadcast side")
    val p200 = finalPlan(graft.operators.Curation.q200WeightedSample(spark, sf))
    assert(p200.contains("TakeOrderedAndProject"),
      "A-ES sampling must be per-partition top-K + merge, never a global sort")
    assert(!p200.contains("Exchange rangepartitioning"),
      "no range-partitioned global sort for a bounded sample")
  }

  test("q204: the distortion audit is one id-keyed join + a partial fold") {
    val plan = finalPlan(Similarity.q204MatryoshkaAudit(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      "probe pairs come from the vec_id+1 equi-join, never all pairs")
    assert(plan.contains("partial"),
      "per-k distortion aggregates must fold map-side")
  }

  test("q205/q207: one per-source aggregate, no join, map-side combine") {
    for (df <- Seq(graft.operators.Curation.q205MixtureRebalance(spark, sf),
        graft.operators.Curation.q207NeymanAlloc(spark, sf))) {
      val plan = finalPlan(df)
      assert(!plan.contains("Join"),
        "the corpus-sized work is ONE per-source aggregate; the " +
          "rebalance/allocation math runs on the catalog-sized frame " +
          "via windows, never a join")
      assert(plan.contains("partial_count") || plan.contains("partial"),
        "the per-source aggregate must combine map-side")
    }
  }

  test("q206: the corpus-sized frames join equi-keyed; the only non-equi " +
      "join is the catalog pair grid") {
    val plan = finalPlan(
        graft.operators.Curation.q206SourceOverlapSketch(spark, sf))
      .split("== Initial Plan ==").head
    // q64's gate shape: the deliberate cartesian is srcs x srcs (a
    // |catalog|^2 grid of two tiny aggregates); sketches, membership
    // unions, and the exact gram self-join must all meet on equi-keys
    val nonEqui = "CartesianProduct|BroadcastNestedLoopJoin".r
      .findAllIn(plan).size
    assert(nonEqui <= 1, s"expected at most the pair-grid join, got $nonEqui")
    assert(plan.contains("Exchange hashpartitioning"),
      "gram/sketch sets must co-locate by hash, never replicate")
  }

  test("q208: each greedy round is a partial count + a TakeOrdered(1)") {
    // gate one round directly (the full query's final frame is the
    // driver-sized pick list, q199's lineage-truncation pattern)
    val sh = spark.range(100)
      .selectExpr("id % 10 AS doc_id", "unhex(md5(CAST(id AS STRING))) AS gh")
    val plan = finalPlan(graft.operators.Curation.coresetRound(sh))
    assert(plan.contains("TakeOrderedAndProject"),
      "the winner pick must be a per-partition top-1 + merge")
    assert(!plan.contains("Join"),
      "gains are a plain count over the remaining frame — the covered " +
        "set is never re-joined")
    assert(plan.contains("partial"),
      "the gain count must combine map-side")
  }

  test("q203: the bottom-k sketch is a TakeOrdered merge, not a sort") {
    val plan = finalPlan(TextAnalysis.q203KmvDistinct(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"),
      "bottom-k must be per-partition top-K + merge")
    assert(!plan.contains("Exchange rangepartitioning"),
      "no global sort for a k-bounded order statistic")
  }

  test("q202: cusum never uses an unpartitioned global-order window") {
    val plan = finalPlan(graft.operators.Profiling.q202SourceCusum(spark, sf))
    assert(!plan.contains("CartesianProduct"))
    // the prefix scan must be the frozen two-pass shape: range exchange +
    // mapPartitions, never a Window over a whole source
    assert(!plan.contains("Window"),
      "per-source running sums must come from the two-pass prefix scan")
  }

  test("q201: the bootstrap is one scan, B-way generate, partial fold") {
    val plan = finalPlan(graft.operators.Profiling.q201PoissonBoot(spark, sf))
    assert(!plan.contains("Join"), "no join — resamples are weight streams")
    assert(plan.contains("Generate"), "the B-way explode feeds the fold")
    assert(plan.contains("partial_sum"),
      "B (sum_wx, sum_w) pairs must fold map-side — 64 longs of state")
  }

  test("q198: matrix power stays on broadcast joins of the tiny P frame") {
    val plan = finalPlan(Relational.q198MarkovPower(spark, sf))
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("BroadcastHashJoin"),
      "the |types|^2 transition frame must broadcast in both multiply steps")
  }

  test("q197: assortativity reduce folds map-side, degree map broadcasts") {
    val plan = finalPlan(Clustering.q197Assortativity(spark, sf))
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("BroadcastHashJoin"),
      "both degree lookups must ride the broadcast side")
    assert(plan.contains("partial_sum"),
      "the four edge-degree sums must combine map-side — O(1) state")
  }

  /** A logical subtree is BOUNDED when every scan below it is separated
    * from the consumer by an Aggregate or a Limit (or the frame is a
    * literal/local relation): its row count is key-cardinality- or
    * constant-sized, not corpus-sized, so a global window over it is
    * safe at any SF. */
  private def bounded(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    p match {
      case _: Aggregate => true
      case _: GlobalLimit => true
      case _: LocalLimit => true
      case _: LocalRelation => true
      case _: OneRowRelation => true
      case leaf if leaf.children.isEmpty => false
      case other => other.children.forall(bounded)
    }
  }

  test("global-window gate: no query plans an unpartitioned window over " +
      "an unbounded frame outside the documented doc-scale allowlist") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    // Doc-scale global windows allowed ON PURPOSE, each with a 100 TB
    // scale note in source naming the sketch-cutpoint alternative (q88's
    // alternative is SHIPPED as q232; q151/q220/q224 were CONVERTED in
    // place to TwoPass.globalNtile in round 11 and left this list).
    // Adding a new doc-scale global window means either restructuring
    // the query (the q95/q232 prefix decompositions, or
    // TwoPass.globalNtile for exact ntile over arbitrary keys) or
    // extending this list WITH a scale note.
    val docScaleAllow = Set(
      "q88_length_buckets")  // exact-ntile oracle anchor; scale variant q232
    // stream-named queries execute their replay at construction time
    // (their windows are per-trigger batch-sized; covered by ParitySpec),
    // q25/q35 are eager for the same reason (EntrySpec's list)
    val skip = SparkEntry.queries.keySet.filter(_.contains("stream")) +
      "q25_stream_batch_parity" + "q35_bucketed_join"
    val offenders = for {
      (name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
      if !skip(name) && !docScaleAllow(name)
      w <- fn(spark, sf).queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty && !bounded(w.child) => w }
    } yield s"$name: ${w.windowExpressions.map(_.name).mkString(",")}"
    assert(offenders.isEmpty,
      s"unbounded unpartitioned window(s) outside the allowlist — at scale " +
        s"these funnel the corpus through one task:\n${offenders.mkString("\n")}")
    // negative control: the detector must FLAG a known doc-scale global
    // window (q88's exact ntile) — proves the gate is live, not vacuous
    val q88wins = graft.operators.Curation.q88LengthBuckets(spark, sf)
      .queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty && !bounded(w.child) => w }
    assert(q88wins.nonEmpty, "detector failed to flag q88's global ntile")
  }

  test("q232: the scale-variant bucketing keeps the doc-scale window " +
      "PARTITIONED; only the key-cardinality aggregate sees a global order") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val df = graft.operators.Curation.q232LengthBucketsScaled(spark, sf)
    val wins = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty)
    wins.foreach { w =>
      assert(w.partitionSpec.nonEmpty || bounded(w.child),
        "every unpartitioned window must sit over an aggregate-bounded frame")
    }
    val plan = finalPlan(df)
    assert(plan.contains("BroadcastHashJoin"),
      "the per-length offsets must ride back as a broadcast")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q232 equals q88 row for row — the decomposed rank IS exact ntile") {
    val a = graft.operators.Curation.q88LengthBuckets(spark, sf).collect().toSeq
    val b = graft.operators.Curation.q232LengthBucketsScaled(spark, sf)
      .collect().toSeq
    assert(a == b, s"scale variant diverged:\nq88=$a\nq232=$b")
    // and with a block width SMALLER than the doc_id range, so every key
    // spans many doc_id blocks and the two-level (key offset + block
    // offset + within-block rank) recomposition is genuinely exercised —
    // at oracle SFs the production width degenerates to one block
    val c = graft.operators.Curation.q232WithBlockW(spark, sf, 64L)
      .collect().toSeq
    assert(a == c, s"multi-block recomposition diverged:\nq88=$a\nq232w64=$c")
  }

  test("q132: table checksum is one scan + one partial-aggregable shuffle") {
    val plan = finalPlan(Relational.q132TableChecksum(spark, sf))
    assert(!plan.contains("Join"), "checksum must not join")
    assert(plan.contains("partial"), "bucket triple must combine map-side")
    val hashEx = finalSection(plan).linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 1, s"expected exactly one hash exchange, saw $hashEx")
  }

  test("decimal-sum keys plan no object or sort aggregate, every " +
      "HashAggregate in codegen, and no wide decimal buffer") {
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    Seq("q01_sliding_window_agg", "q02_tumbling_window_agg", "q04_keyby_reduce",
        "q05_range_window_filter", "q06_broadcast_enrich", "q08_session_window",
        "q09_shuffle_join_agg").foreach { key =>
      val df = SparkEntry.queries(key)(spark, sf)
      df.collect()
      val all = PlanSpec.nodes(df.queryExecution.executedPlan)
      val aggs = all.collect { case a: BaseAggregateExec => a }
      val inCodegen = all.collect { case w: WholeStageCodegenExec =>
        w.child.collect { case h: HashAggregateExec => h } }.flatten
      assert(aggs.nonEmpty, key)
      // q08's session merge (MergingSessions) is the one other kind
      aggs.foreach { a =>
        assert(!a.isInstanceOf[ObjectHashAggregateExec] && !a.isInstanceOf[SortAggregateExec],
          s"$key: ${a.nodeName}")
        if (a.isInstanceOf[HashAggregateExec])
          assert(inCodegen.exists(_ eq a), s"$key: ${a.simpleString(200)} runs outside codegen")
        val wide = a.aggregateExpressions.flatMap(_.aggregateFunction.aggBufferAttributes)
          .filter(_.dataType match {
            case d: org.apache.spark.sql.types.DecimalType => d.precision > 18
            case _ => false
          })
        assert(wide.isEmpty, s"$key: wide decimal buffer ${wide.mkString(", ")}")
      }
    }
  }

  test("q69: the pair-scoring join streams a round-robin exchange at the " +
      "session's shuffle partitions") {
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    val df = Similarity.q69KnnClassify(spark, sf)
    df.collect()
    val joins = PlanSpec.nodes(df.queryExecution.executedPlan)
      .collect { case j: BroadcastNestedLoopJoinExec => j }
    assert(joins.size == 1)
    val j = joins.head
    val streamed = j.buildSide match {
      case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.left
      case _ => j.right
    }
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val exchanges = PlanSpec.nodes(streamed).collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.exists(_.outputPartitioning == RoundRobinPartitioning(n)),
      s"streamed side:\n$streamed")
  }
}

object PlanSpec extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  /** Every node of a physical plan, through adaptive plans and their
    * query stages. */
  def nodes(plan: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = collect(plan) { case n => n }
}
