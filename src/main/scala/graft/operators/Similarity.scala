package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Approximate-nearest-neighbor search over the embedding column.
  *
  * q22 — brute-force cosine top-k: the correctness baseline. Queries are
  * broadcast; the vector table is scanned once (BroadcastNestedLoopJoin);
  * ranking is a per-query window top-k. Linear in |vectors| x |queries| —
  * the honest baseline any ANN index is measured against.
  *
  * q23 — random-hyperplane LSH (the scale path): L=8 tables x 4 bits.
  * Bucket assignment is a pure projection (sign bits of dot products with
  * 32 fixed seeded-Gaussian hyperplanes); the candidate join is keyed on
  * (table, bucket) — at 100 TB the full cross product never materializes,
  * only same-bucket candidates are scored.
  *
  * All vector math runs through the native codegen'd [[graft.functions.DotProduct]]
  * expression — a single fused loop inside whole-stage codegen, no UDFs,
  * no intermediate arrays. The fold order is sequential-in-double and
  * deterministic, making the cosine bit-reproducible (and equal to
  * DuckDB's list_dot_product on DOUBLE[], verified).
  */
object Similarity {

  import graft.functions.GraftFunctions.dot

  private val TopK      = 10
  private val NumQueries = 5

  private def withNorm(df: DataFrame): DataFrame =
    df.withColumn("norm", sqrt(dot(col("embedding"), col("embedding"))))

  // ---------------------------------------------------------------------
  // q22 — brute-force cosine top-k.
  // ---------------------------------------------------------------------
  def q22AnnBruteForce(spark: SparkSession, sfDir: String): DataFrame = {
    val e = withNorm(Tables.embeddings(spark, sfDir))
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("norm").as("qnorm"))
    e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (dot(col("qe"), col("embedding")) / (col("qnorm") * col("norm"))).as("cosine"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
      .orderBy("query_id", "rank")
  }

  val q22Sql: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS emb,
       |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
       |  FROM embeddings),
       |q AS (SELECT vec_id AS query_id, emb AS qe, norm AS qnorm FROM e
       |      WHERE vec_id < $NumQueries),
       |pairs AS (
       |  SELECT q.query_id, e.vec_id AS neighbor_id,
       |         list_dot_product(q.qe, e.emb) / (q.qnorm * e.norm) AS cosine
       |  FROM e, q WHERE e.vec_id != q.query_id)
       |SELECT query_id, rank, neighbor_id, cosine FROM (
       |  SELECT query_id, neighbor_id, cosine,
       |         ROW_NUMBER() OVER (PARTITION BY query_id
       |                            ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM pairs)
       |WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------------
  // q26 — embedding-cosine near-duplicate detection: LSH candidate
  // generation + exact-cosine verification (the q20 MinHash shape).
  //
  // Corpus under test: the embeddings table unioned with a
  // deterministically perturbed copy of itself (emb'[i] = emb[i] +
  // 0.1*emb[i mod d + 1]; vec_id' = vec_id + 1e6). The raw testdata
  // vectors are isotropic random with NO planted near-dups — every pair
  // sits in the continuous N(0, 1/64) cosine tail (measured at sf0.1:
  // closest pairs straddle any threshold by <4e-4), and with no
  // dup/non-dup margin NO complete sub-quadratic candidate filter exists
  // (a pair at t-epsilon is geometrically indistinguishable from one at
  // t+epsilon, so any full-recall filter passes essentially all pairs).
  // Near-dup detection presupposes a margin; the perturbed-union corpus
  // has one (planted pairs at cosine >= 0.9950 at every SF — the
  // perturbation is deterministic per-vector, so the planted cosine does
  // not drift with corpus size; max non-planted cosine measured per gate
  // SF: 0.51 at sf0.001 and sf0.01 (the table is 500 rows at both),
  // 0.63 at sf0.1 — the extreme of
  // ~n^2/2 draws from a cosine distribution concentrated as N(0, 1/64),
  // whose growth is O(sqrt(log n)): headroom to the 0.8 threshold shrinks
  // only logarithmically, leaving > 0.1 of margin for corpora far beyond
  // these SFs), which is the actual regime of embedding dedup at 100 TB.
  // SimilaritySpec additionally asserts LSH == brute force over the full
  // corpus at sf0.001, and PlanSpec pins the no-cross-product plan shape.
  //
  // Shape — zero cross products:
  //  1. bucket: `tables x bits` sign bits of seeded-Gaussian hyperplane
  //     dots (18 x 12 floor; both grow with corpus size via dupGeometry
  //     so bucket occupancy — and with it the self-join's per-bucket
  //     pair count — stays CONSTANT per vector), one codegen'd
  //     projection; shuffle rows are 3 longs.
  //  2. candidates: equi-self-join on (tbl, bucket), vec_a < vec_b,
  //     distinct.
  //  3. verify: re-join the corpus by id, exact cosine, filter >= 0.8.
  // Per-pair miss probability (1 - p^12)^18 with p = 1 - acos(0.995)/pi
  // = 0.968 -> 1.4e-9; false-candidate rate at cosine ~0 is 18/2^12 =
  // 0.44% of pairs. The DuckDB oracle is brute force over the same
  // corpus — valid because the expected number of missed pairs across
  // all tested SFs is < 1e-5.
  // ---------------------------------------------------------------------
  private val DupCosine   = 0.8
  private val DupTables   = 18
  private val DupBits     = 12

  /** Expected vectors per (table, bucket) the sizing law holds constant.
    * Fixed bucket geometry is the classic LSH scale trap: with b sign
    * bits there are 2^b buckets, bucket occupancy grows as n/2^b, and
    * the within-bucket self-join emits Θ(n²/2^b) candidate pairs — the
    * round-13 two-interval probe MEASURED exactly that (warm3: q26
    * exp(1→10) 1.10 but exp(10→30) 2.08; SCALING.md). Holding occupancy
    * constant instead (b = log₂(n/C)) keeps candidates at Θ(n·C) —
    * linear at any corpus size. */
  private val DupOccupancy = 16
  /** Design per-pair collision probability at the near-dup operating
    * point (cosine 0.995 — the perturbed-copy similarity this corpus
    * and its oracle contain): p = 1 - acos(0.995)/π. */
  private val DupPlaneP = 1.0 - math.acos(0.995) / math.Pi
  /** Design miss probability per true near-dup pair — exactly the
    * historical geometry's value ((1 - p^12)^18 = 1.4e-9, the number the
    * analysis above has always quoted), so the table solve reproduces
    * the 18-table floor at 12 bits byte-for-byte. Expected missed pairs
    * stay ≪ 1 at any target corpus (1e9 pairs × 1.4e-9 ≈ 1 borderline;
    * tested SFs carry ≤ 1e5 pairs → ≤ 1e-4 expected misses, which is
    * what keeps the brute-force DuckDB oracle valid). */
  private val DupMissProb = 1.4e-9

  /** Corpus-size-adaptive LSH geometry: bits grow with log₂(n) to pin
    * expected bucket occupancy at [[DupOccupancy]], and the table count
    * is re-solved so (1 - p^bits)^tables ≤ [[DupMissProb]] at the design
    * similarity. Floors at the historical (18 tables × 12 bits) so every
    * tested SF sees byte-identical behavior; only genuinely larger
    * corpora pay more bits/tables — e.g. n = 1e9 → 26 bits, 37 tables,
    * per-vector candidate work still O(occupancy × tables). */
  /** Hard bits ceiling: bucket ids are Java ints built by `1 << p`
    * (`GraftFunctions.hyperplaneBucketProbes` requires bits ≤ 30, clear
    * of both the 32-bit shift wrap and the sign bit). The occupancy law
    * therefore holds exactly up to n = 16·2^30 ≈ 1.7e10 vectors; past
    * that, occupancy grows as n/2^30 — the next lever at that scale is
    * long bucket ids or corpus sharding, not more int bits. */
  private val DupMaxBits = 30

  private[graft] def dupGeometry(n: Long): (Int, Int) = {
    // ceil(log2(m)) in exact integer math — Math.log is only 1-ulp
    // accurate and a platform where log(4096)/log(2) reads 12.0000…02
    // would silently flip the geometry at power-of-two corpus sizes
    val m = math.max(1L, n / DupOccupancy)
    val ceilLog2 = if (m <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(m - 1L)
    val bits = math.min(DupMaxBits, math.max(DupBits, ceilLog2))
    val tables = math.max(DupTables,
      math.ceil(math.log(DupMissProb) /
        math.log(1.0 - math.pow(DupPlaneP, bits))).toInt)
    (tables, bits)
  }

  /** Fixed seeded hyperplanes for the dedup LSH (seed distinct from
    * q23's); sized for the geometry the corpus requires. */
  private def dupPlanes(tables: Int, bits: Int): Array[Array[Double]] = {
    val rnd = new scala.util.Random(26)
    Array.fill(tables * bits)(Array.fill(Dim)(rnd.nextGaussian()))
  }

  /** embeddings ∪ perturbed copies, as array<double> (oracle-exact: the
    * same widening + arithmetic DuckDB performs on `embedding::DOUBLE[]`).
    * Perturbed ids are offset by max(vec_id)+1, computed as a driver-side
    * scalar from a column-pruned one-row aggregate (the same category as
    * index training — O(1) driver data), never a fixed constant, so
    * perturbed ids cannot collide with real ids at any scale factor.
    * (A broadcast one-row cross join would express this lazily but plans
    * as a BroadcastNestedLoopJoin, which PlanSpec's no-BNLJ gate on q26
    * deliberately forbids.) */
  private[graft] def dupCorpus(spark: SparkSession, sfDir: String): DataFrame =
    dupCorpusSized(spark, sfDir)._1

  /** (corpus, corpus row count). The count rides the same one-row
    * aggregate that derives the id offset — no extra job — and feeds
    * [[dupGeometry]]'s occupancy law. */
  private[graft] def dupCorpusSized(
      spark: SparkSession, sfDir: String): (DataFrame, Long) = {
    // Native array cast + codegen'd NeighborMix replace two interpreted
    // per-element lambdas (bit-identical values — see NeighborMix doc).
    val base = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val agg = base.agg(max(col("vec_id")), count(lit(1))).head()
    val idOff: Long = agg.getLong(0) + 1L
    val df = base.unionAll(
      base.select((col("vec_id") + idOff).as("vec_id"),
        graft.functions.GraftFunctions.neighborMix(col("emb"), 0.1).as("emb")))
    (df, 2L * agg.getLong(1))
  }

  def q26EmbeddingDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val (rawCorpus, corpusN) = dupCorpusSized(spark, sfDir)
    val (tables, bits) = dupGeometry(corpusN)
    q26WithGeometry(rawCorpus, tables, bits)
  }

  /** q26 body with explicit LSH geometry — the scale probe A/Bs
    * geometries in one session through this. */
  private[graft] def q26WithGeometry(
      rawCorpus: DataFrame, tables: Int, bits: Int): DataFrame = {
    val corpus = rawCorpus
      .withColumn("norm", sqrt(dot(col("emb"), col("emb"))))

    // All `tables` bucket ids in ONE fused codegen loop
    // (HyperplaneBucketProbes): composing tables*bits per-plane dot
    // expressions instead would embed that many 64-double literals into
    // the generated Java of every stage that references this projection
    // — seconds of Janino compile time per cold run for identical
    // arithmetic.
    //
    // Single cache, placed on the EXPENSIVE-to-compute, CHEAP-to-hold
    // side: banded rows are 3 longs (~24 B) each, so both sides of the
    // self-join read them from memory. The corpus (wide embedding
    // arrays, trivial recompute from the scan) is deliberately NOT
    // cached — re-deriving it for the two verify sides re-reads a
    // column-pruned parquet scan instead of pinning every vector in
    // executor memory for the session.
    val banded = corpus
      .select(col("vec_id"), posexplode(
        graft.functions.GraftFunctions.hyperplaneBuckets(
          col("emb"), dupPlanes(tables, bits).map(_.toSeq).toSeq, bits)))
      .select(col("vec_id"), col("pos").as("tbl"), col("col").as("bucket"))
      .cache()

    val l = banded.as("l"); val r = banded.as("r")
    val cands = l.join(r,
        col("l.tbl") === col("r.tbl") && col("l.bucket") === col("r.bucket") &&
          col("l.vec_id") < col("r.vec_id"))
      .select(col("l.vec_id").as("vec_a"), col("r.vec_id").as("vec_b"))
      .distinct()

    val a = corpus.select(col("vec_id").as("vec_a"), col("emb").as("ea"),
      col("norm").as("na"))
    val b = corpus.select(col("vec_id").as("vec_b"), col("emb").as("eb"),
      col("norm").as("nb"))
    cands.join(a, "vec_a").join(b, "vec_b")
      .select(col("vec_a"), col("vec_b"),
        (dot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("cosine"))
      .filter(col("cosine") >= DupCosine)
      .orderBy("vec_a", "vec_b")
  }

  /** Candidate-pair count of q26's banded self-join BEFORE the distinct
    * and the exact verification — the quantity the occupancy law bounds
    * (≈ tables·occupancy·n/2). Measurement hook for the scale probe's
    * linearity check (VERDICT r13 item #7); never on a query path. */
  private[graft] def dupCandidateCount(
      rawCorpus: DataFrame, tables: Int, bits: Int): Long = {
    val banded = rawCorpus
      .select(col("vec_id"), posexplode(
        graft.functions.GraftFunctions.hyperplaneBuckets(
          col("emb"), dupPlanes(tables, bits).map(_.toSeq).toSeq, bits)))
      .select(col("vec_id"), col("pos").as("tbl"), col("col").as("bucket"))
    banded.groupBy(col("tbl"), col("bucket"))
      .agg(count(lit(1)).as("c"))
      .agg(sum(expr("c * (c - 1) div 2"))).head().getLong(0)
  }

  val q26Sql: String =
    s"""WITH base AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |corpus AS (
       |  SELECT vec_id, emb FROM base
       |  UNION ALL
       |  SELECT vec_id + (SELECT max(vec_id) + 1 FROM base),
       |         list_transform(range(1, len(emb) + 1),
       |                        i -> emb[i] + 0.1 * emb[i % len(emb) + 1])
       |  FROM base),
       |e AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS norm
       |      FROM corpus)
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |       list_dot_product(a.emb, b.emb) / (a.norm * b.norm) AS cosine
       |FROM e a JOIN e b ON a.vec_id < b.vec_id
       |WHERE list_dot_product(a.emb, b.emb) / (a.norm * b.norm) >= $DupCosine
       |ORDER BY vec_a, vec_b""".stripMargin

  // ---------------------------------------------------------------------
  // q23 — LSH-bucketed ANN with query-directed multiprobe (rows-only
  // check; recall vs q22 covered by TrainingDataSpec).
  //
  // Index side: one bucket per table per vector (sign bits of seeded
  // Gaussian hyperplane dots, one fused hyperplaneBuckets projection).
  // Query side: each query probes its base bucket PLUS NumProbes-1
  // perturbed buckets per table — flipping the bits with the smallest
  // |dot|, i.e. exactly the bits most likely to disagree with a true
  // neighbor's signature (multiprobe LSH, Qin et al. VLDB 2007). Probing
  // multiplies only the 5-row query side, never the corpus: index size
  // and the (tbl, bucket) equi-join shape are unchanged from the
  // single-probe design.
  //
  // Why multiprobe here: this corpus is isotropic random (no planted
  // neighbors), so the measured top-10 sits at cosine ≈ 0.3-0.45 — the
  // regime where plain 8x4 LSH recalled only 0.64. Swept over
  // (tables, bits, probes) at both 500-row embedding draws:
  //   (8,4,1)  recall 0.64 / 0.52   frac 0.41   (the old config)
  //   (8,6,7)  recall 0.98 / 0.84   frac 0.59
  //   (8,6,10) recall 1.00 / 0.92   frac 0.73   <- production (also 1.00
  //            at the 2000-row draw; the /0.84 mid-draw was the recall
  //            low-point that motivated 7 -> 10; probes 8-10 are the
  //            best-ranked Hamming-2 pair flips — 6 bits give only 7
  //            base+single-flip probes)
  //   (12,8,17) recall 0.94 / 0.78  frac 0.55
  //   (8,10,11) recall 0.40 / 0.30  frac 0.10
  // The scored fraction is set by the corpus's neighbor spectrum, not by
  // the index: catching cosine-0.3 pairs information-theoretically
  // requires probing buckets that half the corpus shares. On a real
  // near-dup workload (neighbors at cosine >= 0.8, per-table collision
  // p^6 = 0.25) probes=1 alone already recalls 1-(1-0.25)^8 = 0.90 at a
  // 12% random-pair fraction — probes is the knob a deployment turns to
  // match its neighbor distances, and multiprobe moves it query-side
  // only, with zero index rebuild.
  //
  // CORPUS-SIZE scaling (the audit that made q26/q21's geometry
  // adaptive — r13): per-query candidates here are ~n/2^bits x tables x
  // probes, i.e. a FIXED FRACTION of the corpus, so this operator's
  // per-query cost is Θ(n) by design. That is deliberately NOT fixed
  // with an occupancy law: the sweep above measures that at this
  // neighbor regime more bits destroy recall faster than they cut
  // candidates ((8,10,11): recall 0.40 at frac 0.10) — bits here is a
  // RECALL knob, not an occupancy knob, and growing it with log2(n)
  // would silently trade measured recall for speed. The corpus-size
  // scale path for ANN is IVF/IVF-PQ (q30/q53), whose cell count
  // already grows as sqrt(n); q23 is the zero-training,
  // zero-index-rebuild alternative a deployment picks when its
  // neighbor similarities (>= 0.8) put it in the 12%-fraction regime.
  // ---------------------------------------------------------------------
  private val Tables_ = 8
  private val BitsPerTable = 6
  private val NumProbes = 10 // base + all 6 Hamming-1 flips + top-3
                             // Hamming-2 pair flips, |dot|-ordered
  private val Dim = 64

  /** Fixed hyperplanes (seeded Gaussian — deterministic across runs). */
  private lazy val planes: Array[Array[Double]] = {
    val rnd = new scala.util.Random(7)
    Array.fill(Tables_ * BitsPerTable)(Array.fill(Dim)(rnd.nextGaussian()))
  }

  /** Index side: (vec_id, embedding, norm, tbl, bucket) — one bucket per
    * table, all tables in one fused codegen loop (see q26's
    * hyperplaneBuckets note). */
  private def bucketed(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("embedding"), col("norm"), posexplode(
        graft.functions.GraftFunctions.hyperplaneBuckets(
          col("embedding"), planes.map(_.toSeq).toSeq, BitsPerTable)))
      .select(col("vec_id"), col("embedding"), col("norm"),
        col("pos").as("tbl"), col("col").as("bucket"))

  /** Query side: same shape as [[bucketed]] but NumProbes rows per table
    * — the flat probe array's position maps back to its table as
    * pos / NumProbes. */
  private def probed(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("embedding"), col("norm"), posexplode(
        graft.functions.GraftFunctions.hyperplaneBucketProbes(
          col("embedding"), planes.map(_.toSeq).toSeq, BitsPerTable, NumProbes)))
      .select(col("vec_id"), col("embedding"), col("norm"),
        (col("pos") / NumProbes).cast("int").as("tbl"), col("col").as("bucket"))

  // ---------------------------------------------------------------------
  // q30 — IVF (inverted-file) ANN: the other classic scale path.
  // A coarse quantizer (K centroids trained by spherical k-means on a
  // bounded driver-side sample — the standard "train the index" step)
  // partitions vectors into K cells by nearest centroid. Queries probe
  // only their `nprobe` best cells, so at 100 TB the scored candidate
  // set is ~nprobe/K of the corpus, reached via an equi-join on cell
  // id — never a cross product. Cell assignment is one fused codegen
  // call (CentroidScores: K cosines + array_max over (score, idx)
  // structs). Rows-only driver check; recall@10 vs brute force in
  // SimilaritySpec (floor 0.85).
  //
  // K SCALES WITH THE CORPUS: K = max(24, ceil(sqrt(n))) — the classic
  // IVF sizing (cells grow as sqrt(n), so cell size ALSO grows as
  // sqrt(n) and probing nprobe cells scores ~nprobe*sqrt(n) candidates,
  // not a fixed fraction of the corpus). A fixed K=24 scored ~43% of
  // the corpus at test scale and would degenerate to a near-full scan
  // at 100 TB. `n` comes from one count() — a one-row driver aggregate
  // at index-build time, same class as the max-id scalars.
  // ---------------------------------------------------------------------
  private val MinCells      = 24
  private val ProbeFrac     = 0.20 // nprobe = max(ProbeFloor, ceil(K/5))
  /** nprobe floor — the SMALL-K knob (VERDICT r12 #3). At the sf0.01
    * quality gate (n=500, K=24) the floor is what binds: raising it
    * 6 → 8 bought measured recall@10 0.86 → 0.90 (q30) at a 1.19x
    * candidate set — isolated from the delta knob in the r13 sweep
    * (OPTIMIZATION_r13.md §E; pf 0.30 ≡ floor 8 at K=24: delta 0.18
    * alone 0.90/0.561; delta 0.22 alone 0.88/0.580). At bench scale
    * (sf0.1, K=45) the frac-derived nprobe=9 already exceeds the floor,
    * so the board keys' cost and recall (0.94) are UNCHANGED — and at
    * 100 TB (K=sqrt(n) in the thousands) the floor is dead weight by
    * design: probeFrac is the knob that matters, the floor only guards
    * tiny quantizers. */
  private val ProbeFloor    = 8
  private val SamplePerCell = 32   // training sample = max(4096, 32K), bounded

  /** Absolute ceiling on any driver-side training collect(), Faiss-style:
    * without it the sample grows as O(sqrt(n) * dim) — ~10^6 vectors
    * (~0.5 GB at dim 128) at 10^9 corpus rows. 256k vectors caps driver
    * memory at ~128 MB (dim 128 doubles) regardless of corpus size; k-means
    * quality needs points-per-centroid, and 256k keeps >= 8 points/cell up
    * to K = 32k cells (n = 10^9) — the Faiss default regime. The r13
    * sweep's capped rows (OPTIMIZATION_r13.md §E) held the recall floor
    * with a BINDING cap. */
  private[graft] val TrainSampleCap = 256 * 1024

  /** Bounded, capped training-sample size for a K-cell quantizer. */
  private[graft] def trainSampleSize(k: Int, floor: Int = 4096): Int =
    math.min(TrainSampleCap, math.max(floor, SamplePerCell * k))
  private val LloydIters    = 15
  /** Multi-assignment width: a vector is indexed in every cell whose
    * centroid cosine is within this of its best cell (cell-overlap /
    * spill-tree-style redundancy). Costs ~2.1x index rows; probe count
    * and per-query cell math are unchanged.
    *
    * (probeFrac, delta) swept at both SFs (recall@10 / scored fraction;
    * `graft.Quality` measures the shipped point's recall@10):
    *   (0.20, 0.15)  sf0.001: 0.90/0.42   sf0.1: 0.90/0.48  <- production
    *   (0.20, 0.12)  sf0.001: 0.86/0.37   sf0.1: 0.80/0.37
    *   (0.15, 0.10)  sf0.001: 0.86/0.33   sf0.1: 0.68/0.25
    *   (0.35, 0.15)  sf0.001: 0.96/0.57   sf0.1: 0.98/0.66
    * The ~0.5 scored fraction at recall 0.9 is set by the corpus's
    * neighbor spectrum, not the index: this corpus is isotropic random,
    * so the measured top-10 sits at cosine 0.3-0.45, where a neighbor's
    * cell is nearly independent of the query's probe list (same
    * information wall q23 documents). On a real near-dup workload
    * (neighbors at cosine >= 0.8) a vector's cell and its neighbor's
    * coincide with high probability, so a SMALL CONSTANT nprobe (the
    * ProbeFloor) already recalls them and the scored fraction
    * collapses to ~6 * multiAssign / K — shrinking as K = sqrt(n) grows
    * with the corpus. probeFrac is the knob a deployment turns down to
    * match its neighbor distances, exactly like q23's probes. */
  // 0.18 picked from the r13 sweep across all three SFs (0.90/0.86/0.94
  // recall@10 vs 0.90/0.82/0.90 at 0.15): the mid-SF corpus was the
  // recall low-point and delta is the active knob at small K (nprobe is
  // floored at 6). The capped-sample sweep rows hold the same recall.
  private val AssignDelta = 0.18

  /** Spherical k-means (Lloyd) over a bounded, deterministic sample,
    * entirely driver-side: 4096 x 64 doubles is index *training*, not the
    * data path — at 100 TB the sample stays 4096 rows (TakeOrdered scan,
    * per-partition top-k, no shuffle of the corpus). Ids are independent
    * of vector geometry in this corpus, so id-ordered take is an unbiased
    * sample; a production path would swap in `df.sample`. Assignment is
    * argmax cosine (= argmax dot against unit centroids); empty cells are
    * reseeded from the currently worst-quantized sample point (standard
    * Lloyd repair), so the quantizer always ends with exactly K cells. */
  private[graft] def trainCentroids(sample: Array[Array[Double]],
      k: Int, iters: Int = LloydIters): Array[Array[Double]] = {
    require(sample.length >= k, s"need >= $k training vectors")
    val dim = sample.head.length
    def normalized(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }
    val unit = sample.map(normalized)
    // init: evenly spaced sample points (deterministic)
    var cents = Array.tabulate(k)(i => unit((i.toLong * unit.length / k).toInt).clone())
    var iter = 0
    while (iter < iters) {
      val sums   = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      var worst = -1; var worstScore = Double.MaxValue
      var si = 0
      while (si < unit.length) {
        val v = unit(si)
        var best = 0; var bestDot = Double.MinValue
        var c = 0
        while (c < k) {
          var d = 0.0; var j = 0
          while (j < dim) { d += v(j) * cents(c)(j); j += 1 }
          if (d > bestDot) { bestDot = d; best = c }
          c += 1
        }
        if (bestDot < worstScore) { worstScore = bestDot; worst = si }
        var j = 0
        while (j < dim) { sums(best)(j) += v(j); j += 1 }
        counts(best) += 1
        si += 1
      }
      cents = Array.tabulate(k) { c =>
        if (counts(c) == 0) unit(worst).clone() // repair: reseed empty cell
        else normalized(sums(c))
      }
      iter += 1
    }
    require(cents.length == k, s"quantizer must end with $k centroids")
    cents
  }

  /** IVF candidate set — separated so the scored-fraction assertion
    * can count candidates without ranking. */
  private[graft] def ivfCandidates(spark: SparkSession, sfDir: String): DataFrame = {
    // One scan of the corpus serves cell assignment and the probe side
    // (same multi-consumer shape as q23's cache).
    val e = withNorm(Tables.embeddings(spark, sfDir)).cache()

    // Size the quantizer to the corpus (see the K-scaling note above).
    val n = e.count()
    val k = math.max(MinCells, math.ceil(math.sqrt(n.toDouble)).toInt)
    val nprobe = math.max(ProbeFloor, math.ceil(k * ProbeFrac).toInt)

    // Index build: train the coarse quantizer on a bounded, absolutely
    // capped sample (driver-side by design — this is index training, not
    // the data path; see TrainSampleCap for the no-unbounded-collect rule).
    val sample: Array[Array[Double]] = e
      .select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id"))
      .limit(trainSampleSize(k))
      .collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    val cents: Seq[Seq[Double]] = trainCentroids(sample, k).map(_.toSeq).toSeq

    // Cell scores normalized by the vector norm (cosine to each centroid)
    // so the multi-assignment width is norm-invariant. One fused codegen
    // call — K scales with the corpus, so composing K typedlit dot
    // columns would hit the Janino blowup HyperplaneBucketProbes documents.
    def scoredCells(embCol: Column, normCol: Column): Column =
      graft.functions.GraftFunctions.centroidScores(embCol, normCol, cents)

    // Index side: each vector lands in every cell within AssignDelta of
    // its best cell (array_max on struct<s,c> compares s first).
    val vecs = e
      .withColumn("sc", scoredCells(col("embedding"), col("norm")))
      .select(col("vec_id"), col("embedding"), col("norm"),
        explode(expr(
          s"transform(filter(sc, x -> x.s >= array_max(sc).s - $AssignDelta), x -> x.c)"))
          .as("cell"))
    // Query side: probe the nprobe best cells.
    val probes = e.filter(col("vec_id") < NumQueries)
      .withColumn("sc", scoredCells(col("embedding"), col("norm")))
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("norm").as("qnorm"),
        explode(slice(reverse(array_sort(col("sc"))), 1, nprobe).getField("c"))
          .as("cell"))

    vecs.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      // multi-assignment can surface the same (query, vector) pair via
      // several probed cells — dedup candidates before ranking
      .dropDuplicates("query_id", "vec_id")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("qe"), col("qnorm"), col("embedding"), col("norm"))
  }

  def q30AnnIvf(spark: SparkSession, sfDir: String): DataFrame =
    ivfCandidates(spark, sfDir)
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qe"), col("embedding")) / (col("qnorm") * col("norm"))).as("cosine"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
      .orderBy("query_id", "rank")

  /** LSH candidate set — separated so a scored-fraction assertion can
    * count candidates without ranking. */
  private[graft] def lshCandidates(spark: SparkSession, sfDir: String): DataFrame = {
    val e = withNorm(Tables.embeddings(spark, sfDir)).cache()
    val b = bucketed(e)
    val qb = probed(e.filter(col("vec_id") < NumQueries))
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("norm").as("qnorm"), col("tbl"), col("bucket"))
    b.join(broadcast(qb), Seq("tbl", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("qe"), col("qnorm"), col("embedding"), col("norm"))
      .dropDuplicates("query_id", "neighbor_id")
  }

  // ---------------------------------------------------------------------
  // q48 — int8 symmetric quantization stats for the embedding column:
  // the storage/serving prep step of a vector pipeline (4x smaller than
  // float32; q_i = round_half_up(x_i * 127 / amax), dequant = q_i *
  // amax / 127). Emits per-vector amax (the quantizer scale source) and
  // the squared reconstruction error — the numbers a pipeline monitors
  // to decide whether int8 is safe for its recall target. Pure per-row
  // projection, zero shuffles.
  //
  // Expression-structure note: the per-row scalar `amax` is needed
  // INSIDE the per-element error lambda. Referencing a derived column
  // there would let CollapseProject inline the array_max tree into the
  // lambda body — recomputed PER ELEMENT (the 64x blowup documented on
  // Dedup.shingled). Instead amax is LAMBDA-BOUND once per row via
  // transform over a one-element array: transform(array(<amax>), m ->
  // aggregate(..m..))[0] — m is a bound variable, the tree evaluates
  // once. The identical construct exists in DuckDB (list_transform over
  // a one-element list), keeping the oracle arithmetic bit-equal.
  // ---------------------------------------------------------------------
  def q48QuantizeStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))")
          .as("amax"),
        expr(
          """transform(array(array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))),
            |  m -> CASE WHEN m = 0D THEN 0D ELSE
            |    aggregate(embedding, CAST(0 AS DOUBLE),
            |      (acc, x) -> acc +
            |        (CAST(x AS DOUBLE) - floor(CAST(x AS DOUBLE) * 127D / m + 0.5D) * m / 127D)
            |      * (CAST(x AS DOUBLE) - floor(CAST(x AS DOUBLE) * 127D / m + 0.5D) * m / 127D))
            |  END)[0]""".stripMargin).as("sq_err"))
      .orderBy("vec_id")

  val q48Sql: String =
    """SELECT vec_id,
      |       list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS amax,
      |       list_transform([list_max(list_transform(embedding::DOUBLE[], x -> abs(x)))],
      |         m -> CASE WHEN m = 0 THEN 0.0 ELSE
      |           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |             list_transform(embedding::DOUBLE[],
      |               x -> (x - floor(x * 127 / m + 0.5) * m / 127)
      |                  * (x - floor(x * 127 / m + 0.5) * m / 127))),
      |             (a, b) -> a + b) END
      |       )[1] AS sq_err
      |FROM embeddings
      |ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------------
  // q65 — per-label embedding diversity: mean pairwise cosine within each
  // label. The collapse/redundancy audit of a curated embedding corpus —
  // a label whose mean pairwise cosine drifts toward 1 is a collapsed
  // (near-duplicate) class; near 0 it is diverse. The naive computation
  // is O(n^2) pairs per label; this uses the sum-of-vectors identity
  //   sum_{i != j} v_i . v_j  =  |sum_i v_i|^2  -  sum_i |v_i|^2
  // over unit-normalized vectors — O(n . dim) in ONE pass: per-dim
  // component sums (a (label, dim)-keyed agg, map-side combinable),
  // squared and rolled up per label. No pair ever materializes, at any
  // corpus size; the shuffle carries |labels| x dim decimal rows.
  //
  // ORACLE-EXACT FLOAT DISCIPLINE (q55's recipe): normalized components
  // are computed in IEEE double (the norm is q22's per-row sequential
  // fold), then CAST TO DECIMAL(18,6) — one rounding — so every
  // cross-row sum is a decimal sum: order-insensitive under any
  // partitioning/AQE plan and equal to DuckDB's. Per-dim sums are
  // re-capped to DECIMAL(16,6) (exact: |s_d| <= n) before squaring so
  // the product (32,12) stays inside DECIMAL(38) exactly in both
  // engines; the identity then runs entirely in decimals and converts
  // to double once at the end.
  // ---------------------------------------------------------------------
  def q65DiversityStats(spark: SparkSession, sfDir: String): DataFrame = {
    val comps = withNorm(Tables.embeddings(spark, sfDir))
      .select(col("label"), col("vec_id"),
        posexplode(expr(
          "transform(embedding, x -> CAST(CAST(x AS DOUBLE) / norm AS DECIMAL(18,6)))")))
      .toDF("label", "vec_id", "pos", "c")
      .cache() // two aggregation consumers below (Bench/Verify clear it)
    val dimSums = comps.groupBy(col("label"), col("pos"))
      .agg(sum(col("c")).as("s0"))
      .select(col("label"), expr("CAST(s0 AS DECIMAL(16,6))").as("s"))
    val vecSq = dimSums.groupBy(col("label"))
      .agg(sum(expr("s * s")).as("sum_vec_sq"))
    val normSq = comps.groupBy(col("label"))
      .agg(sum(expr("c * c")).as("sum_norm_sq"),
        countDistinct(col("vec_id")).as("n_vecs"))
    // Both sums arrive as DECIMAL(38,12); subtracting those directly
    // needs precision 39, which Catalyst resolves by ROUNDING the result
    // to scale 11 (allowPrecisionLoss) — a 1e-11-level error DuckDB does
    // not make. Cast both down to DECIMAL(36,12) first, so the
    // subtraction fits in (37,12) and stays exact in both engines. The
    // cast itself is exact to 1e24: sum_vec_sq <= dim * n^2 per label,
    // so labels up to n ~ 1.2e11 vectors fit — beyond any single-label
    // corpus this design targets (a DECIMAL(30,12) here would already
    // overflow-to-NULL at n ~ 1.2e8, inside the 100 TB regime).
    vecSq.join(normSq, "label")
      .select(col("label"), col("n_vecs"),
        when(col("n_vecs") > 1,
          (col("sum_vec_sq").cast("decimal(36,12)")
            - col("sum_norm_sq").cast("decimal(36,12)")).cast("double")
            / (col("n_vecs") * (col("n_vecs") - lit(1L))).cast("double"))
          .otherwise(lit(0.0)).as("mean_pairwise_cosine"))
      .orderBy("label")
  }

  val q65Sql: String =
    """WITH e AS (
      |  SELECT label, vec_id, embedding::DOUBLE[] AS emb,
      |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
      |  FROM embeddings),
      |c AS (
      |  SELECT label, vec_id, u.pos AS pos,
      |         CAST(u.x / norm AS DECIMAL(18,6)) AS c
      |  FROM (SELECT label, vec_id, norm,
      |          unnest([{'pos': i, 'x': emb[i]} for i in range(1, len(emb) + 1)]) AS u
      |        FROM e)),
      |dimsums AS (
      |  SELECT label, CAST(SUM(c) AS DECIMAL(16,6)) AS s
      |  FROM c GROUP BY label, pos),
      |vecsq AS (SELECT label, SUM(s * s) AS sum_vec_sq FROM dimsums GROUP BY label),
      |normsq AS (
      |  SELECT label, SUM(c * c) AS sum_norm_sq,
      |         COUNT(DISTINCT vec_id) AS n_vecs
      |  FROM c GROUP BY label)
      |SELECT vecsq.label, n_vecs,
      |       CASE WHEN n_vecs > 1
      |            THEN CAST(CAST(sum_vec_sq AS DECIMAL(36,12))
      |                      - CAST(sum_norm_sq AS DECIMAL(36,12)) AS DOUBLE)
      |                 / CAST(n_vecs * (n_vecs - 1) AS DOUBLE)
      |            ELSE 0.0 END AS mean_pairwise_cosine
      |FROM vecsq JOIN normsq USING (label)
      |ORDER BY label""".stripMargin

  def q23AnnLsh(spark: SparkSession, sfDir: String): DataFrame =
    lshCandidates(spark, sfDir)
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qe"), col("embedding")) / (col("qnorm") * col("norm"))).as("cosine"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
      .orderBy("query_id", "rank")

  // ---------------------------------------------------------------------
  // q53 — IVF-PQ ANN (Jégou et al., TPAMI 2011; the Faiss `IVFPQ` index
  // with `by_residual=false`): q30's coarse-cell pruning composed with
  // product-quantized scoring. The index side stores (cell, vec_id,
  // 64-bit PQ code) — THREE LONGS PER VECTOR instead of the 64-float
  // embedding, a ~10x reduction of what the candidate join shuffles and
  // what 100 TB of index occupies (the code itself is 32x smaller than
  // the vector). Scoring a candidate is 8 LUT reads (PqAdcScore, inside
  // whole-stage codegen), not a 64-wide dot product; the exact
  // embeddings are touched ONLY for the top `PqRerank` ADC-ranked
  // candidates per query (the standard re-rank step — Faiss's
  // `k_factor`), reached by an equi-join on vec_id.
  //
  // Pipeline: coarse quantizer (q30's trainCentroids, K=max(24,√n)
  // cells, multi-assign delta 0.15) prunes to ~nprobe/K of the corpus;
  // PQ (m=8 subspaces x 256 codewords x 8 bits — the Faiss default —
  // trained per-subspace on the same bounded sample) ranks the
  // candidates by approximate dot; exact cosine re-ranks the short
  // list. PQ runs on UNIT vectors so ADC approximates cosine directly;
  // codebooks are L2-trained (standard PQ) and ride into codegen as one
  // referenced tensor. K_pq is FIXED at 256: codebook size is a
  // property of the subvector geometry, not the corpus — more data does
  // not need more codewords, it needs more cells (and K_cells already
  // scales as √n).
  //
  // Config sweep (recall@10 vs exact q22, sf0.01 / sf0.1; IVF candidate
  // ceiling is 0.90 at both): 6-bit K=64, rerank 64 → 0.86 / 0.68;
  // 8-bit K=256, rerank 64 → 0.90 / 0.84; 8-bit, rerank 128 →
  // 0.90 / 0.90 (the ceiling — PQ+re-rank then loses NOTHING on top of
  // cell pruning). The 6→8-bit jump matters because this corpus's
  // true top-10 sits at cosine 0.3-0.45 with tiny gaps (see q30's
  // spectrum note): ADC noise must be small relative to those gaps.
  //
  // No SQL oracle (two stages of iterative float training);
  // SimilaritySpec asserts recall@10 vs the exact q22 with a floor, and
  // VectorSpec pins PqEncode/PqLut/PqAdcScore against a reference model.
  // ---------------------------------------------------------------------
  private val PqM      = 8
  private val PqBits   = 8
  private val PqK      = 1 << PqBits // 256 codewords per subspace (Faiss default)
  private val PqRerank = 128         // exact-re-rank depth per query

  /** Per-subspace L2 Lloyd's over a bounded driver-side sample (the PQ
    * analogue of [[trainCentroids]]; same determinism + empty-cell
    * repair, but centroids are MEANS, not unit vectors — PQ quantizes
    * raw subvector geometry). Input vectors must already be
    * unit-normalized by the caller. */
  private[graft] def trainPqBooks(sample: Array[Array[Double]], m: Int,
      k: Int, iters: Int = LloydIters): Array[Array[Array[Double]]] = {
    require(sample.length >= k, s"need >= $k training vectors")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    Array.tabulate(m) { s =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
      var cents = Array.tabulate(k)(i => sub((i.toLong * sub.length / k).toInt).clone())
      var iter = 0
      while (iter < iters) {
        val sums   = Array.fill(k)(new Array[Double](dsub))
        val counts = new Array[Int](k)
        var worst = -1; var worstD = -1.0
        var si = 0
        while (si < sub.length) {
          val v = sub(si)
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < k) {
            var d = 0.0; var j = 0
            while (j < dsub) { val x = v(j) - cents(c)(j); d += x * x; j += 1 }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          if (bestD > worstD) { worstD = bestD; worst = si }
          var j = 0
          while (j < dsub) { sums(best)(j) += v(j); j += 1 }
          counts(best) += 1
          si += 1
        }
        cents = Array.tabulate(k) { c =>
          if (counts(c) == 0) sub(worst).clone() // repair: reseed empty cell
          else sums(c).map(_ / counts(c))
        }
        iter += 1
      }
      cents
    }
  }

  // ---------------------------------------------------------------------
  // q60 — hard-negative mining: for each anchor, the top-k most similar
  // vectors with a DIFFERENT label (the contrastive-training data-prep
  // step: the best negatives are the ones the model is most likely to
  // confuse). Exact brute force over broadcast anchors — the oracle-
  // checkable baseline, same honest-baseline role as q22; a production
  // run swaps the candidate source for the q30/q53 IVF probe and keeps
  // the label filter + ranking unchanged (the filter composes with ANY
  // candidate generator because it only ever REMOVES candidates).
  // Label exclusion happens in the join condition, before scoring —
  // same-label pairs are never dotted.
  // ---------------------------------------------------------------------
  private val NegK       = 5
  private val NumAnchors = 5

  def q60HardNegatives(spark: SparkSession, sfDir: String): DataFrame = {
    val e = withNorm(Tables.embeddings(spark, sfDir))
    val anchors = e.filter(col("vec_id") < NumAnchors)
      .select(col("vec_id").as("anchor_id"), col("label").as("anchor_label"),
        col("embedding").as("qe"), col("norm").as("qnorm"))
    e.join(broadcast(anchors), col("label") =!= col("anchor_label"))
      .select(col("anchor_id"), col("anchor_label"),
        col("vec_id").as("negative_id"), col("label").as("negative_label"),
        (dot(col("qe"), col("embedding")) / (col("qnorm") * col("norm"))).as("cosine"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("anchor_id"))
          .orderBy(col("cosine").desc, col("negative_id"))))
      .filter(col("rank") <= NegK)
      .select(col("anchor_id"), col("anchor_label"), col("rank"),
        col("negative_id"), col("negative_label"), col("cosine"))
      .orderBy("anchor_id", "rank")
  }

  val q60Sql: String =
    s"""WITH e AS (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS emb,
       |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
       |  FROM embeddings),
       |a AS (SELECT vec_id AS anchor_id, label AS anchor_label,
       |             emb AS qe, norm AS qnorm
       |      FROM e WHERE vec_id < $NumAnchors),
       |pairs AS (
       |  SELECT a.anchor_id, a.anchor_label,
       |         e.vec_id AS negative_id, e.label AS negative_label,
       |         list_dot_product(a.qe, e.emb) / (a.qnorm * e.norm) AS cosine
       |  FROM e, a WHERE e.label != a.anchor_label)
       |SELECT anchor_id, anchor_label, rank, negative_id, negative_label, cosine
       |FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
       |                               ORDER BY cosine DESC, negative_id) AS rank
       |  FROM pairs)
       |WHERE rank <= $NegK
       |ORDER BY anchor_id, rank""".stripMargin

  def q53AnnIvfPq(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.GraftFunctions.{centroidScores, pqAdcScore, pqEncode, pqLut}
    val e = withNorm(Tables.embeddings(spark, sfDir)).cache()
    val n = e.count() // also materializes the cache: norm is read back, not recomputed
    val kc = math.max(MinCells, math.ceil(math.sqrt(n.toDouble)).toInt)
    val nprobe = math.max(ProbeFloor, math.ceil(kc * ProbeFrac).toInt)

    // One bounded, capped sample trains BOTH quantizers (see q30's
    // sampling note and TrainSampleCap).
    val sample: Array[Array[Double]] = e
      .select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id")).limit(trainSampleSize(kc))
      .collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    def unit(v: Array[Double]): Array[Double] = {
      val nrm = math.sqrt(v.map(x => x * x).sum)
      if (nrm == 0) v else v.map(_ / nrm)
    }
    val cents: Seq[Seq[Double]] = trainCentroids(sample, kc).map(_.toSeq).toSeq
    val books: Seq[Seq[Seq[Double]]] =
      trainPqBooks(sample.map(unit), PqM, PqK)
        .map(_.map(_.toSeq).toSeq).toSeq

    // Unit vectors read the cached norm column (no recompute: e is
    // materialized, so `norm` is a stored column, not its defining tree).
    val withUnit = e.withColumn("unit",
      expr("transform(embedding, x -> CAST(x AS DOUBLE) / norm)"))

    // Index side: (cell, vec_id, code) — the join never carries vectors.
    val vecs = withUnit
      .withColumn("sc", centroidScores(col("embedding"), col("norm"), cents))
      .select(col("vec_id"),
        pqEncode(col("unit"), books, PqBits).as("code"),
        explode(expr(
          s"transform(filter(sc, x -> x.s >= array_max(sc).s - $AssignDelta), x -> x.c)"))
          .as("cell"))
    // Query side: nprobe best cells, LUT built once per query row.
    val probes = withUnit.filter(col("vec_id") < NumQueries)
      .withColumn("sc", centroidScores(col("embedding"), col("norm"), cents))
      .select(col("vec_id").as("query_id"), pqLut(col("unit"), books).as("lut"),
        explode(slice(reverse(array_sort(col("sc"))), 1, nprobe).getField("c"))
          .as("cell"))

    val shortList = vecs.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      // multi-assignment dupes carry identical (code, lut) — any survivor
      // scores the same, so the dedup is deterministic.
      .dropDuplicates("query_id", "vec_id")
      .select(col("query_id"), col("vec_id"),
        pqAdcScore(col("code"), col("lut"), PqM, PqBits, PqK).as("adc"))
      .withColumn("arank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("adc").desc, col("vec_id"))))
      .filter(col("arank") <= PqRerank)

    // Exact re-rank of the short list only: re-join embeddings by id.
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("norm").as("qnorm"))
    shortList
      .join(e.select(col("vec_id"), col("embedding"), col("norm")), "vec_id")
      .join(broadcast(q), "query_id")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (dot(col("qe"), col("embedding")) / (col("qnorm") * col("norm"))).as("cosine"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
      .orderBy("query_id", "rank")
  }

  // ---------------------------------------------------------------------
  // q69 — k-NN label classification (leave-one-out majority vote): the
  // standard embedding-space quality-classifier shape (fastText/kNN
  // quality gates, label-propagation audits). For every anchor vector
  // (vec_id % KnnAnchorMod == 0) the k=TopK exact-cosine nearest OTHER
  // vectors vote with their labels; the majority label (ties: larger
  // vote count, then smaller label) is the prediction, scored against
  // the anchor's own label.
  //
  // Exact brute force over a broadcast ANCHOR side — the corpus is
  // scanned once, like q22; at production scale the candidate stage
  // swaps to any of the ANN indexes (q23/q30/q53 — same
  // score-then-window shape, the vote agg is unchanged). Determinism:
  // cosine via the sequential-fold DotProduct (bit-equal to DuckDB),
  // ranking tie-broken on neighbor id, votes tie-broken on
  // (count desc, label asc) — a total order end to end.
  // ---------------------------------------------------------------------
  private[graft] val KnnAnchorMod = 5

  def q69KnnClassify(spark: SparkSession, sfDir: String): DataFrame = {
    val e = withNorm(Tables.embeddings(spark, sfDir))
    val a = e.filter(col("vec_id") % KnnAnchorMod === 0)
      .select(col("vec_id").as("anchor_id"), col("label").as("true_label"),
        col("embedding").as("ae"), col("norm").as("anorm"))
    // the corpus side is one parquet row group, so one scan task: spread
    // it over the session's shuffle partitions before the pair scoring
    val streamed = e.repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val votes = streamed.join(broadcast(a), col("vec_id") =!= col("anchor_id"))
      .select(col("anchor_id"), col("true_label"),
        col("label").as("nlabel"), col("vec_id").as("nid"),
        (dot(col("ae"), col("embedding")) / (col("anorm") * col("norm"))).as("cosine"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("anchor_id"))
          .orderBy(col("cosine").desc, col("nid"))))
      .filter(col("rank") <= TopK)
      .groupBy(col("anchor_id"), col("true_label"), col("nlabel"))
      .agg(count(lit(1)).as("v"))
    votes
      .withColumn("pr", row_number().over(
        Window.partitionBy(col("anchor_id"))
          .orderBy(col("v").desc, col("nlabel"))))
      .filter(col("pr") === 1)
      .select(col("anchor_id"), col("true_label"),
        col("nlabel").as("pred_label"), col("v").as("votes"),
        when(col("nlabel") === col("true_label"), 1).otherwise(0).as("correct"))
      .orderBy("anchor_id")
  }

  // ---------------------------------------------------------------------
  // q74 — per-dimension embedding statistics: the feature-normalization
  // pass (mean/std/min/max per vector dimension) every embedding-space
  // pipeline runs before standardization, whitening, or quantizer
  // training (q48/q53's scale decisions start here). Decimal-summed
  // moments (values to 1e-12, squares to 1e-16) make both sums
  // order-insensitive — bit-stable under any partitioning AND
  // oracle-hashable; the mean/stddev arithmetic returns to double only
  // after the exact sums, in one fixed expression shape mirrored by the
  // SQL.
  //
  // Scale shape: posexplode fans n vectors to n·dim rows, but partial
  // aggregation folds each partition to `dim` rows before the shuffle —
  // the exchange carries O(partitions × dim) moment tuples, constant in
  // corpus size (the same shape as q65's diversity sums).
  // ---------------------------------------------------------------------
  def q74DimStats(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // Float-discipline note (hard-won, twice): the original decimal-ROUND
    // quantizer (CAST(x AS DECIMAL(12,9))) assumed a generic float can
    // never sit on a 1e-9 half-boundary — the sf0.1 corpus REFUTED that
    // with two components that are exact dyadic rationals
    // (0.1494140625 = 149414062.5e-9 at dim 58, 0.1669921875 at dim 0):
    // Spark rounds HALF_UP, DuckDB half-even, the dim-58 tie flips 62|63
    // and one row of raw-double mean/stddev goes red (the dim-0 tie lands
    // even both ways — which is why the red was a single row, and why
    // the round-quantized queries that ROUND their outputs never saw
    // it). FLOOR-integer quantization (the q225 idiom) has no tie
    // semantics: xq = FLOOR(x*1e9) as int64 nano-units — both engines do
    // the identical double multiply + floor. Sums then reconstruct
    // through IDENTICAL double expression strings: s1 fits int64
    // (|x| <= ~1, n*1e9 ~ 1e13); the squared sum (~3e19) is summed as
    // exact DECIMAL/HUGEINT and stepped down by INTEGER division (div /
    // // — both floor for the positive sum) to fit double's exact-int
    // range before the cast (DuckDB's decimal->double mangles unscaled
    // values past 2^53).
    val comp = Tables.embeddings(spark, sfDir)
      .select(posexplode(col("embedding")).as(Seq("dim", "xf")))
      .select(col("dim"), col("xf").cast("double").as("x"))
      .withColumn("xq", floor(col("x") * lit(1e9)).cast("long"))
    comp.groupBy(col("dim"))
      .agg(
        count(lit(1)).as("n"),
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
      .orderBy("dim")
  }

  val q74Sql: String =
    """WITH comp AS (
      |  SELECT u.d AS dim, u.x AS x,
      |         CAST(floor(u.x * 1e9) AS BIGINT) AS xq FROM (
      |    SELECT unnest([{'d': i - 1, 'x': emb[i]}
      |                   for i in range(1, len(emb) + 1)]) AS u
      |    FROM (SELECT embedding::DOUBLE[] AS emb FROM embeddings))),
      |agg AS (
      |  SELECT dim, count(*) AS n,
      |         CAST(sum(xq) AS BIGINT) AS s1,
      |         CAST(sum(CAST(xq AS HUGEINT) * xq) // 1000000 AS BIGINT) AS s2,
      |         min(x) AS vmin, max(x) AS vmax
      |  FROM comp GROUP BY dim)
      |SELECT dim, n, CAST(s1 AS DOUBLE) / 1.0e9 / n AS mean,
      |       sqrt((CAST(s2 AS DOUBLE) / 1.0e12
      |         - n * (CAST(s1 AS DOUBLE) / 1.0e9 / n)
      |         * (CAST(s1 AS DOUBLE) / 1.0e9 / n)) / (n - 1)) AS stddev,
      |       vmin, vmax
      |FROM agg ORDER BY dim""".stripMargin

  // ---------------------------------------------------------------------
  // q79 — filtered vector search: exact top-k cosine where candidates
  // must satisfy a metadata predicate (label ∈ FilterLabels) — the
  // "filtered ANN" every production vector store needs (search within a
  // tenant / language / license class). The predicate applies to the
  // CANDIDATE side only; queries are unrestricted.
  //
  // Scale shape: the label predicate is a scan-level PushedFilter — the
  // corpus never materializes rows outside the filter class (the plan
  // gate pins In(label,...) in the parquet scan), then the q22 broadcast
  // shape scores only survivors. This exactness baseline is the
  // contract; at production scale the candidate stage swaps to
  // q30/q53's IVF with the same post-filter — and because a selective
  // filter thins IVF cells, the deployment note is: raise nprobe as
  // selectivity drops, or fall back to this exact scan below ~1%
  // selectivity (the scored set is then filter-sized, not corpus-sized).
  // ---------------------------------------------------------------------
  private[graft] val FilterLabels = Seq(0, 1, 2)

  def q79FilteredAnn(spark: SparkSession, sfDir: String): DataFrame = {
    val e = withNorm(Tables.embeddings(spark, sfDir))
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("norm").as("qnorm"))
    e.filter(col("label").isin(FilterLabels: _*))
      .join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("label"),
        (dot(col("qe"), col("embedding")) / (col("qnorm") * col("norm"))).as("cosine"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("label"),
        col("cosine"))
      .orderBy("query_id", "rank")
  }

  val q79Sql: String =
    s"""WITH e AS (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS emb,
       |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
       |  FROM embeddings),
       |q AS (SELECT vec_id AS query_id, emb AS qe, norm AS qnorm FROM e
       |      WHERE vec_id < $NumQueries),
       |pairs AS (
       |  SELECT q.query_id, e.vec_id AS neighbor_id, e.label,
       |         list_dot_product(q.qe, e.emb) / (q.qnorm * e.norm) AS cosine
       |  FROM e, q WHERE e.vec_id != q.query_id
       |    AND e.label IN (${FilterLabels.mkString(", ")}))
       |SELECT query_id, rank, neighbor_id, label, cosine FROM (
       |  SELECT query_id, neighbor_id, label, cosine,
       |         ROW_NUMBER() OVER (PARTITION BY query_id
       |                            ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM pairs)
       |WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin

  /** q69's brute-force kNN prediction as a CTE chain ending in `pred`
    * — the common prefix of q69's per-anchor report and q185's
    * classifier-metrics rollup. */
  private val knnPredCtes: String =
    s"""WITH e AS (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS emb,
       |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
       |  FROM embeddings),
       |a AS (SELECT vec_id AS anchor_id, label AS true_label,
       |             emb AS ae, norm AS anorm
       |      FROM e WHERE vec_id % $KnnAnchorMod = 0),
       |pairs AS (
       |  SELECT a.anchor_id, a.true_label, e.label AS nlabel, e.vec_id AS nid,
       |         list_dot_product(a.ae, e.emb) / (a.anorm * e.norm) AS cosine
       |  FROM e, a WHERE e.vec_id != a.anchor_id),
       |top AS (
       |  SELECT anchor_id, true_label, nlabel FROM (
       |    SELECT anchor_id, true_label, nlabel,
       |           ROW_NUMBER() OVER (PARTITION BY anchor_id
       |                              ORDER BY cosine DESC, nid) AS rank
       |    FROM pairs)
       |  WHERE rank <= $TopK),
       |votes AS (
       |  SELECT anchor_id, true_label, nlabel, count(*) AS v
       |  FROM top GROUP BY anchor_id, true_label, nlabel),
       |pred AS (
       |  SELECT anchor_id, true_label, nlabel AS pred_label, v AS votes,
       |         CASE WHEN nlabel = true_label THEN 1 ELSE 0 END AS correct
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
       |                                     ORDER BY v DESC, nlabel) AS pr
       |        FROM votes)
       |  WHERE pr = 1)""".stripMargin

  val q69Sql: String =
    s"""$knnPredCtes
       |SELECT anchor_id, true_label, pred_label, votes, correct
       |FROM pred
       |ORDER BY anchor_id""".stripMargin

  // ---------------------------------------------------------------------
  // q185 — classifier evaluation metrics over q69's kNN predictions:
  // per-class support, predicted count, true positives, precision,
  // recall, and F1 — the eval rollup every labeling/distillation
  // pipeline computes from a prediction frame. The class set is the
  // union of gold and predicted labels (a class the classifier never
  // predicts still reports its recall = 0 row).
  //
  // Shape: two |classes|-sized aggregates of the (anchor-sized)
  // prediction frame + one outer-join rollup — nothing corpus-sized
  // past q69's own machinery. precision/recall are single exact-int
  // divisions; F1 = 2·p·r/(p+r) is one fixed chain over them with the
  // zero-denominator case pinned to 0 (both engines), so every metric
  // is bit-identical without rounding.
  // ---------------------------------------------------------------------
  def q185ClassifierMetrics(spark: SparkSession, sfDir: String): DataFrame = {
    val pred = q69KnnClassify(spark, sfDir)
      .select(col("true_label"), col("pred_label"), col("correct"))
    val t = pred.groupBy(col("true_label").as("label"))
      .agg(count(lit(1)).as("n_true"),
        sum(col("correct").cast("long")).as("tp"))
    val p = pred.groupBy(col("pred_label").as("label"))
      .agg(count(lit(1)).as("n_pred"))
    val classes = t.select(col("label")).unionAll(p.select(col("label")))
      .distinct()
    val base = classes
      .join(t, Seq("label"), "left").join(p, Seq("label"), "left")
      .select(col("label"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("tp"), lit(0L)).as("tp"))
      .select(col("label"), col("n_true"), col("n_pred"), col("tp"),
        when(col("n_pred") === 0L, lit(0.0))
          .otherwise(col("tp").cast("double") / col("n_pred"))
          .as("precision"),
        when(col("n_true") === 0L, lit(0.0))
          .otherwise(col("tp").cast("double") / col("n_true"))
          .as("recall"))
    base
      .select(col("label"), col("n_true"), col("n_pred"), col("tp"),
        col("precision"), col("recall"),
        when(col("precision") + col("recall") === 0.0, lit(0.0))
          .otherwise(lit(2.0) * col("precision") * col("recall")
            / (col("precision") + col("recall"))).as("f1"))
      .orderBy("label")
  }

  val q185Sql: String =
    s"""$knnPredCtes,
       |t AS (SELECT true_label AS label, COUNT(*) AS n_true,
       |             CAST(SUM(correct) AS BIGINT) AS tp
       |      FROM pred GROUP BY 1),
       |p AS (SELECT pred_label AS label, COUNT(*) AS n_pred
       |      FROM pred GROUP BY 1),
       |cls AS (SELECT DISTINCT label
       |        FROM (SELECT label FROM t UNION ALL SELECT label FROM p)),
       |base AS (
       |  SELECT cls.label,
       |         COALESCE(n_true, 0) AS n_true,
       |         COALESCE(n_pred, 0) AS n_pred,
       |         COALESCE(tp, 0) AS tp,
       |         CASE WHEN COALESCE(n_pred, 0) = 0 THEN 0e0
       |              ELSE CAST(COALESCE(tp, 0) AS DOUBLE) / n_pred END
       |           AS precision,
       |         CASE WHEN COALESCE(n_true, 0) = 0 THEN 0e0
       |              ELSE CAST(COALESCE(tp, 0) AS DOUBLE) / n_true END
       |           AS recall
       |  FROM cls LEFT JOIN t USING (label) LEFT JOIN p USING (label))
       |SELECT label, n_true, n_pred, tp, precision, recall,
       |       CASE WHEN precision + recall = 0e0 THEN 0e0
       |            ELSE 2e0 * precision * recall / (precision + recall) END
       |         AS f1
       |FROM base
       |ORDER BY label""".stripMargin

  // ---------------------------------------------------------------------
  // q124 — exact embedding covariance matrix (population, upper
  // triangle): the input to whitening/PCA — the preprocessing step that
  // makes cosine-based SemDeDup/IVF behave on anisotropic embedding
  // spaces (and the correctness anchor q125's eigensolve builds on).
  //
  // Scale shape — ONE corpus pass, no joins on corpus-sized data:
  // each vector explodes into its dim(dim+1)/2 upper-triangular
  // products WITHIN the scan stage (explode → project → partial hash
  // aggregate, all pipelined before any exchange — the q105
  // explode-before-partial-agg shape), so the shuffle carries
  // |cells| × |partitions| partial sums, never O(rows). The per-dim
  // sums reuse the same cached quantized scan. Means are a broadcast
  // |dim|-row join. At a billion vectors the only growth is the scan.
  //
  // Float discipline = q74's, per cell: quantize each component ONCE at
  // decimal scale 9 (engine-agreed HALF_UP on the shortest-repr value;
  // no float sits on a 1e-9 half-boundary), multiply DECIMALS exactly
  // (scale 18, no rounding), sum exactly (order-insensitive), step down
  // to scale 12 before the double cast (unscaled stays under 2^53).
  // The final covariance is one fixed double expression over those
  // engine-identical sums, rounded at 9.
  // ---------------------------------------------------------------------
  private[graft] val CovDim = 64

  /** Quantized per-component frame + the (i, j, n, sxy) cell sums and
    * (d, sx) per-dim sums shared by q124 and q125. */
  private def covSums(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.types.DecimalType
    val emb = Tables.embeddings(spark, sfDir)
    val eq = emb.select(
        transform(col("embedding"),
          x => x.cast("double").cast(DecimalType(12, 9))).as("eq"))
      .cache()
    val cells = eq
      .select(col("eq"), posexplode(col("eq")).as(Seq("i", "xi")))
      .select(col("i"),
        explode(sequence(col("i"), lit(CovDim - 1))).as("j"), col("eq"),
        col("xi"))
      .select(col("i"), col("j"),
        (col("xi") * element_at(col("eq"), col("j") + 1)).as("q"))
      .groupBy("i", "j")
      .agg(count(lit(1)).as("n"),
        sum(col("q")).cast(DecimalType(38, 12)).cast("double").as("sxy"))
    val dims = eq
      .select(posexplode(col("eq")).as(Seq("d", "xq")))
      .groupBy("d")
      .agg(sum(col("xq")).cast("double").as("sx"))
    (eq, cells, dims)
  }

  // (eq stays cached for intra-query reuse across the two aggregations —
  // the session-level hygiene is the caller's, same as q20/q23's corpus
  // caches: Bench/specs clear the cache after each query's runs.)
  def q124EmbeddingCovariance(spark: SparkSession, sfDir: String): DataFrame = {
    val (_, cells, dims) = covSums(spark, sfDir)
    cells
      .join(broadcast(dims.select(col("d").as("i"), col("sx").as("sxi"))), Seq("i"))
      .join(broadcast(dims.select(col("d").as("j"), col("sx").as("sxj"))), Seq("j"))
      .select(col("i"), col("j"),
        round((col("sxy") - col("sxi") * col("sxj") / col("n")) / col("n"), 9)
          .as("cov"))
      .orderBy("i", "j")
  }

  val q124Sql: String =
    s"""WITH e AS (
       |  SELECT list_transform(embedding,
       |           x -> CAST(CAST(x AS DOUBLE) AS DECIMAL(12,9))) AS eq
       |  FROM embeddings),
       |idx AS (
       |  SELECT i.i AS i, j.j AS j
       |  FROM generate_series(0, ${CovDim - 1}) i(i),
       |       generate_series(0, ${CovDim - 1}) j(j)
       |  WHERE j.j >= i.i),
       |cells AS (
       |  SELECT idx.i, idx.j, count(*) AS n,
       |         CAST(CAST(round(sum(eq[idx.i + 1] * eq[idx.j + 1]), 12)
       |              AS DECIMAL(38,12)) AS DOUBLE) AS sxy
       |  FROM e, idx GROUP BY idx.i, idx.j),
       |dims AS (
       |  SELECT d.d AS d, CAST(sum(eq[d.d + 1]) AS DOUBLE) AS sx
       |  FROM e, generate_series(0, ${CovDim - 1}) d(d) GROUP BY d.d)
       |SELECT c.i, c.j,
       |       round((c.sxy - a.sx * b.sx / c.n) / c.n, 9) AS cov
       |FROM cells c JOIN dims a ON a.d = c.i JOIN dims b ON b.d = c.j
       |ORDER BY i, j""".stripMargin

  // ---------------------------------------------------------------------
  // q125 — PCA projection (top-k principal coordinates per vector): the
  // whitening/compression step of embedding pipelines. Iterative
  // eigensolve ⇒ no SQL oracle (same class as q47's k-means); the spec
  // asserts the linear-algebra invariants instead (orthonormal
  // components, Av = λv residuals, per-coordinate variance = λ), and
  // Quality publishes the measured explained-variance share.
  //
  // Scale split, same as q47: the DISTRIBUTED part is the one-pass
  // covariance (q124's cells — O(dim²) partial sums) and the
  // projection (one scan, k codegen'd DotProducts per vector against
  // BROADCAST component literals). The DRIVER part is the dim×dim
  // Jacobi eigensolve — O(dim³) on a 64×64 matrix, microseconds,
  // independent of corpus size. Nothing corpus-sized crosses the
  // driver. Determinism: cyclic Jacobi on engine-identical rounded
  // covariances, sign-fixed per component (largest-|coord| positive),
  // coordinates rounded at 9 — bit-stable across runs/partitionings.
  // ---------------------------------------------------------------------
  private[graft] val PcaK = 8

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix: returns
    * (eigenvalues, eigenvectors-as-rows), sorted descending, each vector
    * sign-fixed so its largest-magnitude component is positive. */
  private[graft] def jacobiEigen(m: Array[Array[Double]])
      : (Array[Double], Array[Array[Double]]) = {
    val n = m.length
    val a = m.map(_.clone())
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    def offNorm(): Double = {
      var s = 0.0
      var p = 0
      while (p < n) { var q = p + 1; while (q < n) { s += a(p)(q) * a(p)(q); q += 1 }; p += 1 }
      s
    }
    var sweep = 0
    while (sweep < 64 && offNorm() > 1e-22) {
      var p = 0
      while (p < n) {
        var q = p + 1
        while (q < n) {
          if (math.abs(a(p)(q)) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
            val t = math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var k = 0
            while (k < n) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < n) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - s * vkq
              v(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    val order = (0 until n).sortBy(i => (-a(i)(i), i))
    val evals = order.map(i => a(i)(i)).toArray
    val evecs = order.map { i =>
      val col = Array.tabulate(n)(k => v(k)(i))
      val mx = col.indices.maxBy(k => (math.abs(col(k)), -k))
      if (col(mx) < 0) col.map(-_) else col
    }.toArray
    (evals, evecs)
  }

  /** Covariance matrix + mean vector, driver-side (O(dim²) values). */
  private[graft] def covAndMean(spark: SparkSession, sfDir: String)
      : (Array[Array[Double]], Array[Double]) = {
    val (eq, cells, dims) = covSums(spark, sfDir)
    val c = Array.ofDim[Double](CovDim, CovDim)
    val sx = Array.ofDim[Double](CovDim)
    var n = 0L
    cells.join(broadcast(dims.select(col("d").as("i"), col("sx").as("sxi"))), Seq("i"))
      .join(broadcast(dims.select(col("d").as("j"), col("sx").as("sxj"))), Seq("j"))
      .select(col("i"), col("j"),
        round((col("sxy") - col("sxi") * col("sxj") / col("n")) / col("n"), 9)
          .as("cov"), col("n"))
      .collect()
      .foreach { r =>
        val i = r.getInt(0); val j = r.getInt(1); val cv = r.getDouble(2)
        c(i)(j) = cv; c(j)(i) = cv; n = r.getLong(3)
      }
    dims.collect().foreach { r => sx(r.getInt(0)) = r.getDouble(1) }
    eq.unpersist()
    (c, sx.map(_ / n))
  }

  def q125PcaProject(spark: SparkSession, sfDir: String): DataFrame = {
    val (c, mean) = covAndMean(spark, sfDir)
    val (_, evecs) = jacobiEigen(c)
    val comps = evecs.take(PcaK)
    // centering is a constant per-component shift: (x - μ)·v = x·v - μ·v
    val shifts = comps.map(v => v.zip(mean).map { case (a, b) => a * b }.sum)
    val pcCols = comps.zipWithIndex.map { case (v, k) =>
      round(dot(col("embedding"), typedLit(v.toSeq)) - lit(shifts(k)), 9)
        .as(s"pc${k + 1}")
    }
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id") +: pcCols.toSeq: _*)
      .orderBy("vec_id")
  }

  // ---------------------------------------------------------------------
  // q144 — chunk-to-document embedding mean-pool: retrieval corpora
  // embed CHUNKS (context-window-sized pieces), but dedup/clustering/
  // doc-level ANN need one vector per document — the standard answer is
  // the mean of the chunk vectors. Chunk→doc assignment here is
  // vec_id div ChunksPerDoc (the q73 chunk-plan layout inverted).
  //
  // Exactness: per-component sums use q124's quantize-once decimal
  // discipline (exact, order-insensitive); each pooled mean is ONE
  // double division then scaled to integer nano-units, so the document
  // fingerprint is md5 over INTEGERS — no float-to-string formatting
  // ambiguity can touch the oracle.
  //
  // Scale shape: one (doc, dim)-keyed partial-aggregable shuffle
  // (|docs|·dim rows — the q74/q124 explode-before-partial-agg shape),
  // then a |docs|-group fold where each group sorts its OWN dim-sized
  // array. No joins, no corpus-sized collect.
  // ---------------------------------------------------------------------
  private[graft] val ChunksPerDoc = 4

  def q144MeanPool(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    Tables.embeddings(spark, sfDir)
      .select(expr(s"vec_id div $ChunksPerDoc").as("doc_id"),
        transform(col("embedding"),
          x => x.cast("double").cast(DecimalType(12, 9))).as("eq"))
      .select(col("doc_id"), posexplode(col("eq")).as(Seq("d", "xq")))
      .groupBy(col("doc_id"), col("d"))
      .agg(count(lit(1)).as("n"), sum(col("xq")).as("s"))
      .select(col("doc_id"), col("d"), col("n"),
        round(col("s").cast("double") / col("n") * 1e9, 0).cast("long")
          .as("m"))
      .groupBy(col("doc_id"))
      .agg(max(col("n")).as("n_chunks"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("d"), col("m")))),
          s => s.getField("m").cast("string")), ",")).as("pooled_fp"))
      .orderBy("doc_id")
  }

  val q144Sql: String =
    s"""WITH e AS (
       |  SELECT vec_id // $ChunksPerDoc AS doc_id,
       |         list_transform(embedding,
       |           x -> CAST(CAST(x AS DOUBLE) AS DECIMAL(12,9))) AS eq
       |  FROM embeddings),
       |pd AS (
       |  SELECT doc_id, d.d AS d, count(*) AS n,
       |         CAST(round(CAST(sum(eq[d.d + 1]) AS DOUBLE) / count(*)
       |                    * 1e9, 0) AS BIGINT) AS m
       |  FROM e, generate_series(0, ${CovDim - 1}) d(d)
       |  GROUP BY doc_id, d.d)
       |SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_chunks,
       |       md5(string_agg(m, ',' ORDER BY d)) AS pooled_fp
       |FROM pd
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q156 — label-balance audit: per-class counts plus the two standard
  // imbalance scalars — Gini impurity 1 − Σp² and the majority share —
  // and the inverse-frequency class weight (n_total / (k · n_c), the
  // sklearn 'balanced' convention) a loss function consumes directly.
  // The pre-training check that catches a skewed classification corpus
  // before it silently dominates the loss.
  //
  // Exactness: counts are exact; every ratio is a pinned double
  // expression over integers, 6-dp (no transcendentals — Gini chosen
  // over entropy precisely to keep the audit bit-exact cross-engine).
  // One scan, one |classes|-group aggregate + a broadcast 1-row total.
  // ---------------------------------------------------------------------
  def q156LabelBalance(spark: SparkSession, sfDir: String): DataFrame = {
    val byClass = Tables.embeddings(spark, sfDir)
      .groupBy(col("label")).agg(count(lit(1)).as("n"))
    val tot = byClass.agg(sum(col("n")).as("nt"),
      count(lit(1)).as("k"),
      sum(col("n") * col("n")).as("nsq"),
      max(col("n")).as("nmax"))
    byClass.crossJoin(broadcast(tot))
      .select(col("label"), col("n"),
        expr("round(CAST(n AS DOUBLE) / nt, 6)").as("share"),
        expr("round(CAST(nt AS DOUBLE) / (k * n), 6)").as("class_weight"),
        expr("round(1e0 - CAST(nsq AS DOUBLE) / " +
          "(CAST(nt AS DOUBLE) * nt), 6)").as("gini_impurity"),
        expr("round(CAST(nmax AS DOUBLE) / nt, 6)").as("majority_share"))
      .orderBy("label")
  }

  val q156Sql: String =
    """WITH c AS (SELECT label, count(*) AS n FROM embeddings GROUP BY label),
      |t AS (SELECT CAST(SUM(n) AS BIGINT) AS nt, COUNT(*) AS k,
      |             CAST(SUM(n * n) AS BIGINT) AS nsq,
      |             MAX(n) AS nmax
      |      FROM c)
      |SELECT label, n,
      |       round(CAST(n AS DOUBLE) / nt, 6) AS share,
      |       round(CAST(nt AS DOUBLE) / (k * n), 6) AS class_weight,
      |       round(1e0 - CAST(nsq AS DOUBLE) / (CAST(nt AS DOUBLE) * nt), 6)
      |         AS gini_impurity,
      |       round(CAST(nmax AS DOUBLE) / nt, 6) AS majority_share
      |FROM c, t
      |ORDER BY label""".stripMargin

  // ---------------------------------------------------------------------
  // q169 — int8 quantization audit per embedding dimension: affine
  // min/max quantization (the faiss SQ8 / ONNX uint8 scheme — scale =
  // (max-min)/255, q = round((x-min)/scale)) applied and immediately
  // inverted, reporting mean and max absolute reconstruction error per
  // dimension. This is the go/no-go audit before serving a 4x-smaller
  // quantized index: a dimension whose max error spikes (heavy-tailed
  // outliers stretching the range) is the one that needs clipping.
  // Complements q48, which audits SYMMETRIC per-VECTOR scales (each
  // row's own max-abs): this is the other standard layout — one affine
  // (min, scale) pair per COLUMN — and the two disagree exactly when
  // per-dim ranges are skewed, which is what the pair of audits exists
  // to reveal.
  //
  // Exactness: x widens float→double exactly; min/max/scale and the
  // quantize-dequantize chain are the same IEEE ops in both engines.
  // q uses floor(v + 0.5), NOT round(v) — Spark HALF_UP and DuckDB's
  // banker-ish double rounding disagree on exact .5 ties, floor(+0.5)
  // cannot. Per-value errors round to DECIMAL(25,12) pre-sum (order-
  // insensitive); a 12-dp tie is impossible (no double equals the
  // non-dyadic k·10^-12 + 5·10^-13).
  //
  // Shape: posexplode → per-dim min/max (partial-aggregable, 64-row
  // result broadcast back) → one more partial-aggregable fold. Two
  // scans of the embedding column, zero wide shuffles at corpus scale.
  // ---------------------------------------------------------------------
  def q169QuantAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val x = Tables.embeddings(spark, sfDir)
      .select(posexplode(expr("transform(embedding, v -> CAST(v AS DOUBLE))")))
      .select(col("pos").cast("long").as("dim"), col("col").as("x"))
    val st = x.groupBy(col("dim"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"),
        count(lit(1)).as("n_vals"))
    x.join(broadcast(st), "dim")
      .select(col("dim"), col("mn"), col("mx"), col("n_vals"),
        expr("""CAST(round(CASE WHEN mx = mn THEN 0e0 ELSE
                |  abs(x - (mn + floor((x - mn) / ((mx - mn) / 255e0) + 0.5)
                |           * ((mx - mn) / 255e0))) END, 12)
                |  AS DECIMAL(25,12))""".stripMargin).as("err"))
      .groupBy(col("dim"))
      .agg(first(col("n_vals")).as("n_vals"),
        first(col("mn")).as("mn"), first(col("mx")).as("mx"),
        (sum(col("err")).cast("double") / first(col("n_vals"))).as("mae"),
        max(col("err")).cast("double").as("max_err"))
      .orderBy("dim")
  }

  val q169Sql: String =
    """WITH x AS (
      |  SELECT unnest(range(0, len(emb))) AS dim, unnest(emb) AS x
      |  FROM (SELECT embedding::DOUBLE[] AS emb FROM embeddings)),
      |st AS (
      |  SELECT dim, MIN(x) AS mn, MAX(x) AS mx, COUNT(*) AS n_vals
      |  FROM x GROUP BY dim),
      |e AS (
      |  SELECT x.dim, st.mn, st.mx, st.n_vals,
      |         CAST(round(CASE WHEN st.mx = st.mn THEN 0e0 ELSE
      |             abs(x.x - (st.mn
      |               + floor((x.x - st.mn) / ((st.mx - st.mn) / 255e0) + 0.5)
      |               * ((st.mx - st.mn) / 255e0))) END, 12)
      |           AS DECIMAL(25,12)) AS err
      |  FROM x JOIN st USING (dim))
      |SELECT CAST(dim AS BIGINT) AS dim, MIN(n_vals) AS n_vals,
      |       MIN(mn) AS mn, MIN(mx) AS mx,
      |       CAST(SUM(err) AS DOUBLE) / MIN(n_vals) AS mae,
      |       CAST(MAX(err) AS DOUBLE) AS max_err
      |FROM e
      |GROUP BY dim
      |ORDER BY dim""".stripMargin

  // ---------------------------------------------------------------------
  // q204 — Matryoshka truncation-distortion audit (Kusupati et al. 2022):
  // how much does cosine similarity move when embeddings are truncated
  // to their first k dims? The go/no-go read before serving truncated
  // vectors from an MRL-style index (k-dim coarse search, full-dim
  // re-rank — q30/q53's shape with k picked BY THIS AUDIT).
  //
  // Probe pairs are consecutive vec_ids — a deterministic, corpus-sized
  // sample needing one equi-join (vec_id+1), no sampling state. Per
  // pair and k in {4,8,16}: |cos_k - cos_full|, 6-dp-rounded to
  // DECIMAL so the per-k mean aggregates exactly (order-insensitive);
  // dot products run through the codegen'd sequential-fold DotProduct,
  // whose bit-parity with DuckDB's list_dot_product q22 established.
  // Output per k: pair count, mean/max distortion, and the count of
  // retrieval-unsafe pairs (distortion > 0.05).
  // ---------------------------------------------------------------------
  private val MrlDims   = Seq(4, 8, 16)
  private val MrlUnsafe = 0.05

  def q204MatryoshkaAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val a = e.select(col("vec_id").as("ida"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("idb"), col("embedding").as("eb"))
    val pairs = a.join(b, col("ida") + 1 === col("idb"))
    def cosAt(k: Int): Column = {
      val (sa, sb) = (slice(col("ea"), 1, k), slice(col("eb"), 1, k))
      dot(sa, sb) / (sqrt(dot(sa, sa)) * sqrt(dot(sb, sb)))
    }
    val cosFull = dot(col("ea"), col("eb")) /
      (sqrt(dot(col("ea"), col("ea"))) * sqrt(dot(col("eb"), col("eb"))))
    // guard every truncated norm before any division (ANSI /0 throws);
    // random float embeddings never have an all-zero prefix, but the
    // predicate must exist and must match the oracle's
    val guarded = MrlDims.map { k =>
      dot(slice(col("ea"), 1, k), slice(col("ea"), 1, k)) > 0 &&
        dot(slice(col("eb"), 1, k), slice(col("eb"), 1, k)) > 0
    }.reduce(_ && _) && dot(col("ea"), col("ea")) > 0 && dot(col("eb"), col("eb")) > 0
    val withD = pairs.filter(guarded)
      .withColumn("cf", cosFull)
      .select(MrlDims.map(k =>
        round(abs(cosAt(k) - col("cf")), 6).cast(DecimalType(18, 6)).as(s"d$k")): _*)
    val long = withD.select(explode(array(MrlDims.map(k =>
        struct(lit(k).as("dim"), col(s"d$k").as("d"))): _*)).as("x"))
      .select(col("x.dim").as("dim"), col("x.d").as("d"))
    long.groupBy("dim")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("d")).as("sd"),
        max(col("d")).as("md"),
        sum(when(col("d") > MrlUnsafe, 1L).otherwise(0L)).as("n_unsafe"))
      .select(col("dim").cast("long").as("dim"), col("n_pairs"),
        round(col("sd").cast("double") / col("n_pairs"), 6).as("mean_dist"),
        col("md").cast("double").as("max_dist"),
        col("n_unsafe"))
      .orderBy("dim")
  }

  val q204Sql: String = {
    val perK = MrlDims.map { k =>
      s"""  SELECT $k AS dim,
         |         CAST(ROUND(ABS(list_dot_product(ea[1:$k], eb[1:$k])
         |                / (sqrt(list_dot_product(ea[1:$k], ea[1:$k]))
         |                   * sqrt(list_dot_product(eb[1:$k], eb[1:$k]))) - cf), 6)
         |              AS DECIMAL(18,6)) AS d
         |  FROM c""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |p AS (SELECT a.emb AS ea, b.emb AS eb
       |      FROM e a JOIN e b ON b.vec_id = a.vec_id + 1),
       |g AS (SELECT ea, eb FROM p
       |      WHERE ${MrlDims.map(k =>
                s"list_dot_product(ea[1:$k], ea[1:$k]) > 0 AND " +
                  s"list_dot_product(eb[1:$k], eb[1:$k]) > 0").mkString(" AND ")}
       |        AND list_dot_product(ea, ea) > 0 AND list_dot_product(eb, eb) > 0),
       |c AS (SELECT ea, eb,
       |             list_dot_product(ea, eb)
       |               / (sqrt(list_dot_product(ea, ea))
       |                  * sqrt(list_dot_product(eb, eb))) AS cf
       |      FROM g),
       |d AS (
       |$perK)
       |SELECT CAST(dim AS BIGINT) AS dim,
       |       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |       ROUND(CAST(SUM(d) AS DOUBLE) / COUNT(*), 6) AS mean_dist,
       |       CAST(MAX(d) AS DOUBLE) AS max_dist,
       |       CAST(SUM(CASE WHEN d > $MrlUnsafe THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_unsafe
       |FROM d GROUP BY dim ORDER BY dim""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q217 — k-center / farthest-point coreset over the embedding space
  // (Gonzalez 1985: greedily pick the point FARTHEST from the chosen
  // set; 2-approximation for the k-center objective): the geometric
  // complement to q208's coverage coreset and q47's k-means — k-center
  // maximizes SPREAD, the right seed set for diverse eval picks, kmeans
  // initialization, and IVF coarse centroids (q30). Emits each round's
  // center and the covering radius² at pick time — the radius curve IS
  // the diminishing-returns read.
  //
  // Shape: one scan builds (v, |v|²) once; each round is one scan
  // computing min-distance (a least-chain of sequential-fold dots — no
  // joins) + a TakeOrdered(1), the per-round driver scalar. Distances
  // d² = |a|² + |c|² − 2·a·c evaluate in the SAME op order in both
  // engines on bit-identical doubles (float→double widening is exact;
  // the Spark centers are in-JVM doubles, the oracle's are scalar
  // subqueries — same values, different mechanism, q202's precedent),
  // so the greedy path cannot fork; ties break on vec_id.
  // ---------------------------------------------------------------------
  private val KCenterK = 8

  // ---------------------------------------------------------------------
  // q225 — kernel-herding coreset (Chen–Welling–Smola 2010, the
  // moment-matching selection rule with O(1/t) mean-embedding error vs
  // O(1/√t) for random sampling): greedily pick the vector minimizing
  // the distance between the selected set's mean and the CORPUS mean —
  // the third coreset objective next to q208 (coverage) and q217
  // (spread): herding picks REPRESENTATIVE points, the right seed for
  // distillation-style data pruning. Expanding the objective, round t's
  // score is n2 + 2·Σ_i⟨v, c_i⟩ − 2t·⟨v, μ⟩ — so the per-round state is
  // ONE accumulated-dot column (q217's least-chain with + instead of
  // least) and the corpus mean enters as a constant vector.
  //
  // Determinism: μ comes from exact int64 per-dim sums of
  // FLOOR(x·1e9)-quantized components — floor has NO tie semantics, so
  // unlike a decimal ROUND the two engines cannot disagree on any
  // component (Spark casts decimals HALF_UP, DuckDB half-even; at
  // 20k×64 components a handful of exact .5-at-9dp doubles flipped a
  // decimal-quantized mean by ~1e-12, enough to shift raw scores) —
  // every dot is the sequential fold and the score's op order is
  // shared, so argmin is bit-stable with vec_id ties. Repeats are
  // legitimate herding behavior (a point can be picked twice once the
  // running mean overshoots past it).
  // ---------------------------------------------------------------------
  private val HerdK = 8

  def q225HerdingCoreset(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    val n = emb.count()
    val sx = emb.select(
        expr("transform(embedding," +
          " x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1.0E9) AS BIGINT))").as("eq"))
      .select(posexplode(col("eq")).as(Seq("d", "xq")))
      .groupBy("d").agg(sum(col("xq")).as("sx"))
      .orderBy("d").collect().map(_.getLong(1))
    val mu = sx.map(_.toDouble / n / 1.0e9)

    val base = emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("n2", dot(col("v"), col("v")))
      .withColumn("dm", dot(col("v"), array(mu.toSeq.map(lit): _*)))
      .cache()
    var df = base.withColumn("ds", lit(0.0))
    val picks = Seq.newBuilder[(Long, Long, Double)]
    for (t <- 1 to HerdK) {
      val w = df
        .withColumn("score",
          (col("n2") + lit(2.0) * col("ds")) - (lit(2.0 * t) * col("dm")))
        .orderBy(col("score"), col("vec_id")).limit(1)
        .collect()(0)
      picks += ((t.toLong, w.getAs[Long]("vec_id"), w.getAs[Double]("score")))
      val wv = w.getSeq[Double](w.fieldIndex("v")).toIndexedSeq
      df = df.withColumn("ds",
        col("ds") + dot(col("v"), array(wv.map(lit): _*)))
    }
    picks.result().toDF("round", "center_id", "score").orderBy("round")
  }

  val q225Sql: String = {
    val head =
      s"""WITH nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
         |dims AS (
         |  SELECT d.d AS d, CAST(SUM(eq[d.d + 1]) AS BIGINT) AS sx
         |  FROM (SELECT list_transform(embedding,
         |                 x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1.0E9) AS BIGINT))
         |                 AS eq
         |        FROM embeddings),
         |       generate_series(0, ${CovDim - 1}) d(d)
         |  GROUP BY d.d),
         |mu AS (SELECT list(CAST(sx AS DOUBLE) / nn.n / 1.0E9 ORDER BY d) AS m
         |       FROM dims, nn GROUP BY nn.n),
         |m0 AS MATERIALIZED (
         |  SELECT vec_id, embedding::DOUBLE[] AS v,
         |         list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])
         |           AS n2,
         |         list_dot_product(embedding::DOUBLE[], (SELECT m FROM mu))
         |           AS dm,
         |         CAST(0.0 AS DOUBLE) AS ds
         |  FROM embeddings)""".stripMargin
    val rounds = (1 to HerdK).map { t =>
      val upd = if (t < HerdK)
        s""",
           |m$t AS MATERIALIZED (
           |  SELECT vec_id, v, n2, dm,
           |         ds + list_dot_product(v, (SELECT v FROM c$t)) AS ds
           |  FROM m${t - 1})""".stripMargin
      else ""
      s"""c$t AS MATERIALIZED (
         |  SELECT vec_id, v,
         |         (n2 + 2.0 * ds) - (${2 * t}.0 * dm) AS score
         |  FROM m${t - 1} ORDER BY score, vec_id LIMIT 1)$upd""".stripMargin
    }.mkString(",\n", ",\n", "")
    val sel = (1 to HerdK).map { t =>
      s"SELECT CAST($t AS BIGINT) AS round, vec_id AS center_id, score FROM c$t"
    }.mkString("\nUNION ALL\n")
    s"$head$rounds\n$sel\nORDER BY round"
  }

  def q217KCenter(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("n2", dot(col("v"), col("v")))
      .cache()
    def distTo(cn2: Double, cv: Seq[Double]): Column =
      (col("n2") + lit(cn2)) -
        (lit(2.0) * dot(col("v"), array(cv.map(lit): _*)))
    val first = base.orderBy("vec_id").limit(1).collect()(0)
    var centers = Vector((1L, first.getLong(0), 0.0))
    var df = base.withColumn("mind",
      distTo(first.getDouble(2), first.getSeq[Double](1)))
    for (r <- 2 to KCenterK) {
      val w = df.orderBy(col("mind").desc, col("vec_id")).limit(1)
        .collect()(0)
      centers :+= ((r.toLong, w.getLong(0), w.getDouble(3)))
      df = df.withColumn("mind", least(col("mind"),
        distTo(w.getDouble(2), w.getSeq[Double](1))))
    }
    centers.toDF("round", "center_id", "radius2").orderBy("round")
  }

  val q217Sql: String = {
    val head =
      """WITH b AS MATERIALIZED (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |         list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS n2
        |  FROM embeddings),
        |c1 AS MATERIALIZED (
        |  SELECT vec_id, v, n2, CAST(0.0 AS DOUBLE) AS radius2
        |  FROM b ORDER BY vec_id LIMIT 1),
        |m1 AS MATERIALIZED (
        |  SELECT vec_id, v, n2,
        |         (n2 + (SELECT n2 FROM c1))
        |           - (2.0 * list_dot_product(v, (SELECT v FROM c1))) AS mind
        |  FROM b)""".stripMargin
    val rounds = (2 to KCenterK).map { i =>
      s"""c$i AS MATERIALIZED (
         |  SELECT vec_id, v, n2, mind AS radius2
         |  FROM m${i - 1} ORDER BY mind DESC, vec_id LIMIT 1),
         |m$i AS MATERIALIZED (
         |  SELECT vec_id, v, n2,
         |         LEAST(mind, (n2 + (SELECT n2 FROM c$i))
         |           - (2.0 * list_dot_product(v, (SELECT v FROM c$i)))) AS mind
         |  FROM m${i - 1})""".stripMargin
    }.mkString(",\n", ",\n", "")
    val sel = (1 to KCenterK).map { i =>
      s"SELECT CAST($i AS BIGINT) AS round, vec_id AS center_id, radius2 FROM c$i"
    }.mkString("\nUNION ALL\n")
    s"$head$rounds\n$sel\nORDER BY round"
  }

  // ---------------------------------------------------------------------
  // q244 — Johnson–Lindenstrauss random-projection distortion audit
  // (Achlioptas 2003: a ±1 Rademacher matrix preserves pairwise
  // distances in expectation — E[‖Pz‖²] = k·‖z‖² — with no Gaussian
  // sampling): project the 64-dim embeddings to k = 16 and measure, for
  // every consecutive vector pair, the realized distance-ratio
  // distortion. THE pre-read before shrinking the ANN index (q30/q53)
  // or shipping truncated vectors (q204's Matryoshka audit measures a
  // LEARNED truncation; this measures the data-oblivious one any
  // engine can apply).
  //
  // Exactness: components FLOOR(x·1e4)-quantize to int64 (q225's
  // floor-has-no-ties idiom); the sign matrix is 1024 ±1 literals
  // derived from MD5 parity at BUILD time and baked into BOTH engines'
  // expression text, so projections, squared distances, and the
  // floor-ppm distortion are pure int64 arithmetic — hash-exact with no
  // float anywhere. Shape: the projection is a per-row codegen HOF fold
  // (no explode — a 64×16 blowup never materializes); the only shuffle
  // is the consecutive-pair self-join on vec_id.
  // ---------------------------------------------------------------------
  private[graft] val JlK = 16

  /** ±1 from the parity of md5("i_j")'s first hex nibble — computed once
    * here (JVM MD5 == DuckDB md5 == any engine's MD5) and emitted as a
    * flat row-major literal in both engines' SQL. */
  private[graft] lazy val jlSigns: IndexedSeq[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    for (i <- 0 until CovDim; j <- 0 until JlK) yield {
      val h = md.digest(s"${i}_$j".getBytes("UTF-8"))
      if (((h(0) >> 4) & 1) == 0) 1L else -1L
    }
  }
  private def jlSignsSql: String = jlSigns.mkString("[", ", ", "]")
  private def jlSignsSpark: String = jlSigns.mkString("array(", "L, ", "L)")

  def q244JlProjection(spark: SparkSession, sfDir: String): DataFrame = {
    val q = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), expr(
        "transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1.0E4)" +
          " AS BIGINT))").as("xq"))
      .withColumn("proj", expr(
        s"transform(sequence(0, ${JlK - 1}), j -> " +
          s"aggregate(sequence(0, ${CovDim - 1}), 0L, (acc, i) -> " +
          s"acc + element_at($jlSignsSpark, i * $JlK + j + 1)" +
          " * element_at(xq, i + 1)))"))
      .cache() // both sides of the consecutive-pair join
    val b = q.select((col("vec_id") - 1).as("vec_id"),
      col("xq").as("yq"), col("proj").as("prj2"))
    q.join(b, Seq("vec_id"))
      .withColumn("d2_orig", expr(
        "aggregate(zip_with(xq, yq, (a, b) -> (a - b) * (a - b)), 0L, " +
          "(acc, v) -> acc + v)"))
      .withColumn("d2_proj", expr(
        "aggregate(zip_with(proj, prj2, (a, b) -> (a - b) * (a - b)), 0L, " +
          "(acc, v) -> acc + v)"))
      .selectExpr("vec_id", "d2_orig", "d2_proj",
        // 1e6/k = 62500 folds into ONE multiplier: floor(62500·p / o) ==
        // floor(1e6·p / (k·o)) and keeps the product inside int64 (worst
        // case |x| <= 1 -> d2_proj <= 16·(2·64·1e4)^2 ~ 2.6e13, x62500
        // ~ 1.6e18 < 2^63)
        s"CASE WHEN d2_orig = 0 THEN 1000000L " +
          s"ELSE ${1000000 / JlK}L * d2_proj div d2_orig END " +
          "AS distortion_ppm")
      .orderBy("vec_id")
  }

  val q244Sql: String =
    s"""WITH q AS (
      |  SELECT vec_id,
      |         list_transform(embedding,
      |           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1.0E4) AS BIGINT)) AS xq
      |  FROM embeddings),
      |s AS (SELECT $jlSignsSql AS sg),
      |p AS (
      |  SELECT vec_id, xq,
      |         [CAST(list_sum([sg[(i - 1) * $JlK + j] * xq[i]
      |                         for i in range(1, ${CovDim + 1})]) AS BIGINT)
      |          for j in range(1, ${JlK + 1})] AS proj
      |  FROM q, s)
      |SELECT a.vec_id,
      |       CAST(list_sum([(a.xq[i] - b.xq[i]) * (a.xq[i] - b.xq[i])
      |                      for i in range(1, ${CovDim + 1})]) AS BIGINT)
      |         AS d2_orig,
      |       CAST(list_sum([(a.proj[j] - b.proj[j]) * (a.proj[j] - b.proj[j])
      |                      for j in range(1, ${JlK + 1})]) AS BIGINT)
      |         AS d2_proj,
      |       CASE WHEN list_sum([(a.xq[i] - b.xq[i]) * (a.xq[i] - b.xq[i])
      |                           for i in range(1, ${CovDim + 1})]) = 0
      |            THEN 1000000
      |            ELSE ${1000000 / JlK} * CAST(list_sum(
      |                   [(a.proj[j] - b.proj[j]) * (a.proj[j] - b.proj[j])
      |                    for j in range(1, ${JlK + 1})]) AS BIGINT)
      |                 // CAST(list_sum(
      |                   [(a.xq[i] - b.xq[i]) * (a.xq[i] - b.xq[i])
      |                    for i in range(1, ${CovDim + 1})]) AS BIGINT) END
      |         AS distortion_ppm
      |FROM p a JOIN p b ON b.vec_id = a.vec_id + 1
      |ORDER BY a.vec_id""".stripMargin
}
