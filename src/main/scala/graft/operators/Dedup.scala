package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Near-duplicate detection for training-data curation.
  *
  * q20 — MinHash + LSH banding over word-trigram shingles, with exact
  * Jaccard verification of candidates. q21 — 64-bit SimHash with
  * pigeonhole-banded Hamming-distance join.
  *
  * Scale design (the whole point of MinHash/SimHash at 100 TB):
  *  - Shingling, signatures, and band hashes are pure per-row projections
  *    (higher-order array functions, no UDFs, no explode-per-hash): zero
  *    shuffle until candidates.
  *  - The only shuffles are (a) the band-bucket self-join keyed on
  *    (band, 64-bit band hash) — tiny rows: two longs + an id — and
  *    (b) the final pair-distinct. Documents themselves are only
  *    re-read to verify the (rare) candidate pairs via a re-join on id.
  *  - Candidate volume is governed by the (bands, rows) S-curve:
  *    b=16, r=2 puts the 50% knee at j≈(1/16)^(1/2)≈0.25 and catches
  *    j≥0.8 pairs with probability 1-(1-0.64)^16 ≈ 1-1e-7 — effectively
  *    no false negatives at the 0.8 output threshold, so the exact-verify
  *    output equals brute-force Jaccard≥0.8 (which is what the DuckDB
  *    oracle computes).
  */
object Dedup {

  /** doc_id + distinct word-trigram shingle array for every document
    * with >= 3 tokens (shorter docs have no trigrams, can never appear
    * in a candidate pair, and are excluded HERE, on the input column —
    * NOT via `filter(size(sh) > 0)` downstream. Filtering on the result
    * of the higher-order projection inlines the whole CodegenFallback
    * HOF tree into the filter predicate, where it is re-evaluated
    * interpreted per input row: measured 7.4 s vs 0.5 s for the
    * equivalent input-side predicate when materializing this frame into
    * the cache at sf0.1). */
  private def shingled(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(trim(col("text")), " +").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), expr(
        """array_distinct(transform(sequence(0, size(toks) - 3),
          |  i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])))""".stripMargin)
        .as("sh"))

  private val NumHashes = 32
  private val Bands     = 16 // r = NumHashes / Bands = 2 rows per band
  private val Threshold = 0.8

  // ---------------------------------------------------------------------
  // q20 — MinHash + LSH + exact verification.
  // ---------------------------------------------------------------------
  def q20MinHashDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = shingled(spark, sfDir).cache()

    // 32-hash MinHash signature in one projection. Each variable-length
    // shingle string is hashed ONCE (xxhash64); the 32 family members
    // re-hash that fixed-width i64 with the member index,
    // h_i(s) = xxhash64(h(s), i) — a valid universal family, and far
    // cheaper than 32 string hashes per shingle (the dominant MinHash
    // cost at corpus scale).
    val sigs = docs
      .select(col("doc_id"),
        expr("transform(sh, s -> xxhash64(s))").as("hs"))
      .select(
        col("doc_id"),
        expr(s"""transform(sequence(0, ${NumHashes - 1}),
                 |  i -> array_min(transform(hs, h -> xxhash64(h, i))))""".stripMargin)
          .as("sig"))

    // 16 bands of 2 rows; band key = xxhash64(sig[2b], sig[2b+1], b).
    // Cached: the self-join below consumes this tiny (3-longs/row) table
    // on BOTH sides — without the cache each side would recompute the
    // whole signature pipeline (measured ~2x the query cost at sf0.1).
    val bands = sigs.select(
      col("doc_id"),
      explode(expr(
        s"""transform(sequence(0, ${Bands - 1}),
           |  b -> struct(b AS band, xxhash64(sig[2*b], sig[2*b+1], b) AS bh))""".stripMargin))
        .as("e"))
      .select(col("doc_id"), col("e.band").as("band"), col("e.bh").as("bh"))
      .cache()

    // Bucket self-join -> candidate pairs (shuffle carries 3 longs/row).
    val l = bands.as("l"); val r = bands.as("r")
    val cands = l.join(r,
        col("l.band") === col("r.band") && col("l.bh") === col("r.bh") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .distinct()

    // Exact-Jaccard verification of the (rare) candidates.
    val a = docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    cands.join(a, "doc_a").join(b, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
          / size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
      .filter(col("jaccard") >= Threshold)
      .orderBy("doc_a", "doc_b")
  }

  /** Brute-force oracle: all pairs with trigram-shingle Jaccard >= 0.8.
    * Valid because the LSH miss probability at j >= 0.8 is ~1e-7. */
  val q20Sql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |         list_distinct(CASE WHEN len(toks) >= 3
      |           THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
      |                 for i in range(1, len(toks) - 1)]
      |           ELSE [] END) AS sh
      |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS toks
      |        FROM documents))
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |       CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |         / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
      |FROM t a JOIN t b ON a.doc_id < b.doc_id
      |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |        / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8
      |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------------
  // q146 — inter-source near-duplication matrix: q64 measures EXACT
  // cross-source contamination (shared n-grams); this measures the
  // NEAR-dup rate (J >= 0.8) between every source pair — the audit that
  // catches a crawl source that is largely a lightly-edited mirror of
  // another (each doc unique, exact overlap low, near-dup rate high).
  // Rates are per POSSIBLE pair (n_a·n_b cross, C(n,2) within), so the
  // matrix is size-comparable across source pairs.
  //
  // Shape: q20's complete banded-LSH + exact-verify pair generation
  // (S-curve miss ~1e-7 at J >= 0.8), then two |docs|-row dimension
  // joins to attach sources and a |sources|²-group aggregate — the
  // expensive part IS q20, already scale-shaped; everything after is
  // pair-sized. The oracle re-derives the pairs by brute force, exactly
  // like q20's.
  // ---------------------------------------------------------------------
  def q146SourceDupMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = q20MinHashDedup(spark, sfDir)
      .select(col("doc_a"), col("doc_b"))
    val src = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"))
    val sized = src.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val tagged = pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      .select(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"))
      .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("n_pairs"))
    tagged
      .join(broadcast(sized.select(col("source").as("src_a"), col("n").as("n_a"))), "src_a")
      .join(broadcast(sized.select(col("source").as("src_b"), col("n").as("n_b"))), "src_b")
      .select(col("src_a"), col("src_b"), col("n_pairs"), col("n_a"), col("n_b"),
        expr("CAST(CASE WHEN src_a = src_b THEN n_a * (n_a - 1) div 2 " +
          "ELSE n_a * n_b END AS BIGINT)").as("possible_pairs"))
      .withColumn("rate_ppm",
        round(col("n_pairs").cast("double") / col("possible_pairs") * 1e6, 6))
      .orderBy("src_a", "src_b")
  }

  val q146Sql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |         list_distinct(CASE WHEN len(toks) >= 3
      |           THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
      |                 for i in range(1, len(toks) - 1)]
      |           ELSE [] END) AS sh
      |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS toks
      |        FROM documents)),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM t a JOIN t b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |          / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
      |src AS (SELECT doc_id, source FROM documents),
      |sized AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
      |tagged AS (
      |  SELECT least(sa.source, sb.source) AS src_a,
      |         greatest(sa.source, sb.source) AS src_b, count(*) AS n_pairs
      |  FROM pairs
      |  JOIN src sa ON pairs.doc_a = sa.doc_id
      |  JOIN src sb ON pairs.doc_b = sb.doc_id
      |  GROUP BY 1, 2)
      |SELECT src_a, src_b, n_pairs,
      |       CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
      |       CAST(CASE WHEN src_a = src_b THEN a.n * (a.n - 1) // 2
      |                 ELSE a.n * b.n END AS BIGINT) AS possible_pairs,
      |       round(CAST(n_pairs AS DOUBLE) /
      |             (CASE WHEN src_a = src_b THEN a.n * (a.n - 1) // 2
      |                   ELSE a.n * b.n END) * 1e6, 6) AS rate_ppm
      |FROM tagged
      |JOIN sized a ON tagged.src_a = a.source
      |JOIN sized b ON tagged.src_b = b.source
      |ORDER BY src_a, src_b""".stripMargin

  // ---------------------------------------------------------------------
  // q21 — SimHash near-dup: 64-bit signature from token-frequency-weighted
  // bit votes; pairs within Hamming distance <= 3 found via 4x16-bit
  // pigeonhole bands (ham <= 3 => at least one band identical).
  // No SQL oracle (xxhash64 doesn't exist in DuckDB) — covered by
  // TrainingDataSpec instead; the driver records a rows-only check.
  // ---------------------------------------------------------------------
  private val HamMax = 3
  private val SimBands = 4 // 4 x 16-bit bands; pigeonhole for ham <= 3

  /** Sub-chunks per band in the two-level pigeonhole (12-bit slices of
    * the 48 bits outside the band's chunk). */
  private val SimSubBands = 4
  /** Expected single-level band occupancy (n / 2^16) above which the
    * banding switches to the two-level pigeonhole. Same scale law as
    * q26's dupGeometry: fixed bucket geometry makes the banded
    * self-join Θ(n²/2^bits) — the round-13 warm3 probe measured the
    * onset (exp(10→30) = 1.34 at 1.8M docs). The refinement below cuts
    * the quadratic constant 2^10× (buckets per band grow 2^12×, bands
    * 4×: 4·n²/2^16 → 16·n²/2^28) while provably returning the SAME
    * pairs, so the switch only ever trades candidate volume.
    *
    * Switch point MEASURED in round 14 (ScaleProbe q21cross, persisted
    * 211x/422x token-suffixed corpora): both levels return identical
    * pair sets at 1.05M docs (206,396) and 2.1M docs (384,907) —
    * the exactness statement executed at real volume — but the
    * single-level plan stays 2-4x FASTER through 2.1M (min 6.3 vs
    * 13.2 s at 1.05M; 12.9 vs 37.0 s at 2.1M): this corpus's simhashes
    * cluster, so real chunk occupancy sits far below the uniform-hash
    * bound and the quadratic term has not materialized where the
    * uniform model predicted. The switch sits at the measured frontier
    * (occupancy 32 ≈ 2.1M docs); past it the candidate bound is
    * unmeasured and the provably-exact two-level takes over as the
    * safety valve. */
  private[graft] val SimOccupancy = 32L

  /** Pigeonhole banding of a (doc_id, simhash) frame.
    *
    * Single-level (`twoLevel = false`, every tested SF): one row per
    * 16-bit chunk — if hamming(x, y) ≤ 3 then some chunk of the 4 is
    * error-free (4 chunks ≥ HamMax + 1), so the pair collides in that
    * band. Buckets per band: 2^16.
    *
    * Two-level (`twoLevel = true`, large corpora): if some chunk b is
    * error-free, the ≤ 3 errors all sit in the OTHER 48 bits — so of
    * the 4 twelve-bit sub-chunks of those 48 bits, some sub-chunk s is
    * ALSO error-free (4 ≥ HamMax + 1 again). Every true pair therefore
    * collides in band (b, s) on the 28-bit joint key chunk|sub<<16 —
    * recall is EXACT at both levels (the exact hamming filter
    * downstream is unchanged); only candidate volume differs:
    * 16 bands × 2^28 buckets vs 4 × 2^16. */
  private[graft] def simHashBands(sims: DataFrame, twoLevel: Boolean): DataFrame = {
    val bands: Column =
      if (!twoLevel)
        explode(expr(
          s"""transform(sequence(0, ${SimBands - 1}),
             |  b -> struct(b AS band,
             |              shiftright(simhash, b * 16) & 65535 AS bh))""".stripMargin))
      else {
        val rest48 = (1L << 48) - 1
        val entries = for (b <- 0 until SimBands; s <- 0 until SimSubBands)
          yield {
            // the 48 bits outside chunk b, packed low (masks kill the
            // sign bits arithmetic shiftright drags in)
            val rest = b match {
              case 0 => s"(shiftright(simhash, 16) & $rest48)"
              case 3 => s"(simhash & $rest48)"
              case _ =>
                s"((simhash & ${(1L << (16 * b)) - 1}) | " +
                  s"((shiftright(simhash, ${16 * (b + 1)}) & " +
                  s"${(1L << (48 - 16 * b)) - 1}) << ${16 * b}))"
            }
            val chunk = s"(shiftright(simhash, ${16 * b}) & 65535)"
            val sub = s"(shiftright($rest, ${12 * s}) & 4095)"
            struct(
              lit(b * SimSubBands + s).as("band"),
              expr(s"$chunk | ($sub << 16)").as("bh"))
          }
        explode(array(entries: _*))
      }
    sims.select(col("doc_id"), col("simhash"), bands.as("e"))
      .select(col("doc_id"), col("simhash"),
        col("e.band").as("band"), col("e.bh").as("bh"))
  }

  def q21SimHashDedup(spark: SparkSession, sfDir: String): DataFrame =
    q21WithLevel(spark, sfDir, level = None)

  /** q21 with the banding level pinned (scale-probe surface: the
    * two-level-vs-single-level set-equality check at an above-switch
    * corpus needs both plans over the SAME data). `None` = the shipped
    * occupancy-gated auto switch. */
  private[graft] def q21WithLevel(spark: SparkSession, sfDir: String,
      level: Option[Boolean]): DataFrame = {
    // Signature = one fused projection (graft.functions.SimHash64 over
    // the per-token xxhash64 array). SimHash is a function of a
    // document's OWN tokens, so the previous explode + 64-vote-column
    // groupBy(doc_id) shape re-shuffled every token in the corpus just
    // to reassemble rows that were never split; as a projection the
    // first exchange in this plan is the banded candidate join itself.
    val docs = Tables.documents(spark, sfDir)
    // Construction-time driver scalar (q26's dupCorpusSized precedent):
    // one count() job — the no-column parquet scan path, row counts
    // from row-group metadata — feeding the occupancy switch. The
    // switch is OUTPUT-NEUTRAL (both levels return identical pairs), so
    // a consumer that needs a fully lazy plan can call simHashBands
    // with a pinned level instead; precision here only tunes candidate
    // volume, never results.
    val n = docs.count()
    val sims = docs
      .select(col("doc_id"),
        graft.functions.GraftFunctions.simHash64(
          expr("transform(split(trim(text), ' +'), t -> xxhash64(t))"))
          .as("simhash"))

    val banded = simHashBands(sims,
        twoLevel = level.getOrElse(n > (SimOccupancy << 16)))
      .cache() // consumed by both sides of the self-join

    val l = banded.as("l"); val r = banded.as("r")
    l.join(r,
        col("l.band") === col("r.band") && col("l.bh") === col("r.bh") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
        bit_count(col("l.simhash").bitwiseXOR(col("r.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= HamMax)
      .orderBy("doc_a", "doc_b")
  }

  // ---------------------------------------------------------------------
  // q40 — EXACT n-gram Jaccard similarity join via prefix filtering
  // (PPJoin family, Xiao et al., WWW 2008). The fourth dedup mode: where
  // q20 trades a ~1e-7 miss probability for MinHash's constant-size
  // signatures, this one is exact BY CONSTRUCTION at any threshold —
  // the mode a pipeline reaches for when the dedup threshold is low
  // (0.5 here, vs 0.8 for q20) and banding's S-curve would leak misses.
  //
  // Prefix-filter theorem: order the shingle universe by any global
  // total order; if jaccard(A,B) >= θ then the first
  // |A| - ceil(θ|A|) + 1 elements of A and the first
  // |B| - ceil(θ|B|) + 1 of B share at least one element. So candidate
  // generation explodes ONLY each doc's prefix (about half the shingles
  // at θ=0.5, an (1-θ) fraction in general) into an inverted-index
  // equi-join keyed on the shingle's xxhash64 — the shuffle carries two
  // longs per prefix entry, never a document. Exact verification then
  // re-joins the (rare) candidate pairs to the full string shingle
  // arrays — identical shape to q20's verify, so hash collisions can
  // only ADD candidates (killed by verify), never remove a true pair.
  //
  // SHINGLE SPACE MUST BE SPARSE relative to the corpus for ANY exact
  // candidate filter to work: with this generator's ~40-word vocabulary,
  // word BIGRAMS give a ~1.6k-shingle universe whose posting lists grow
  // linearly with the corpus — by sf0.1 nearly every doc pair shares a
  // prefix bigram and the candidate set approached all-pairs no matter
  // the ordering (measured 49 s vs ~0.5 s for every other text op).
  // That is information-theoretic, not an implementation defect: an
  // EXACT join must examine every pair that genuinely shares candidate
  // evidence. The operator therefore shingles word TRIGRAMS (the q20
  // shingle): a ~40^3 universe keeps max posting length ~25 at sf0.1
  // (measured; 27k distinct trigrams, mean df 9.6), exactly how real
  // pipelines size their n-grams against their vocabulary. Approximate
  // modes (q20 MinHash) remain the scale path when even long shingles
  // can't thin the universe.
  //
  // Candidate volume is governed by the document frequency of PREFIX
  // shingles: each inverted-index posting list of length df contributes
  // ~df^2/2 candidate pairs. Under an arbitrary (hash) order a common
  // shingle lands in prefixes with its full corpus-scale df — on this
  // corpus (tiny vocabulary, so bigram df is huge) that degenerated
  // toward the all-pairs join (measured 49 s at sf0.1). The universe is
  // therefore ordered RAREST-FIRST — ascending (df, hash), the standard
  // PPJoin ordering — so prefixes preferentially carry low-df shingles
  // and posting lists stay short. Any global total order preserves
  // exactness; (df, hash) is one (hash breaks df ties deterministically).
  // Computing df costs one linear aggregation + an equi-join over the
  // exploded shingle set — linear corpus cost bought against the
  // quadratic candidate blowup. A (θ·|larger| <= |smaller|) length
  // filter inside the candidate join (J >= θ implies it) prunes
  // cross-size pairs before the distinct.
  // ---------------------------------------------------------------------
  private val JaccardThreshold = 0.5

  def q40NgramJaccard(spark: SparkSession, sfDir: String): DataFrame = {
    val t = JaccardThreshold
    // One scan: string shingles (final exact verify) + their sorted
    // hashes (inverted index AND the merge-based verify prefilter).
    // The cache holds the BARE shingle projection; hs/sz are derived
    // AFTER it. Deriving them in the same select would let
    // CollapseProject inline the shingle HOF tree into all three
    // output columns — evaluated three times per row, interpreted
    // (CodegenFallback), which was most of this query's cold cost
    // (cache build 7.5 s vs 0.5 s split this way). Consumers recompute
    // hs from the CACHED sh column instead — 47 hashes per row per
    // consumer, noise by comparison.
    val docs0 = shingled(spark, sfDir).cache()
    val docs = docs0
      .select(col("doc_id"), col("sh"),
        expr("array_sort(transform(sh, s -> xxhash64(s)))").as("hs"),
        size(col("sh")).as("sz"))

    // Rarest-first canonical order: df per shingle hash (one linear
    // aggregation over per-doc-distinct shingles), then each doc's
    // shingles sorted ascending (df, hash); prefix = first
    // sz - ceil(θ*sz) + 1 entries. collect_list here is per-DOCUMENT
    // (bounded by document length), never per-corpus.
    val exploded = docs
      .select(col("doc_id"), col("sz"), explode(col("hs")).as("h"))
    val dfreq = exploded.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val prefixes = exploded.join(dfreq, "h")
      .groupBy(col("doc_id"), col("sz"))
      .agg(collect_list(struct(col("df"), col("h"))).as("dhs"))
      .select(col("doc_id"), col("sz"), explode(expr(
        s"slice(array_sort(dhs), 1, sz - CAST(ceil($t * sz) AS INT) + 1).h"))
        .as("h"))

    // Inverted-index candidate join: three longs per row, equi-keyed on
    // the shingle hash, with the PPJoin length filter (J >= θ forces
    // θ·|larger| <= |smaller|) applied inside the join.
    val l = prefixes.as("l"); val r = prefixes.as("r")
    val cands = l.join(r,
        col("l.h") === col("r.h") && col("l.doc_id") < col("r.doc_id") &&
          greatest(col("l.sz"), col("r.sz")) * t <=
            least(col("l.sz"), col("r.sz")))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .distinct()

    // Two-stage verification. Stage 1: O(n+m) sorted-hash merge Jaccard
    // (SortedHashJaccard) — never drops a true pair (jaccard_hash >=
    // jaccard_string for any hash function; see the expression's proof
    // note). This replaced per-pair array_intersect/array_union hash-set
    // builds over string arrays — the previous dominant cost (12.6 s of
    // a 24 s query at sf0.1; candidates outnumber true pairs ~1000x
    // because same-size same-vocabulary docs defeat the length filter).
    val ha = docs.select(col("doc_id").as("doc_a"), col("hs").as("hs_a"))
    val hb = docs.select(col("doc_id").as("doc_b"), col("hs").as("hs_b"))
    val hashPass = cands.join(ha, "doc_a").join(hb, "doc_b")
      .filter(graft.functions.GraftFunctions
        .sortedHashJaccard(col("hs_a"), col("hs_b")) >= t)
      .select(col("doc_a"), col("doc_b"))

    // Stage 2: exact string verification of the (rare) survivors —
    // collisions admitted by stage 1 die here, so the output equals
    // brute force exactly.
    val a = docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    hashPass.join(a, "doc_a").join(b, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
          / size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
      .filter(col("jaccard") >= t)
      .orderBy("doc_a", "doc_b")
  }

  // ---------------------------------------------------------------------
  // q51 — duplicated-n-gram statistics: the substring-level duplication
  // signal (the aggregate form of Lee et al. 2022's "Deduplicating
  // Training Data Makes Language Models Better" — there, duplicated
  // 50-token substrings are CUT from documents; here the corpus's n-gram
  // granularity is 4 words against a ~40-word vocabulary, and the
  // operator emits the per-document measurements a pipeline filters on:
  // how much of each document's n-gram mass also appears elsewhere).
  //
  // Where q20/q40 answer "which PAIRS of documents are near-identical",
  // this answers "how much of THIS document is boilerplate shared with
  // ANY other document" — a doc can be 80% duplicated content without
  // having any single near-duplicate pair partner.
  //
  // Scale shape: per-doc-distinct grams explode as md5 hashes (16 bytes
  // — grams never leave the executor as strings); document frequency is
  // one count aggregation with map-side partials; the join back to
  // per-doc grams is equi-keyed on the hash. Output is one row per
  // document. All counts are exact — md5's 128 bits make collisions
  // implausible at any corpus size (unlike a 64-bit hash, whose birthday
  // bound a 100 TB corpus's ~2^40 distinct grams would actually hit).
  // ---------------------------------------------------------------------
  private val DupGramN = 4

  def q51DupNgramStats(spark: SparkSession, sfDir: String): DataFrame = {
    val grams = Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(trim(col("text")), " +").as("toks"))
      .filter(size(col("toks")) >= DupGramN)
      .select(col("doc_id"), explode(expr(
        s"""array_distinct(transform(sequence(0, size(toks) - $DupGramN),
           |  i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2], ' ', toks[i+3])))"""
          .stripMargin)).as("g"))
      .select(col("doc_id"), md5(col("g")).as("gh"))
    // Grams are per-doc distinct, so count(1) per hash = document
    // frequency. Re-join df to each doc's grams, then collapse per doc.
    val dfreq = grams.groupBy(col("gh")).agg(count(lit(1)).as("df"))
    val perDoc = grams.join(dfreq, "gh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") > 1, 1L).otherwise(0L)).as("n_dup_grams"),
        max(col("df")).as("max_df"))
    Tables.documents(spark, sfDir).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        coalesce(col("max_df"), lit(0L)).as("max_df"),
        when(coalesce(col("n_grams"), lit(0L)) === 0, lit(0.0))
          .otherwise(coalesce(col("n_dup_grams"), lit(0L)).cast("double")
            / col("n_grams")).as("dup_fraction"))
      .orderBy("doc_id")
  }

  /** Oracle counts grams as strings directly — the md5 keying is a Spark
    * shuffle-width optimization, invisible in the result. */
  val q51Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS toks
       |  FROM documents),
       |g AS (
       |  SELECT doc_id,
       |         unnest(list_distinct(
       |           [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
       |            for i in range(1, len(toks) - ${DupGramN - 2})])) AS gram
       |  FROM d WHERE len(toks) >= $DupGramN),
       |dfreq AS (SELECT gram, count(*) AS df FROM g GROUP BY gram),
       |pd AS (
       |  SELECT doc_id, count(*) AS n_grams,
       |         sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS n_dup_grams,
       |         max(df) AS max_df
       |  FROM g JOIN dfreq USING (gram) GROUP BY doc_id)
       |SELECT d2.doc_id,
       |       CAST(COALESCE(pd.n_grams, 0) AS BIGINT) AS n_grams,
       |       CAST(COALESCE(pd.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
       |       CAST(COALESCE(pd.max_df, 0) AS BIGINT) AS max_df,
       |       CASE WHEN COALESCE(pd.n_grams, 0) = 0 THEN 0.0
       |            ELSE CAST(pd.n_dup_grams AS DOUBLE) / pd.n_grams END AS dup_fraction
       |FROM documents d2 LEFT JOIN pd ON d2.doc_id = pd.doc_id
       |ORDER BY d2.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q54 — cross-document exact-substring duplication stats (the signal
  // behind suffix-array substring dedup, Lee et al. 2022, "Deduplicating
  // Training Data Makes Language Models Better": documents sharing a
  // LONG VERBATIM TOKEN RUN with any other document). A suffix array is
  // a single-machine structure; the distributed equivalent is windowed
  // fingerprints: every length-L token window becomes a position-indexed
  // 16-byte md5 key, a window is "shared" iff it occurs in >= 2 DISTINCT
  // documents, and per-document run structure is recovered from the
  // shared positions with two gaps-and-islands passes — (1) consecutive
  // shared window positions -> maximal runs (max_dup_run, in TOKENS:
  // run + L - 1); (2) the runs' token intervals [i0, i1+L-1], merged
  // where overlapping, -> exact duplicated-token coverage. All counts
  // exact; every shuffle carries (doc_id, position, md5) — window TEXT
  // never leaves the executor that read it.
  //
  // vs q51: q51 counts per-doc-DISTINCT 4-gram document frequency (how
  // much of the doc's vocabulary-of-grams is shared); this keeps
  // POSITIONS, so it sees runs — the 50-token verbatim quote q51 smears
  // into a ratio is exactly what max_dup_run reports.
  //
  // Scale shape: the heavy aggregation (count-distinct-docs per window)
  // is two map-side-combinable shuffles of md5 keys; the island passes
  // are per-document window functions over ONLY the shared positions (a
  // small minority in a real corpus). At 100 TB the window length L
  // trades index size for sensitivity exactly as in the paper.
  // ---------------------------------------------------------------------
  private val RunL = 8

  def q54SubstringRuns(spark: SparkSession, sfDir: String): DataFrame = {
    // w is the dominant cost of the whole operator (explode of every
    // L-token window + md5 per window) and has TWO consumers — the df
    // aggregate `nd` and the probe side of `flagged` — so it must be
    // cached or the corpus is tokenized+hashed twice (a 3x driver-bench
    // regression when it wasn't). gh is unhex'd to 16-byte binary: md5's
    // 128 bits are kept for collision-safety at 100 TB, but as hex text
    // the shuffle rows were ~2x wider than the key warrants.
    val w = Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(trim(col("text")), " +").as("toks"))
      .filter(size(col("toks")) >= RunL)
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(0, size(toks) - $RunL),
           |  i -> struct(i AS i,
           |              unhex(md5(array_join(slice(toks, i + 1, $RunL), ' '))) AS gh))"""
          .stripMargin)).as("u"))
      .select(col("doc_id"), col("u.i").as("i"), col("u.gh").as("gh"))
      .cache()
    val nd = w.select(col("gh"), col("doc_id")).distinct()
      .groupBy(col("gh")).agg(count(lit(1)).as("ndocs"))
    val flagged = w.join(nd, "gh").cache()

    val perdoc = flagged.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("ndocs") > 1, 1L).otherwise(0L)).as("n_shared"))

    // Pass 1: consecutive shared positions -> maximal runs.
    val wi = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("i"))
    val runs = flagged.filter(col("ndocs") > 1)
      .select(col("doc_id"), col("i"))
      .withColumn("grp", col("i") - row_number().over(wi))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("i")).as("i0"), max(col("i")).as("i1"))
    val mrun = runs.groupBy(col("doc_id"))
      .agg(max(col("i1") - col("i0") + RunL).as("max_run"))

    // Pass 2: merge overlapping token intervals [i0, i1+L-1] — two runs
    // less than L windows apart cover overlapping tokens, so a plain sum
    // would double-count. Standard running-max interval merge; interval
    // starts are distinct per doc, so the order is total.
    val ws = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("s"))
    val iv = runs
      .select(col("doc_id"), col("i0").as("s"), (col("i1") + RunL - 1).as("e"))
      .withColumn("brk", when(col("s") > coalesce(
          max(col("e")).over(ws.rowsBetween(Long.MinValue, -1)), lit(-1)), 1)
        .otherwise(0))
      .withColumn("mgrp", sum(col("brk")).over(ws))
    val cov = iv.groupBy(col("doc_id"), col("mgrp"))
      .agg(min(col("s")).as("ms"), max(col("e")).as("me"))
      .groupBy(col("doc_id"))
      .agg(sum(col("me") - col("ms") + 1).as("covered"))

    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        size(split(trim(col("text")), " +")).cast("long").as("n_tokens"))
      .join(perdoc, Seq("doc_id"), "left")
      .join(mrun, Seq("doc_id"), "left")
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        coalesce(col("max_run"), lit(0)).cast("long").as("max_dup_run"),
        when(coalesce(col("covered"), lit(0L)) === 0, lit(0.0))
          .otherwise(col("covered").cast("double") / col("n_tokens"))
          .as("dup_coverage"))
      .orderBy("doc_id")
  }

  /** Oracle mirrors both island passes on the window STRINGS directly
    * (the md5 keying is a shuffle-width optimization, invisible in the
    * result). */
  val q54Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS toks
       |  FROM documents),
       |w AS (
       |  SELECT doc_id, u.i AS i, u.g AS g FROM (
       |    SELECT doc_id,
       |           unnest([{'i': i, 'g': array_to_string(toks[i+1 : i+$RunL], ' ')}
       |                   for i in range(0, len(toks) - $RunL + 1)]) AS u
       |    FROM d WHERE len(toks) >= $RunL)),
       |nd AS (SELECT g, count(DISTINCT doc_id) AS ndocs FROM w GROUP BY g),
       |fl AS (SELECT w.doc_id, w.i, nd.ndocs FROM w JOIN nd USING (g)),
       |perdoc AS (
       |  SELECT doc_id, count(*) AS n_windows,
       |         count(CASE WHEN ndocs > 1 THEN 1 END) AS n_shared
       |  FROM fl GROUP BY doc_id),
       |isl AS (
       |  SELECT doc_id, i,
       |         i - CAST(row_number() OVER (PARTITION BY doc_id ORDER BY i) AS BIGINT) AS grp
       |  FROM fl WHERE ndocs > 1),
       |runs AS (
       |  SELECT doc_id, min(i) AS i0, max(i) AS i1 FROM isl GROUP BY doc_id, grp),
       |mrun AS (SELECT doc_id, max(i1 - i0 + $RunL) AS max_run FROM runs GROUP BY doc_id),
       |iv AS (
       |  SELECT doc_id, i0 AS s, i1 + $RunL - 1 AS e,
       |         CASE WHEN i0 > coalesce(max(i1 + $RunL - 1) OVER (
       |                PARTITION BY doc_id ORDER BY i0
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
       |              THEN 1 ELSE 0 END AS brk
       |  FROM runs),
       |mg AS (
       |  SELECT doc_id, s, e,
       |         sum(brk) OVER (PARTITION BY doc_id ORDER BY s) AS mgrp
       |  FROM iv),
       |cov AS (
       |  SELECT doc_id, sum(me - ms + 1) AS covered
       |  FROM (SELECT doc_id, mgrp, min(s) AS ms, max(e) AS me
       |        FROM mg GROUP BY doc_id, mgrp)
       |  GROUP BY doc_id)
       |SELECT d2.doc_id,
       |       CAST(len(regexp_split_to_array(trim(d2.text), ' +')) AS BIGINT) AS n_tokens,
       |       CAST(coalesce(p.n_windows, 0) AS BIGINT) AS n_windows,
       |       CAST(coalesce(p.n_shared, 0) AS BIGINT) AS n_shared,
       |       CAST(coalesce(m.max_run, 0) AS BIGINT) AS max_dup_run,
       |       CASE WHEN coalesce(c.covered, 0) = 0 THEN 0.0
       |            ELSE CAST(c.covered AS DOUBLE)
       |                 / len(regexp_split_to_array(trim(d2.text), ' +'))
       |       END AS dup_coverage
       |FROM documents d2
       |LEFT JOIN perdoc p ON d2.doc_id = p.doc_id
       |LEFT JOIN mrun m ON d2.doc_id = m.doc_id
       |LEFT JOIN cov c ON d2.doc_id = c.doc_id
       |ORDER BY d2.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q52 — incremental corpus dedup: the admission gate of a CONTINUOUSLY
  // INGESTING pipeline. The corpus is split deterministically into an
  // EXISTING index side (doc_id % 5 != 0) and an INCOMING batch
  // (doc_id % 5 == 0); each incoming document gets a verdict, first
  // match wins:
  //   exact_corpus    — byte-identical text already in the corpus
  //   exact_batch     — byte-identical to a smaller-id incoming doc
  //                     (first occurrence in the batch is admitted)
  //   near_dup_corpus — trigram Jaccard >= 0.5 with ANY existing doc
  //   admitted        — otherwise
  // Batch-internal NEAR-dup resolution is deliberately out of scope:
  // that is a transitive-group decision (q46's component job), while
  // this operator models the index-lookup path a streaming ingest takes
  // per batch.
  //
  // Scale shape: the asymmetric variant of q40's exact prefix-filter
  // join — the prefix theorem (jaccard(A,B) >= θ forces the rarest-first
  // prefixes to intersect) is side-agnostic, so candidates come from an
  // inverted-index equi-join of INCOMING prefixes against EXISTING
  // prefixes only; the batch side of the join is a ~1/5 slice (at 100 TB
  // an incremental batch is a far smaller fraction still, and the
  // existing side's postings are the precomputed persistent index).
  // Exact checks shuffle 16-byte md5 keys, never text. Verification is
  // q40's two-stage shape (sorted-hash merge prefilter, then exact
  // string Jaccard), so the output equals the brute-force oracle.
  // ---------------------------------------------------------------------
  private val IncomingMod = 5

  /** (doc_id, sh, hs, sz) trigram-shingle projection shared by the
    * near-dup layers: distinct trigram strings, their sorted xxhash64
    * array (the SortedHashJaccard prefilter input), and the set size. */
  private[graft] def shingleDocs(base: DataFrame): DataFrame =
    base.select(col("doc_id"), split(trim(col("text")), " +").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), expr(
        """array_distinct(transform(sequence(0, size(toks) - 3),
          |  i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])))"""
          .stripMargin).as("sh"))
      .select(col("doc_id"), col("sh"),
        expr("array_sort(transform(sh, s -> xxhash64(s)))").as("hs"),
        size(col("sh")).as("sz"))

  /** One (doc_id, sz, h) row per PREFIX shingle hash, prefixes taken
    * rarest-first under the (df, h) total order supplied by `dfreq`.
    * Shingles absent from dfreq order as df = 0 (rarest) — exactness
    * only needs BOTH join sides to use the SAME total order, so a df
    * table maintained over the index side alone is as valid as
    * whole-corpus df. */
  private[graft] def prefixRows(docs: DataFrame, dfreq: DataFrame): DataFrame = {
    val t = JaccardThreshold
    docs.select(col("doc_id"), col("sz"), explode(col("hs")).as("h"))
      .join(dfreq, Seq("h"), "left")
      .select(col("doc_id"), col("sz"), col("h"),
        coalesce(col("df"), lit(0L)).as("df"))
      .groupBy(col("doc_id"), col("sz"))
      .agg(collect_list(struct(col("df"), col("h"))).as("dhs"))
      .select(col("doc_id"), col("sz"), explode(expr(
        s"slice(array_sort(dhs), 1, sz - CAST(ceil($t * sz) AS INT) + 1).h"))
        .as("h"))
  }

  /** Prefix-collision candidates (la vs rb) verified in the two-stage
    * q40 shape: sorted-hash merge prefilter, then exact string Jaccard.
    * Returns distinct left-side doc_ids with a verified near-dup.
    *
    * `broadcastLeft` marks the LEFT (la/docsA) side as batch-sized —
    * the q58 probe shape, where la is one streaming micro-batch probing
    * a PERSISTENT corpus index (rb/docsB, cached). Without the hints the
    * batch side's size is opaque to Catalyst (it descends from a
    * foreachBatch frame), the joins plan sort-merge, and every trigger
    * re-shuffles and re-sorts the CORPUS-side cached frames — the
    * measured per-trigger floor of q58. With the hints every join
    * builds on the batch side and the corpus frames stream straight out
    * of the cache, exchange-free (guide §3.1: broadcast the side you
    * KNOW is small when estimates can't see it). q52's whole-batch gate
    * keeps the default: there the left side is a 1/5-corpus slice, not
    * a micro-batch, and broadcasting it is not cluster-sane. */
  private[graft] def verifiedNearIds(la: DataFrame, rb: DataFrame,
      docsA: DataFrame, docsB: DataFrame,
      broadcastLeft: Boolean = false): DataFrame = {
    val t = JaccardThreshold
    def bl(df: DataFrame): DataFrame = if (broadcastLeft) broadcast(df) else df
    val cands = bl(la).as("l").join(rb.as("r"),
        col("l.h") === col("r.h") &&
          greatest(col("l.sz"), col("r.sz")) * t <=
            least(col("l.sz"), col("r.sz")))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .distinct()
    // Verification stays TWO-STAGE in both shapes — an r14 experiment
    // collapsed the probe path into one sh+hs-carrying join and lost
    // ~20%: the broadcast side then ships every candidate's full string
    // shingle array per trigger, where the staged shape broadcasts the
    // 8-byte hash arrays first and touches strings only for
    // hash-prefilter survivors.
    val ha = docsA.select(col("doc_id").as("doc_a"), col("hs").as("hs_a"))
    val hb = docsB.select(col("doc_id").as("doc_b"), col("hs").as("hs_b"))
    val hashPass = bl(cands.join(bl(ha), "doc_a")).join(hb, "doc_b")
      .filter(graft.functions.GraftFunctions
        .sortedHashJaccard(col("hs_a"), col("hs_b")) >= t)
      .select(col("doc_a"), col("doc_b"))
    val a = docsA.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = docsB.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    bl(hashPass.join(bl(a), "doc_a")).join(b, "doc_b")
      .filter(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
        / size(array_union(col("sh_a"), col("sh_b"))) >= t)
      .select(col("doc_a").as("doc_id")).distinct()
  }

  /** Near-dup layer of the batch gate (q52): incoming doc_ids with
    * trigram Jaccard >= θ against ANY existing doc. `base` must carry
    * (doc_id, text, inc boolean); df spans the whole base. */
  private[graft] def nearIncomingHits(base: DataFrame): DataFrame = {
    val docsIn = shingleDocs(base.filter(col("inc"))
      .select(col("doc_id"), col("text"))).cache()
    val docsEx = shingleDocs(base.filter(!col("inc"))
      .select(col("doc_id"), col("text"))).cache()
    val dfreq = docsIn.unionAll(docsEx)
      .select(explode(col("hs")).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
    verifiedNearIds(
      prefixRows(docsIn, dfreq), prefixRows(docsEx, dfreq), docsIn, docsEx)
  }

  /** Persistent near-dup index over an EXISTING corpus, probed batch by
    * batch (the q58 streaming-admission shape): shingles, df stats, and
    * prefix rows are computed ONCE and cached — a probe touches only the
    * incoming batch plus the inverted-index equi-join. df comes from the
    * index side alone (see prefixRows: any consistent total order is
    * exact), which is precisely the statistic a persistent index can
    * actually maintain without seeing the future.
    *
    * `partitions` is the probing stream's state partition count: the
    * index's df table is laid out in that many h-hashed, h-sorted
    * cached partitions so that, once df outgrows the broadcast
    * threshold, the per-trigger prefix-order join reuses the cache's
    * partitioning+ordering — the batch side is then the ONLY side
    * exchanged per trigger. */
  private[graft] final class NearDupIndex(existing: DataFrame, partitions: Int) {
    val docsEx: DataFrame = shingleDocs(existing).cache()
    // df is joined on h every trigger as the build side of a left join,
    // so with AQE off the static planner broadcasts it afresh every
    // trigger whenever it fits spark.sql.autoBroadcastJoinThreshold.
    // Above the threshold the join runs sort-merge, and this layout
    // applies: pre-partitioned AND pre-sorted on the join key, the
    // cached side is read exchange-free and sort-free (guide §2.4 — two
    // operations keyed the same way share one exchange; here the
    // exchange is paid once at index build).
    val dfreq: DataFrame = docsEx.select(explode(col("hs")).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
      .repartition(partitions, col("h")).sortWithinPartitions("h")
      .cache()
    val prefixesEx: DataFrame = prefixRows(docsEx, dfreq).cache()

    /** doc_ids of `incoming` with a verified near-dup in the index.
      * The incoming micro-batch rides the BROADCAST side of every
      * verification join (see verifiedNearIds' broadcastLeft note), so
      * the corpus-sized cached frames are scanned, never re-shuffled,
      * per trigger. */
    def probe(incoming: DataFrame): DataFrame = {
      val docsIn = shingleDocs(incoming)
      verifiedNearIds(prefixRows(docsIn, dfreq), prefixesEx, docsIn, docsEx,
        broadcastLeft = true)
    }

    /** Release the cached index frames. Call when the probing stream
      * stops — the index's lifetime is the stream's, not the session's. */
    def close(): Unit = {
      prefixesEx.unpersist()
      dfreq.unpersist()
      docsEx.unpersist()
    }
  }

  /** Core over any (doc_id long, text string) frame — exposed so the
    * spec can inject exact duplicates (the gate corpus has none). */
  private[graft] def incrementalDedup(base: DataFrame): DataFrame = {
    val inc = pmod(col("doc_id"), lit(IncomingMod)) === 0
    val marked = base.withColumn("inc", inc)

    // Exact layer: content-hash equi-joins, 16-byte keys.
    val hashed = marked.select(col("doc_id"), col("inc"),
      md5(col("text")).as("ch"))
    val existingH = hashed.filter(!col("inc"))
      .select(col("ch")).distinct().withColumn("hit_corpus", lit(true))
    val incoming = hashed.filter(col("inc"))
    val firstInBatch = incoming.groupBy(col("ch"))
      .agg(min(col("doc_id")).as("first_id"))
    val exactFlags = incoming
      .join(existingH, Seq("ch"), "left")
      .join(firstInBatch, "ch")
      .select(col("doc_id"),
        coalesce(col("hit_corpus"), lit(false)).as("exact_corpus"),
        (col("doc_id") > col("first_id")).as("exact_batch"))

    val nearDup = nearIncomingHits(marked)
      .withColumn("near_corpus", lit(true))

    exactFlags.join(nearDup, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("exact_corpus"), "exact_corpus")
          .when(col("exact_batch"), "exact_batch")
          .when(coalesce(col("near_corpus"), lit(false)), "near_dup_corpus")
          .otherwise("admitted").as("verdict"))
      .orderBy("doc_id")
  }

  def q52IncrementalDedup(spark: SparkSession, sfDir: String): DataFrame =
    incrementalDedup(Tables.documents(spark, sfDir).select("doc_id", "text"))

  /** Brute force on both layers: text equality for the exact verdicts,
    * all incoming x existing trigram Jaccard for the near-dup verdict —
    * equality with the prefix-filtered join is the exactness guarantee. */
  val q52Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, text, doc_id % $IncomingMod = 0 AS inc FROM documents),
       |t AS (
       |  SELECT doc_id, inc,
       |         list_distinct(CASE WHEN len(toks) >= 3
       |           THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
       |                 for i in range(1, len(toks) - 1)]
       |           ELSE [] END) AS sh
       |  FROM (SELECT doc_id, inc, regexp_split_to_array(trim(text), ' +') AS toks
       |        FROM d)),
       |exact_corpus AS (
       |  SELECT DISTINCT i.doc_id FROM d i JOIN d e
       |    ON i.inc AND NOT e.inc AND i.text = e.text),
       |exact_batch AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS first_id
       |    FROM d WHERE inc)
       |  WHERE doc_id > first_id),
       |near AS (
       |  SELECT DISTINCT i.doc_id FROM t i JOIN t e
       |    ON i.inc AND NOT e.inc
       |  WHERE len(i.sh) > 0 AND len(e.sh) > 0
       |    AND CAST(len(list_intersect(i.sh, e.sh)) AS DOUBLE)
       |          / len(list_distinct(list_concat(i.sh, e.sh))) >= ${JaccardThreshold})
       |SELECT d.doc_id,
       |       CASE WHEN d.doc_id IN (SELECT doc_id FROM exact_corpus) THEN 'exact_corpus'
       |            WHEN d.doc_id IN (SELECT doc_id FROM exact_batch) THEN 'exact_batch'
       |            WHEN d.doc_id IN (SELECT doc_id FROM near) THEN 'near_dup_corpus'
       |            ELSE 'admitted' END AS verdict
       |FROM d WHERE d.inc
       |ORDER BY d.doc_id""".stripMargin

  /** Brute-force oracle: exact trigram Jaccard >= 0.5 over all pairs —
    * equality (not approximation) is the prefix-filter guarantee. */
  val q40Sql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |         list_distinct(CASE WHEN len(toks) >= 3
      |           THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
      |                 for i in range(1, len(toks) - 1)]
      |           ELSE [] END) AS sh
      |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS toks
      |        FROM documents))
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |       CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |         / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
      |FROM t a JOIN t b ON a.doc_id < b.doc_id
      |WHERE len(a.sh) > 0 AND len(b.sh) > 0
      |  AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |        / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------------
  // q68 — block-level (paragraph) exact dedup with document reassembly:
  // the C4/RefinedWeb line-dedup recipe. Each document is cut into
  // consecutive BlockB-token blocks ("paragraphs" — this corpus has no
  // newlines, so block boundaries are positional); a block is kept only
  // at its corpus-wide FIRST occurrence (min (doc_id, block_idx)) and
  // every later copy is dropped; the surviving blocks are re-stitched in
  // position order into the scrubbed document. Unlike q15 (whole-doc) or
  // q54 (overlapping windows — a REPORT of duplication), this is the
  // MUTATING sub-document dedup: the output is a new, shorter corpus.
  //
  // Scale shape: the dedup key is the 16-byte md5 of the block — the
  // first-occurrence window shuffles (hash, doc_id, bidx), never text;
  // the reassembly groupBy shuffles only SURVIVING blocks, keyed on
  // doc_id. Per-doc block counts are bounded (docs/BlockB blocks), so
  // the collect_list is document-sized — the same bound any
  // text-rewriting operator carries. Two shuffles total; the window
  // min is a partial-aggregable first-wins (no skew: block-hash keys
  // are uniform).
  // ---------------------------------------------------------------------
  private[graft] val BlockB = 8 // tokens per dedup block

  def q68BlockDedup(spark: SparkSession, sfDir: String): DataFrame = {
    // One row per (doc, block): bidx, block text, 16-byte block hash.
    val blocks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(trim(col("text")), " +").as("toks"))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, cast(ceil(size(toks) / $BlockB.0) as int) - 1),
           |  b -> array_join(slice(toks, b * $BlockB + 1, $BlockB), ' '))"""
          .stripMargin)).as(Seq("bidx", "block")))
      .withColumn("bh", unhex(md5(col("block"))))
    // First occurrence wins, corpus-wide.
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("bh"))
      .orderBy(col("doc_id"), col("bidx"))
    val kept = blocks
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("bidx"), col("block")))),
          s => s.getField("block")), " ")).as("kept_fp"))
    val nb = blocks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_blocks"))
    nb.join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_blocks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"), col("kept_fp"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------------
  // q76 — boilerplate block scrub by corpus frequency: the OTHER half of
  // the C4/RefinedWeb line-dedup recipe. q68 keeps the FIRST occurrence
  // of a repeated block; boilerplate removal drops EVERY occurrence of a
  // block that appears in >= MinDocsBoiler distinct documents (nav bars,
  // cookie banners, license headers — text that is common because it is
  // template, not content). The two compose: production pipelines run
  // boilerplate-scrub first, then first-wins dedup on what remains.
  //
  // Scale shape: same key discipline as q68/q51 — the frequency count
  // groups on the 16-byte block md5 (partial-aggregable countDistinct on
  // doc_id), the verdict is a join back on that same hash (never text),
  // and reassembly shuffles only surviving blocks keyed by doc_id. The
  // boilerplate set is tiny (template blocks) but the join stays
  // hash-keyed rather than broadcast so the plan survives a corpus where
  // 10% of blocks are template — the optimizer may still choose to
  // broadcast the counted side when stats say it is small.
  // ---------------------------------------------------------------------
  private[graft] val MinDocsBoiler = 3 // distinct docs => template block

  def q76BoilerplateScrub(spark: SparkSession, sfDir: String): DataFrame = {
    val blocks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(trim(col("text")), " +").as("toks"))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, cast(ceil(size(toks) / $BlockB.0) as int) - 1),
           |  b -> array_join(slice(toks, b * $BlockB + 1, $BlockB), ' '))"""
          .stripMargin)).as(Seq("bidx", "block")))
      .withColumn("bh", unhex(md5(col("block"))))
      .cache() // feeds the frequency count AND the verdict join
    val freq = blocks.groupBy(col("bh"))
      .agg(countDistinct(col("doc_id")).as("ndocs"))
    val kept = blocks.join(freq, Seq("bh"))
      .filter(col("ndocs") < MinDocsBoiler)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("bidx"), col("block")))),
          s => s.getField("block")), " ")).as("kept_fp"))
    val nb = blocks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_blocks"))
    nb.join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_blocks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"), col("kept_fp"))
      .orderBy("doc_id")
  }

  val q76Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS toks
       |  FROM documents),
       |b AS (
       |  SELECT doc_id, u.bidx, u.block FROM (
       |    SELECT doc_id,
       |           unnest([{'bidx': bi, 'block': array_to_string(
       |                      toks[bi*$BlockB+1 : least((bi+1)*$BlockB, len(toks))], ' ')}
       |                   for bi in range(0, CAST(ceil(len(toks)/$BlockB.0) AS INT))]) AS u
       |    FROM d)),
       |f AS (
       |  SELECT md5(block) AS h, count(DISTINCT doc_id) AS ndocs
       |  FROM b GROUP BY 1),
       |kept AS (
       |  SELECT doc_id, count(*) AS n_kept,
       |         md5(string_agg(block, ' ' ORDER BY bidx)) AS kept_fp
       |  FROM b JOIN f ON md5(b.block) = f.h
       |  WHERE f.ndocs < $MinDocsBoiler GROUP BY doc_id),
       |nb AS (SELECT doc_id, count(*) AS n_blocks FROM b GROUP BY doc_id)
       |SELECT nb.doc_id, nb.n_blocks,
       |       coalesce(kept.n_kept, 0) AS n_kept, kept.kept_fp
       |FROM nb LEFT JOIN kept USING (doc_id)
       |ORDER BY nb.doc_id""".stripMargin

  val q68Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS toks
       |  FROM documents),
       |b AS (
       |  SELECT doc_id, u.bidx, u.block FROM (
       |    SELECT doc_id,
       |           unnest([{'bidx': bi, 'block': array_to_string(
       |                      toks[bi*$BlockB+1 : least((bi+1)*$BlockB, len(toks))], ' ')}
       |                   for bi in range(0, CAST(ceil(len(toks)/$BlockB.0) AS INT))]) AS u
       |    FROM d)),
       |k AS (
       |  SELECT doc_id, bidx, block,
       |         row_number() OVER (PARTITION BY md5(block)
       |                            ORDER BY doc_id, bidx) AS rk
       |  FROM b),
       |kept AS (
       |  SELECT doc_id, count(*) AS n_kept,
       |         md5(string_agg(block, ' ' ORDER BY bidx)) AS kept_fp
       |  FROM k WHERE rk = 1 GROUP BY doc_id),
       |nb AS (SELECT doc_id, count(*) AS n_blocks FROM b GROUP BY doc_id)
       |SELECT nb.doc_id, nb.n_blocks,
       |       coalesce(kept.n_kept, 0) AS n_kept, kept.kept_fp
       |FROM nb LEFT JOIN kept USING (doc_id)
       |ORDER BY nb.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q87 — FUZZY decontamination: train-split documents that are
  // NEAR-duplicates (trigram-shingle Jaccard >= 0.8) of any eval-split
  // document. q41's exact n-gram overlap catches verbatim leakage; this
  // catches lightly-edited copies of eval material inside the training
  // split — the standard companion check in LLM data pipelines. Splits
  // are q36's deterministic content-hash buckets: train (< 90) vs the
  // whole held-out 10% (validation + test, >= 90).
  //
  // Scale shape — ASYMMETRIC banded LSH, the same S-curve as q20 but
  // train-vs-eval instead of self-join: both sides project to
  // (doc_id, band, bandhash) rows of three longs; the bucket equi-join's
  // build side is the held-out split (~10% of the corpus), so the shuffle is
  // bounded by the small side and candidate volume by the S-curve
  // (b=16, r=2: J>=0.8 caught with p ~= 1-1e-7 — the exact-verify output
  // equals the brute-force oracle). Documents are re-read only to verify
  // the rare candidates, keyed by id.
  // ---------------------------------------------------------------------
  def q87CrossSplitNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    val bucket = (conv(substring(md5(col("text")), 1, 8), 16, 10)
      .cast("long") % 100).as("bucket")
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), bucket, split(trim(col("text")), " +").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), col("bucket"), expr(
        """array_distinct(transform(sequence(0, size(toks) - 3),
          |  i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])))""".stripMargin)
        .as("sh"))
      .cache()

    val bands = docs
      .select(col("doc_id"), col("bucket"),
        expr("transform(sh, s -> xxhash64(s))").as("hs"))
      .select(col("doc_id"), col("bucket"),
        expr(s"""transform(sequence(0, ${NumHashes - 1}),
                 |  i -> array_min(transform(hs, h -> xxhash64(h, i))))""".stripMargin)
          .as("sig"))
      .select(col("doc_id"), col("bucket"),
        explode(expr(
          s"""transform(sequence(0, ${Bands - 1}),
             |  b -> struct(b AS band, xxhash64(sig[2*b], sig[2*b+1], b) AS bh))""".stripMargin))
          .as("e"))
      .select(col("doc_id"), col("bucket"),
        col("e.band").as("band"), col("e.bh").as("bh"))
      .cache()

    val train = bands.filter(col("bucket") < 90)
      .select(col("doc_id").as("doc_train"), col("band"), col("bh"))
    val eval_ = bands.filter(col("bucket") >= 90)
      .select(col("doc_id").as("doc_eval"), col("band"), col("bh"))
    val cands = train.join(eval_, Seq("band", "bh"))
      .select(col("doc_train"), col("doc_eval")).distinct()

    val a = docs.filter(col("bucket") < 90)
      .select(col("doc_id").as("doc_train"), col("sh").as("sh_a"))
    val b = docs.filter(col("bucket") >= 90)
      .select(col("doc_id").as("doc_eval"), col("sh").as("sh_b"))
    cands.join(a, "doc_train").join(b, "doc_eval")
      .select(col("doc_train"), col("doc_eval"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
          / size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
      .filter(col("jaccard") >= Threshold)
      .orderBy("doc_train", "doc_eval")
  }

  /** Brute-force train-x-eval Jaccard — exact because the LSH miss
    * probability at J >= 0.8 is ~1e-7 (same argument as q20). */
  val q87Sql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |         CAST(('0x' || substr(md5(text), 1, 8))::BIGINT AS BIGINT) % 100 AS bucket,
      |         list_distinct(CASE WHEN len(toks) >= 3
      |           THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
      |                 for i in range(1, len(toks) - 1)]
      |           ELSE [] END) AS sh
      |  FROM (SELECT doc_id, text, regexp_split_to_array(trim(text), ' +') AS toks
      |        FROM documents)
      |  WHERE len(regexp_split_to_array(trim(text), ' +')) >= 3)
      |SELECT a.doc_id AS doc_train, b.doc_id AS doc_eval,
      |       CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |         / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
      |FROM t a JOIN t b ON a.bucket < 90 AND b.bucket >= 90
      |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |        / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8
      |ORDER BY doc_train, doc_eval""".stripMargin

  // ---------------------------------------------------------------------
  // q228 — cross-split PARAGRAPH contamination: q87's fuzzy decontam at
  // q68's block granularity, closing the train/eval-leakage story at
  // every granularity (q41 exact doc 4-grams, q87 fuzzy whole-doc, q190
  // exact spans, q162 paragraph near-dup WITHIN the corpus — this is
  // fuzzy paragraph leakage ACROSS the split boundary, the unit a
  // lightly-edited benchmark quote actually leaks at).
  //
  // Semantics (exact, not approximate): a train-split paragraph is
  // contaminated by an eval-split paragraph when the two FULL 8-token
  // blocks agree on >= 7 of 8 aligned token positions (token-level
  // Hamming distance <= 1 — one word swapped/typo'd). Candidate
  // generation is the PIGEONHOLE half-split: Hamming <= 1 over 8 aligned
  // positions forces AT LEAST ONE untouched 4-token half, so equi-joins
  // on md5(half1) UNION md5(half2) form a COMPLETE candidate set — the
  // q97 FastSS / q192 banded-Hamming argument at paragraph scale, and
  // the brute-force oracle equals the output exactly (no S-curve tail).
  //
  // Scale shape: blocks project per-row (no shuffle); both equi-joins
  // key on a 16-byte half-hash with the EVAL side (~10% of the corpus)
  // as build side; candidate volume is bounded by genuine shared-half
  // evidence (boilerplate halves surface as candidates — which is the
  // point); positionwise verify runs on candidates only. No cross
  // product anywhere (plan-gated in PlanSpec).
  // ---------------------------------------------------------------------
  def q228ParaContam(spark: SparkSession, sfDir: String): DataFrame = {
    val bucket = (conv(substring(md5(col("text")), 1, 8), 16, 10)
      .cast("long") % 100).as("bucket")
    // FULL 8-token blocks only: the >= 7-of-8 aligned-position semantics
    // needs equal-length aligned windows; q68's ragged tail block is a
    // different (exact-hash) regime already covered there.
    val blocks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), bucket, split(trim(col("text")), " +").as("toks"))
      .filter(size(col("toks")) >= BlockB)
      .select(col("doc_id"), col("bucket"), posexplode(expr(
        s"""transform(sequence(0, size(toks) div $BlockB - 1),
           |  b -> slice(toks, b * $BlockB + 1, $BlockB))""".stripMargin))
        .as(Seq("bidx", "bt")))
      .withColumn("h1", unhex(md5(array_join(slice(col("bt"), 1, 4), " "))))
      .withColumn("h2", unhex(md5(array_join(slice(col("bt"), 5, 4), " "))))
      .cache() // feeds both half-joins and the verify join-back

    val train = blocks.filter(col("bucket") < 90)
      .select(col("doc_id").as("doc_train"), col("bidx").as("bidx_train"),
        col("h1"), col("h2"))
    val ev = blocks.filter(col("bucket") >= 90)
      .select(col("doc_id").as("doc_eval"), col("bidx").as("bidx_eval"),
        col("h1"), col("h2"))
    val cands = train.select(col("doc_train"), col("bidx_train"), col("h1"))
      .join(ev.select(col("doc_eval"), col("bidx_eval"), col("h1")), "h1")
      .select(col("doc_train"), col("bidx_train"),
        col("doc_eval"), col("bidx_eval"))
      .union(train.select(col("doc_train"), col("bidx_train"), col("h2"))
        .join(ev.select(col("doc_eval"), col("bidx_eval"), col("h2")), "h2")
        .select(col("doc_train"), col("bidx_train"),
          col("doc_eval"), col("bidx_eval")))
      .distinct()

    // Verify on candidates only: re-join the token arrays by block key
    // (at 100 TB the arrays live with the block index, keyed — never a
    // corpus re-shuffle per candidate).
    val ta = blocks.select(col("doc_id").as("doc_train"),
      col("bidx").as("bidx_train"), col("bt").as("bt_a"))
    val tb = blocks.select(col("doc_id").as("doc_eval"),
      col("bidx").as("bidx_eval"), col("bt").as("bt_b"))
    cands.join(ta, Seq("doc_train", "bidx_train"))
      .join(tb, Seq("doc_eval", "bidx_eval"))
      .withColumn("n_match", expr(
        """aggregate(zip_with(bt_a, bt_b,
          |  (x, y) -> CASE WHEN x = y THEN 1L ELSE 0L END),
          |  0L, (acc, v) -> acc + v)""".stripMargin))
      .filter(col("n_match") >= BlockB - 1)
      .select(col("doc_train"), col("bidx_train").cast("long").as("bidx_train"),
        col("doc_eval"), col("bidx_eval").cast("long").as("bidx_eval"),
        col("n_match"),
        (col("n_match") === BlockB).cast("boolean").as("verbatim"))
      .orderBy("doc_train", "bidx_train", "doc_eval", "bidx_eval")
  }

  /** Brute-force train-block x eval-block aligned-Hamming oracle —
    * EQUALITY with the half-split candidate path is the pigeonhole
    * completeness guarantee, not an approximation bound. */
  val q228Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |         CAST(('0x' || substr(md5(text), 1, 8))::BIGINT AS BIGINT) % 100 AS bucket,
       |         regexp_split_to_array(trim(text), ' +') AS toks
       |  FROM documents),
       |b AS (
       |  SELECT doc_id, bucket, (u).bi AS bidx, (u).bt AS bt FROM (
       |    SELECT doc_id, bucket,
       |           unnest([{'bi': bi, 'bt': toks[bi*$BlockB+1 : (bi+1)*$BlockB]}
       |                   for bi in range(0, len(toks) // $BlockB)]) AS u
       |    FROM d WHERE len(toks) >= $BlockB))
       |SELECT a.doc_id AS doc_train, CAST(a.bidx AS BIGINT) AS bidx_train,
       |       e.doc_id AS doc_eval, CAST(e.bidx AS BIGINT) AS bidx_eval,
       |       CAST(len([i FOR i IN range(1, ${BlockB + 1})
       |                 IF a.bt[i] = e.bt[i]]) AS BIGINT) AS n_match,
       |       len([i FOR i IN range(1, ${BlockB + 1})
       |            IF a.bt[i] = e.bt[i]]) = $BlockB AS verbatim
       |FROM b a JOIN b e ON a.bucket < 90 AND e.bucket >= 90
       |WHERE len([i FOR i IN range(1, ${BlockB + 1})
       |           IF a.bt[i] = e.bt[i]]) >= ${BlockB - 1}
       |ORDER BY doc_train, bidx_train, doc_eval, bidx_eval""".stripMargin

  // ---------------------------------------------------------------------
  // q97 — spelling-variant detection over a value vocabulary: all pairs
  // of distinct part names within Levenshtein distance <= 2, with each
  // side's part count (the normalization decision — which variant is the
  // canonical spelling — keys off frequency). The record-linkage /
  // entity-resolution primitive, and the value-cleanup step a curation
  // pipeline runs over categorical columns before grouping on them.
  //
  // Blocking: the naive plan is a vocab x vocab cross join with a
  // levenshtein predicate — O(V^2) comparisons, the plan that never
  // finishes once the vocabulary is real (100 TB of text -> 10^7-10^8
  // distinct values). This uses the FastSS deletion neighborhood
  // (Bocek et al., "Fast Similarity Search in Large Dictionaries", 2007):
  // if ed(a, b) <= d then deleting the <= d edited positions from each
  // string yields a COMMON variant, so generating every <= 2-deletion
  // variant per name and equi-joining on the variant's hash is a
  // COMPLETE candidate generator for d = 2 — no false negatives, exact
  // levenshtein verify on the (rare) candidates. Cost shape:
  //  - variants are a pure per-row projection (higher-order functions,
  //    no UDF): O(len^2) ~ tens of variants per vocab entry;
  //  - the only shuffles are the vocab aggregate (vocab-sized) and the
  //    variant equi-join keyed on an md5 prefix (16 bytes + name);
  //  - verification is levenshtein on candidate pairs only.
  // The vocabulary aggregate itself partial-aggregates map-side, so the
  // corpus-sized input shuffles only its distinct values.
  // ---------------------------------------------------------------------
  private[graft] val FuzzyMaxDist = 2

  def q97FuzzyVocabJoin(spark: SparkSession, sfDir: String): DataFrame = {
    // vocab: distinct names + frequency (partial agg; vocab-sized).
    val vocab = Tables.part(spark, sfDir)
      .groupBy(col("p_name")).agg(count(lit(1)).as("n_parts"))
    // <=2-deletion neighborhood as one projection. d1 enumerates every
    // 1-deletion variant; d2 applies d1 again and flattens. The name
    // itself (0 deletions) is included so ed<=2 pairs of unequal length
    // still meet (e.g. pure-insertion edits: a's 0-del variant equals
    // b's 2-del variant).
    val d1 = expr(
      """transform(sequence(1, length(p_name)),
        |  i -> concat(substring(p_name, 1, i - 1),
        |              substring(p_name, i + 1, length(p_name))))""".stripMargin)
    val variants = vocab
      .withColumn("d1", d1)
      .withColumn("vs", array_distinct(concat(
        array(col("p_name")), col("d1"),
        flatten(expr(
          """transform(d1, v -> transform(sequence(1, length(v)),
            |  j -> concat(substring(v, 1, j - 1),
            |              substring(v, j + 1, length(v)))))""".stripMargin)))))
      .select(col("p_name"), col("n_parts"),
        explode(col("vs")).as("variant"))
      .select(col("p_name"), col("n_parts"),
        unhex(md5(col("variant"))).as("vh"))
      .distinct()
    // Candidate pairs: same deletion variant, ordered to dedup the
    // symmetric join; exact verify with the threshold-capped
    // levenshtein (stops the DP early once the cap is exceeded).
    val a = variants.select(col("p_name").as("name_a"),
      col("n_parts").as("n_a"), col("vh"))
    val b = variants.select(col("p_name").as("name_b"),
      col("n_parts").as("n_b"), col("vh"))
    a.join(b, Seq("vh"))
      .filter(col("name_a") < col("name_b"))
      .select("name_a", "name_b", "n_a", "n_b").distinct()
      .withColumn("dist",
        levenshtein(col("name_a"), col("name_b"), FuzzyMaxDist)
          .cast("long"))
      .filter(col("dist") >= 0 && col("dist") <= FuzzyMaxDist)
      .select(col("name_a"), col("name_b"), col("dist"),
        col("n_a"), col("n_b"))
      .orderBy("name_a", "name_b")
  }

  val q97Sql: String =
    s"""WITH v AS (
       |  SELECT p_name, COUNT(*) AS n_parts FROM part GROUP BY p_name)
       |SELECT a.p_name AS name_a, b.p_name AS name_b,
       |       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
       |       a.n_parts AS n_a, b.n_parts AS n_b
       |FROM v a JOIN v b ON a.p_name < b.p_name
       |WHERE levenshtein(a.p_name, b.p_name) <= $FuzzyMaxDist
       |ORDER BY name_a, name_b""".stripMargin

  // ---------------------------------------------------------------------
  // q162 — paragraph-level NEAR-dup drop list: the curation granularity
  // between q15/q20 (whole document) and q54 (intra-doc substring runs):
  // cross-document duplicated PARAGRAPHS — boilerplate-adjacent
  // passages, quoted blocks, lightly edited mirrors — that whole-doc
  // Jaccard dilutes below its threshold (two long docs sharing one
  // paragraph score ~0 at doc granularity). Units are q68's positional
  // blocks widened to ParaTok=32 tokens (this corpus has no newlines, so
  // paragraph boundaries are positional); each unit shingles its word
  // trigrams and q20's banded MinHash runs UNCHANGED at unit
  // granularity — same S-curve (miss ~1e-7 at J >= 0.8), same
  // exact-verify discipline. A unit is DROPPED iff some verified
  // near-dup unit precedes it in (doc_id, para_idx) order — q68's
  // first-wins rule lifted from exact to near-dup; the output is the
  // (doc_id, para_idx, n_earlier_dups) drop list a rewrite job applies.
  //
  // Scale shape: identical to q20 — shingling/signatures/banding are
  // pure per-row projections; the only shuffles carry (band, bh, uid)
  // longs; verification re-joins only the rare candidate units. The
  // unit id packs (doc_id, para_idx) into ONE long (para_idx < 2^20,
  // i.e. docs under ~33M tokens — far beyond any real document) so the
  // pair inequality, the distinct, and the verify joins all stay
  // single-long comparisons; the pack preserves (doc_id, para_idx)
  // lexicographic order, which is what "earlier" means here.
  // ---------------------------------------------------------------------
  private[graft] val ParaTok = 32  // tokens per paragraph unit
  private val PIdxCap = 1L << 20   // para_idx slots per doc in the packed id

  def q162ParaDedup(spark: SparkSession, sfDir: String): DataFrame = {
    // One row per (doc, paragraph) with >= 3 tokens: packed uid +
    // distinct trigram shingles. Cached: feeds signatures AND both
    // sides of the exact verify.
    val units = Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(trim(col("text")), " +").as("toks"))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, cast(ceil(size(toks) / $ParaTok.0) as int) - 1),
           |  b -> slice(toks, b * $ParaTok + 1, $ParaTok))""".stripMargin))
        .as(Seq("para_idx", "ptoks")))
      .filter(size(col("ptoks")) >= 3)
      .select(
        (col("doc_id") * PIdxCap + col("para_idx")).as("uid"),
        expr(
          """array_distinct(transform(sequence(0, size(ptoks) - 3),
            |  i -> concat(ptoks[i], ' ', ptoks[i+1], ' ', ptoks[i+2])))""".stripMargin)
          .as("sh"))
      .cache()

    // q20's MinHash signature + banding, at unit granularity.
    val sigs = units
      .select(col("uid"), expr("transform(sh, s -> xxhash64(s))").as("hs"))
      .select(col("uid"),
        expr(s"""transform(sequence(0, ${NumHashes - 1}),
                 |  i -> array_min(transform(hs, h -> xxhash64(h, i))))""".stripMargin)
          .as("sig"))
    val bands = sigs.select(col("uid"),
        explode(expr(
          s"""transform(sequence(0, ${Bands - 1}),
             |  b -> struct(b AS band, xxhash64(sig[2*b], sig[2*b+1], b) AS bh))""".stripMargin))
          .as("e"))
      .select(col("uid"), col("e.band").as("band"), col("e.bh").as("bh"))
      .cache()

    val l = bands.as("l"); val r = bands.as("r")
    val cands = l.join(r,
        col("l.band") === col("r.band") && col("l.bh") === col("r.bh") &&
          col("l.uid") < col("r.uid"))
      .select(col("l.uid").as("uid_a"), col("r.uid").as("uid_b"))
      .distinct()

    // Exact-Jaccard verify, then first-wins: every verified pair
    // (a < b in packed = lexicographic order) votes to drop b.
    val a = units.select(col("uid").as("uid_a"), col("sh").as("sh_a"))
    val b = units.select(col("uid").as("uid_b"), col("sh").as("sh_b"))
    cands.join(a, "uid_a").join(b, "uid_b")
      .filter((size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
        / size(array_union(col("sh_a"), col("sh_b")))) >= Threshold)
      .groupBy(col("uid_b"))
      .agg(count(lit(1)).as("n_earlier_dups"))
      .select(expr(s"uid_b div $PIdxCap").as("doc_id"),
        (col("uid_b") % PIdxCap).as("para_idx"),
        col("n_earlier_dups"))
      .orderBy("doc_id", "para_idx")
  }

  /** Brute-force oracle, complete by construction: J >= 0.8 > 0 forces
    * at least one shared shingle, so the shared-shingle equi-join is a
    * complete candidate set (no LSH miss term in the oracle at all). */
  val q162Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS toks
       |  FROM documents),
       |u AS (
       |  SELECT doc_id, p.pidx, p.ptoks FROM (
       |    SELECT doc_id,
       |           unnest([{'pidx': bi, 'ptoks':
       |                      toks[bi*$ParaTok+1 : least((bi+1)*$ParaTok, len(toks))]}
       |                   for bi in range(0, CAST(ceil(len(toks)/$ParaTok.0) AS INT))]) AS p
       |    FROM d)),
       |s AS (
       |  SELECT doc_id, pidx,
       |         list_distinct([ptoks[i] || ' ' || ptoks[i+1] || ' ' || ptoks[i+2]
       |                        for i in range(1, len(ptoks) - 1)]) AS sh
       |  FROM u WHERE len(ptoks) >= 3),
       |e AS (SELECT doc_id, pidx, unnest(sh) AS g FROM s),
       |c AS (
       |  SELECT DISTINCT a.doc_id AS da, a.pidx AS pa,
       |                  b.doc_id AS db, b.pidx AS pb
       |  FROM e a JOIN e b ON a.g = b.g
       |  WHERE (a.doc_id, a.pidx) < (b.doc_id, b.pidx)),
       |v AS (
       |  SELECT c.db AS doc_id, c.pb AS para_idx
       |  FROM c
       |  JOIN s sa ON c.da = sa.doc_id AND c.pa = sa.pidx
       |  JOIN s sb ON c.db = sb.doc_id AND c.pb = sb.pidx
       |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
       |          / len(list_distinct(list_concat(sa.sh, sb.sh))) >= $Threshold)
       |SELECT doc_id, CAST(para_idx AS BIGINT) AS para_idx,
       |       COUNT(*) AS n_earlier_dups
       |FROM v GROUP BY doc_id, para_idx
       |ORDER BY doc_id, para_idx""".stripMargin

  // ---------------------------------------------------------------------
  // q171 — winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
  // selection rule): per document, hash every WinnowK-token gram, slide
  // a WinnowW-gram window, and keep the window's minimum hash —
  // rightmost position on ties. The output is the LOCAL fingerprint
  // index with the winnowing guarantee: any two documents sharing a run
  // of WinnowW + WinnowK - 1 tokens share at least one fingerprint, at
  // ~1/WinnowW the density of the full gram set. This is the
  // position-robust middle ground the family lacks: q19 hashes whole
  // docs (any edit changes everything), q20/q162 select by GLOBAL
  // permutation minima (no locality guarantee for short runs), q54/q68
  // keep every window fingerprint (w-times denser). A matcher is one
  // equi-join on fp — q64's shape over a w-times smaller relation.
  //
  // Selection is one ordered-window MIN per gram over a composite key
  // (hash hex || inverted zero-padded position — string order encodes
  // "min hash, rightmost pos" exactly, identically in both engines),
  // then DISTINCT picks. Shapes: one scan + one per-doc sort window +
  // a dedup shuffle on (doc, pos) — no joins, no all-pairs anywhere.
  // Docs shorter than WinnowK tokens have no grams and emit no rows; a
  // gram tail shorter than WinnowW (including whole docs with fewer
  // than WinnowW grams) winnows as its single clamped window.
  // ---------------------------------------------------------------------
  private[graft] val WinnowK = 4
  private[graft] val WinnowW = 4

  def q171Winnow(spark: SparkSession, sfDir: String): DataFrame = {
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(0, WinnowW - 1)
    val grams = Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(trim(col("text")), " +").as("toks"))
      .filter(size(col("toks")) >= WinnowK)
      .select(col("doc_id"), size(col("toks")).as("n"), posexplode(expr(
        s"""transform(sequence(0, size(toks) - $WinnowK),
           |  i -> substring(md5(concat_ws(' ', slice(toks, i + 1, $WinnowK))),
           |                 1, 16))""".stripMargin)))
      .select(col("doc_id"), col("n"), col("pos"),
        concat(col("col"), lit("-"),
          lpad((lit(999999999) - col("pos")).cast("string"), 9, "0"))
          .as("key"))
    grams
      .select(col("doc_id"), col("n"), col("pos"), min(col("key")).over(win).as("pick"))
      // window starts: every gram index up to G - W (clamped tail = one
      // window at 0 when the doc has fewer than W grams); G = n - K + 1
      .filter(col("pos") <= greatest(col("n") - lit(WinnowK - 1 + WinnowW), lit(0)))
      .select(col("doc_id"),
        (lit(999999999) - substring(col("pick"), 18, 9).cast("long")).as("fp_pos"),
        substring(col("pick"), 1, 16).as("fp"))
      .distinct()
      .orderBy("doc_id", "fp_pos")
  }

  val q171Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS toks
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, len(toks) AS n,
       |         unnest(range(0, len(toks) - ${WinnowK - 1})) AS pos,
       |         unnest([substr(md5(array_to_string(toks[(i + 1):(i + $WinnowK)], ' ')), 1, 16)
       |                 for i in range(0, len(toks) - ${WinnowK - 1})]) AS h
       |  FROM d WHERE len(toks) >= $WinnowK),
       |k AS (
       |  SELECT doc_id, n, pos,
       |         h || '-' || lpad(CAST(999999999 - pos AS VARCHAR), 9, '0') AS key
       |  FROM g),
       |p AS (
       |  SELECT doc_id, n, pos,
       |         MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
       |                        ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING)
       |           AS pick
       |  FROM k)
       |SELECT DISTINCT doc_id,
       |       999999999 - CAST(substr(pick, 18, 9) AS BIGINT) AS fp_pos,
       |       substr(pick, 1, 16) AS fp
       |FROM p
       |WHERE pos <= GREATEST(n - ${WinnowK - 1 + WinnowW}, 0)
       |ORDER BY doc_id, fp_pos""".stripMargin

  // ---------------------------------------------------------------------
  // q188 — dedup threshold-sensitivity sweep: how many near-dup pairs
  // (and how many affected documents) would each Jaccard threshold
  // remove? The tuning curve behind picking θ for q20/q40 — a cliff
  // between two grid points means the threshold sits inside a dense
  // similarity mode and small changes swing the corpus. Rides q40's
  // EXACT pair set at its base threshold (0.5): the grid re-aggregates
  // the verified pairs, so the sweep costs ONE similarity join for all
  // five thresholds, not five.
  //
  // Shape: q40's plan + a broadcast 5-row grid theta-join (each pair
  // lands on every threshold it clears) + one (theta) aggregate with a
  // distinct-doc explode. Threshold compares are double-vs-double with
  // DOUBLE-cast grid literals both engines.
  // ---------------------------------------------------------------------
  private[graft] val SweepThetas = Seq(0.5, 0.6, 0.7, 0.8, 0.9)

  def q188DedupSweep(spark: SparkSession, sfDir: String): DataFrame = {
    val spark2 = spark; import spark2.implicits._
    val grid = SweepThetas.toDF("theta")
    val hits = q40NgramJaccard(spark, sfDir)
      .join(broadcast(grid), col("jaccard") >= col("theta"))
      .select(col("theta"), col("doc_a"), col("doc_b"))
      .cache() // pair counts and the distinct-doc explode share it
    val np = hits.groupBy(col("theta")).agg(count(lit(1)).as("n_pairs"))
    val nd = hits
      .select(col("theta"),
        explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
      .groupBy(col("theta")).agg(count(lit(1)).as("n_docs"))
    // grid-left: a threshold clearing zero pairs still reports its row
    grid.join(np, Seq("theta"), "left").join(nd, Seq("theta"), "left")
      .select(col("theta"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
      .orderBy("theta")
  }

  val q188Sql: String =
    s"""WITH pairs AS (
       |${q40Sql.linesIterator.map("  " + _).mkString("\n")}
       |),
       |grid AS (SELECT CAST(theta AS DOUBLE) AS theta
       |         FROM (VALUES ${SweepThetas.map(t => s"($t)").mkString(", ")})
       |           t(theta)),
       |hits AS (
       |  SELECT theta, doc_a, doc_b
       |  FROM pairs JOIN grid ON jaccard >= theta)
       |SELECT g.theta,
       |       COALESCE(p.n_pairs, 0) AS n_pairs,
       |       COALESCE(d.n_docs, 0) AS n_docs
       |FROM grid g
       |LEFT JOIN (SELECT theta, count(*) AS n_pairs
       |           FROM hits GROUP BY theta) p ON g.theta = p.theta
       |LEFT JOIN (SELECT theta, count(*) AS n_docs
       |           FROM (SELECT DISTINCT theta, doc_id
       |                 FROM (SELECT theta, unnest([doc_a, doc_b]) AS doc_id
       |                       FROM hits)) GROUP BY theta) d
       |  ON g.theta = d.theta
       |ORDER BY g.theta""".stripMargin

  // ---------------------------------------------------------------------
  // q189 — sorted-neighborhood (SNM) dedup (Hernández & Stolfo 1995):
  // the THIRD blocking strategy of the family — sort the corpus by a
  // locality-preserving key (here the lowercased first SnmKeyTok
  // tokens: shared openings sort adjacent), slide a SnmW-row window,
  // and verify only pairs within the window. Complements the inverted
  // index (q40: recall-complete, cost scales with df) and LSH banding
  // (q20: probabilistic recall, constant cost): SNM's candidate count
  // is EXACTLY n·w regardless of similarity structure — the
  // predictable-budget blocker a production linkage pipeline runs
  // first — at the price of missing near-dups whose keys sort apart
  // (the spec measures that recall against q40's complete set; the
  // ORACLE pins SNM's own deterministic semantics, so the gate stays
  // exact).
  //
  // Shape: the global sort RANK comes from the q95 frozen two-pass
  // scaffold (TwoPass.frozenPrefix — never a single-task window);
  // window pairs come from ONE equi-join on the SnmW-sized block id
  // (same + adjacent block, |seq diff| <= SnmW filter inside), so
  // join fan-out is bounded by 2·SnmW per row; survivors verify with
  // exact string-shingle Jaccard (q40's final stage).
  // ---------------------------------------------------------------------
  private[graft] val SnmW      = 10 // neighborhood window (rows)
  private[graft] val SnmKeyTok = 5  // sort-key prefix tokens

  def q189SnmDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = JaccardThreshold
    val keyed = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        expr(s"""array_join(slice(split(lower(trim(text)), ' +'),
                 1, $SnmKeyTok), ' ')""").as("k"))
    val (frozen, offsets, _) = TwoPass.frozenPrefix(
      keyed, 8, Seq(col("k"), col("doc_id")), Seq(count(lit(1))))
    val bc = spark.sparkContext.broadcast(offsets)
    val seqd = frozen.select(col("doc_id")).as[Long].mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val off = bc.value.get(pid).map(_(0)).getOrElse(0L)
      var i = 0L
      it.map { d => val r = (d, off + i); i += 1; r }
    }.toDF("doc_id", "seq")
      .localCheckpoint(true) // pin ids before releasing the layout
    frozen.unpersist()

    // windowed candidates: same or adjacent SnmW-block, 0 < diff <= w
    val a = seqd.select(col("doc_id").as("id_a"), col("seq").as("sa"),
      expr(s"seq DIV $SnmW").as("b"))
    val bset = seqd.select(col("doc_id").as("id_b"), col("seq").as("sb"),
      explode(expr(s"array(seq DIV $SnmW, seq DIV $SnmW - 1)")).as("b"))
    val cands = a.join(bset, "b")
      .filter(col("sb") - col("sa") > 0 && col("sb") - col("sa") <= SnmW)
      .select(col("id_a"), col("id_b")).distinct()

    // exact verification on string shingles (q40's final stage). The
    // BARE shingle projection is cached once for both join sides —
    // shingleDocs' collapsed three-column projection would re-evaluate
    // the interpreted HOF tree per consumer (q174's lesson).
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(trim(col("text")), " +").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), expr(
        """array_distinct(transform(sequence(0, size(toks) - 3),
          |  i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])))"""
          .stripMargin).as("sh"))
      .cache()
    val da = docs.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val db = docs.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    cands.join(da, "id_a").join(db, "id_b")
      .select(
        least(col("id_a"), col("id_b")).as("doc_a"),
        greatest(col("id_a"), col("id_b")).as("doc_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
          / size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
      .filter(col("jaccard") >= t)
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  /** Oracle pins SNM's own deterministic semantics: the identical sort
    * rank, window rule, and exact-Jaccard verify. */
  val q189Sql: String =
    s"""WITH keyed AS (
       |  SELECT doc_id,
       |         array_to_string(
       |           regexp_split_to_array(lower(trim(text)), ' +')[1:$SnmKeyTok],
       |           ' ') AS k
       |  FROM documents),
       |r AS (
       |  SELECT doc_id, row_number() OVER (ORDER BY k, doc_id) - 1 AS seq
       |  FROM keyed),
       |cand AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM r a JOIN r b
       |    ON b.seq > a.seq AND b.seq <= a.seq + $SnmW),
       |t AS (
       |  SELECT doc_id,
       |         list_distinct(CASE WHEN len(toks) >= 3
       |           THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
       |                 for i in range(1, len(toks) - 1)]
       |           ELSE [] END) AS sh
       |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS toks
       |        FROM documents))
       |SELECT DISTINCT
       |       LEAST(id_a, id_b) AS doc_a,
       |       GREATEST(id_a, id_b) AS doc_b,
       |       CAST(len(list_intersect(ta.sh, tb.sh)) AS DOUBLE)
       |         / len(list_distinct(list_concat(ta.sh, tb.sh))) AS jaccard
       |FROM cand
       |JOIN t ta ON cand.id_a = ta.doc_id
       |JOIN t tb ON cand.id_b = tb.doc_id
       |WHERE len(ta.sh) > 0 AND len(tb.sh) > 0
       |  AND CAST(len(list_intersect(ta.sh, tb.sh)) AS DOUBLE)
       |        / len(list_distinct(list_concat(ta.sh, tb.sh)))
       |        >= $JaccardThreshold
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------------
  // q174 — asymmetric shingle CONTAINMENT (doc-in-doc detection):
  // ordered pairs (a, b) where C(a,b) = |S(a) ∩ S(b)| / |S(a)| >= θ —
  // document a is (nearly) a subset of document b. The near-SUPERSET
  // relation every symmetric dedup in the family misses: a short doc
  // quoted whole inside a long one has Jaccard |A|/|B| (arbitrarily low)
  // but containment ~1. This is the dedup rule for "drop the fragment,
  // keep the containing compilation" (and, reversed, the q41-adjacent
  // contamination question "is this benchmark item embedded in a
  // training doc").
  //
  // Scale shape: candidates come from an inverted-index equi-join, but
  // ASYMMETRIC — the contained side contributes only its rarest-first
  // PREFIX (|A| - ceil(θ|A|) + 1 shingle hashes: if fewer than that
  // many of a's shingles hit B, C < θ is impossible), while the
  // container side is indexed in FULL (b's prefix can't serve: b may
  // contain a without a touching b's rare shingles). Join rows are
  // three longs; the |B| >= θ|A| - 1 length prune (one unit of slack
  // swallows any θ·|A| float rounding) kills short-container pairs
  // inside the join. Survivors are verified EXACTLY on the string
  // shingle sets, so the output equals the brute-force oracle. No
  // all-pairs anywhere; the prefix keeps probe volume at ~(1-θ) of the
  // corpus shingle mass, each hitting only df(h) postings.
  // ---------------------------------------------------------------------
  private[graft] val ContainTheta = 0.8
  private[graft] val ContainMinSh = 5 // ignore shingle sets too small to rank

  def q174Containment(spark: SparkSession, sfDir: String): DataFrame =
    containmentPairs(
      Tables.documents(spark, sfDir).select(col("doc_id"), col("text")))

  /** Core over any (doc_id long, text string) frame — exposed so the
    * spec can plant a fragment-inside-compilation pair (whose Jaccard
    * is far below any symmetric-dedup threshold). */
  private[graft] def containmentPairs(base: DataFrame): DataFrame = {
    val t = ContainTheta
    // q40's cache discipline: the cache holds the BARE shingle
    // projection (the size filter on the INPUT token count is the
    // necessary condition sz <= tokens - 2 pushed to the scan side);
    // hs/sz derive AFTER it so CollapseProject cannot inline the
    // CodegenFallback HOF tree into every consumer, and the exact sz
    // filter evaluates size() on the CACHED array. The first cut of
    // this operator filtered on sz straight off shingleDocs — the
    // inlined-HOF shape — and paid 16.7 s cold at sf0.1; this shape
    // builds the same cache in ~1 s.
    val bare = base
      .select(col("doc_id"), split(trim(col("text")), " +").as("toks"))
      .filter(size(col("toks")) >= ContainMinSh + 2)
      .select(col("doc_id"), expr(
        """array_distinct(transform(sequence(0, size(toks) - 3),
          |  i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])))"""
          .stripMargin).as("sh"))
      .cache()
    val docs = bare
      .select(col("doc_id"), col("sh"),
        expr("array_sort(transform(sh, s -> xxhash64(s)))").as("hs"),
        size(col("sh")).as("sz"))
      .filter(col("sz") >= ContainMinSh)
    val exploded = docs
      .select(col("doc_id"), col("sz"), explode(col("hs")).as("h"))
    val dfreq = exploded.groupBy(col("h")).agg(count(lit(1)).as("df"))
    // Contained-side prefix, rarest-first under the (df, h) total order
    // (q40's canonicalization; collect_list is per-document-bounded).
    val prefixes = exploded.join(dfreq, "h")
      .groupBy(col("doc_id"), col("sz"))
      .agg(collect_list(struct(col("df"), col("h"))).as("dhs"))
      .select(col("doc_id"), col("sz"), explode(expr(
        s"slice(array_sort(dhs), 1, sz - CAST(ceil($t * sz) AS INT) + 1).h"))
        .as("h"))
    val cands = prefixes.as("l").join(exploded.as("r"),
        col("l.h") === col("r.h") && col("l.doc_id") =!= col("r.doc_id") &&
          col("r.sz").cast("double") >= lit(t) * col("l.sz") - 1)
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .distinct()
    // Stage 1: O(n+m) codegen'd sorted-hash merge (q40's prefilter,
    // containment form). C_string >= θ forces i_string >= θ·|A|, and
    // i_hash >= i_string, so j_hash = i/(|A|+|B|-i) is >= the bound
    // below for every true pair — the 1-1e-12 slack swallows the
    // bound's own float rounding, admitting (never dropping) edge
    // candidates; the exact stage settles them.
    val ha = docs.select(col("doc_id").as("doc_a"), col("hs").as("hs_a"),
      col("sz").as("sz_a"))
    val hb = docs.select(col("doc_id").as("doc_b"), col("hs").as("hs_b"),
      col("sz").as("sz_b"))
    val hashPass = cands.join(ha, "doc_a").join(hb, "doc_b")
      .filter(graft.functions.GraftFunctions
        .sortedHashJaccard(col("hs_a"), col("hs_b"))
        >= lit(t) * col("sz_a")
          / (col("sz_a") + col("sz_b") - lit(t) * col("sz_a"))
          * lit(1.0 - 1e-12))
      .select(col("doc_a"), col("doc_b"))
    // Stage 2: exact string verification of the (rare) survivors —
    // hash collisions admitted by stage 1 die here, so the output
    // equals the brute-force oracle.
    val a = docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"),
      col("sz").as("sz_a"))
    val b = docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    hashPass.join(a, "doc_a").join(b, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
          / col("sz_a")).as("containment"))
      .filter(col("containment") >= t)
      .orderBy("doc_a", "doc_b")
  }

  /** Brute-force ordered-pair oracle; the length prune is the same
    * slack-redundant inequality the Spark join applies (it can never
    * drop a qualifying pair), kept to bound DuckDB's pair count. */
  val q174Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |         list_distinct(CASE WHEN len(toks) >= 3
       |           THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
       |                 for i in range(1, len(toks) - 1)]
       |           ELSE [] END) AS sh
       |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS toks
       |        FROM documents)),
       |f AS (SELECT doc_id, sh FROM t WHERE len(sh) >= $ContainMinSh)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh)
       |         AS containment
       |FROM f a JOIN f b
       |  ON a.doc_id <> b.doc_id
       | AND len(b.sh) >= CAST($ContainTheta AS DOUBLE) * len(a.sh) - 1
       |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh)
       |        >= CAST($ContainTheta AS DOUBLE)
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------------
  // q192 — banded-Hamming fingerprint near-dup: the bit-sampling LSH
  // family (Indyk–Motwani 1998 — LSH for Hamming space predates the
  // MinHash/SimHash variants above). Each document gets a 64-bit
  // content fingerprint — bit b = the PARITY of the number of word
  // bigrams hashing to bucket b — so Hamming(fp_a, fp_b) is bounded by
  // the bigram-multiset symmetric difference: documents that differ by
  // k occurrence edits differ in at most 2k(≈2 buckets per edited
  // position) bits. Blocking is the pigeonhole band split (4 bands x
  // 16 bits): any pair within Hamming 8 of 64 agrees exactly on at
  // least one band whenever its flipped bits cluster — and for the
  // planted near-identical pairs this corpus carries (few-edit
  // variants) band agreement is near-certain, which the recall spec
  // pins against the brute-force pair set. This is the exact shape a
  // real image/audio perceptual hash (pHash/chromaprint) drops into:
  // swap the parity fingerprint for the decoder's 64-bit pHash and the
  // banding, XOR+bit_count verify, and threshold below are unchanged —
  // the multimodal dedup step q24/q39/q59's stub-decode pipelines feed.
  //
  // Scale shape: fingerprints are one (doc, bucket) count aggregate +
  // one 4-term pivot — rows out = |docs|, 5 longs each. The ONLY joins
  // are (a) the band equi-join on (band_idx, 16-bit value) — never a
  // cross product — and (b) two fingerprint re-joins to verify. At
  // 64-bit-random fingerprints a 16-bit band collides at 2^-16, so
  // candidates ≈ 4·n²/2^16 stays linear until n ≈ 10^8 per shard;
  // past that, widen to 8-bit bands-of-8 or hash bands to more bits —
  // the verify stage is unchanged. Verified sizes here: 90 candidates
  // → 25 pairs at sf0.01, 7.5k → 371 at sf0.1.
  // ---------------------------------------------------------------------
  private[graft] val FpBuckets  = 64  // fingerprint width in bits
  private[graft] val FpBandBits = 16  // 4 bands x 16 bits
  private[graft] val FpHamMax   = 8L  // report pairs within this radius

  def q192FingerprintNeardup(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(trim(col("text")), " +").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, size(toks) - 2),
          |  i -> concat(toks[i], ' ', toks[i+1]))""".stripMargin))
        .as("shingle"))
    val bh = sh.select(col("doc_id"),
        (conv(substring(md5(col("shingle")), 1, 8), 16, 10).cast("long")
          % FpBuckets).as("b"))
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
    val bandCols = (0 until FpBuckets / FpBandBits).map { j =>
      expr(s"""CAST(SUM(CASE WHEN b DIV $FpBandBits = $j
               |  THEN (c % 2) * shiftleft(1, CAST(b % $FpBandBits AS INT))
               |  ELSE 0 END) AS BIGINT)""".stripMargin).as(s"v$j")
    }
    val fp = bh.groupBy(col("doc_id"))
      .agg(bandCols.head, bandCols.tail: _*)
      .cache() // feeds the band explode and both verify sides
    val bands = fp.select(col("doc_id"),
      posexplode(array(col("v0"), col("v1"), col("v2"), col("v3"))))
      .toDF("doc_id", "j", "v")
    val cand = bands.select(col("j"), col("v"), col("doc_id").as("doc_a"))
      .join(bands.select(col("j"), col("v"), col("doc_id").as("doc_b")),
        Seq("j", "v"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    val fa = fp.select(col("doc_id").as("doc_a"), col("v0").as("a0"),
      col("v1").as("a1"), col("v2").as("a2"), col("v3").as("a3"))
    val fb = fp.select(col("doc_id").as("doc_b"), col("v0").as("b0"),
      col("v1").as("b1"), col("v2").as("b2"), col("v3").as("b3"))
    val out = cand.join(fa, Seq("doc_a")).join(fb, Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("""CAST(bit_count(a0 ^ b0) + bit_count(a1 ^ b1)
                |  + bit_count(a2 ^ b2) + bit_count(a3 ^ b3) AS BIGINT)"""
          .stripMargin).as("hamming"))
      .filter(col("hamming") <= FpHamMax)
      .orderBy(col("doc_a"), col("doc_b"))
      .localCheckpoint(true)
    fp.unpersist()
    out
  }

  val q192Sql: String =
    s"""WITH sh AS (
       |  SELECT doc_id, toks[i] || ' ' || toks[i+1] AS shingle
       |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS toks
       |        FROM documents),
       |       LATERAL (SELECT unnest(range(1, len(toks))) AS i)),
       |bh AS (
       |  SELECT doc_id,
       |         ('0x' || substr(md5(shingle), 1, 8))::BIGINT % $FpBuckets AS b,
       |         COUNT(*) AS c
       |  FROM sh GROUP BY 1, 2),
       |fp AS (
       |  SELECT doc_id,
       |    CAST(SUM(CASE WHEN b // $FpBandBits = 0
       |      THEN (c % 2) * (1 << CAST(b % $FpBandBits AS INT)) ELSE 0 END)
       |      AS BIGINT) AS v0,
       |    CAST(SUM(CASE WHEN b // $FpBandBits = 1
       |      THEN (c % 2) * (1 << CAST(b % $FpBandBits AS INT)) ELSE 0 END)
       |      AS BIGINT) AS v1,
       |    CAST(SUM(CASE WHEN b // $FpBandBits = 2
       |      THEN (c % 2) * (1 << CAST(b % $FpBandBits AS INT)) ELSE 0 END)
       |      AS BIGINT) AS v2,
       |    CAST(SUM(CASE WHEN b // $FpBandBits = 3
       |      THEN (c % 2) * (1 << CAST(b % $FpBandBits AS INT)) ELSE 0 END)
       |      AS BIGINT) AS v3
       |  FROM bh GROUP BY 1),
       |bands AS (
       |  SELECT doc_id, j,
       |         CASE j WHEN 0 THEN v0 WHEN 1 THEN v1 WHEN 2 THEN v2
       |                ELSE v3 END AS v
       |  FROM fp, (SELECT unnest([0, 1, 2, 3]) AS j)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.j = b.j AND a.v = b.v AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b,
       |       CAST(bit_count(xor(fa.v0, fb.v0)) + bit_count(xor(fa.v1, fb.v1))
       |          + bit_count(xor(fa.v2, fb.v2)) + bit_count(xor(fa.v3, fb.v3))
       |         AS BIGINT) AS hamming
       |FROM cand
       |JOIN fp fa ON fa.doc_id = doc_a
       |JOIN fp fb ON fb.doc_id = doc_b
       |WHERE bit_count(xor(fa.v0, fb.v0)) + bit_count(xor(fa.v1, fb.v1))
       |    + bit_count(xor(fa.v2, fb.v2)) + bit_count(xor(fa.v3, fb.v3))
       |      <= $FpHamMax
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------------
  // q216 — MinHash-LSH (bands, rows) parameter TUNER: before paying for
  // an LSH dedup run, evaluate each candidate signature layout's
  // S-curve P(catch | s) = 1 − (1 − s^r)^b against THIS corpus's
  // observed pair-similarity distribution (q40's exact pairs): pairs at
  // or above the q20 action threshold contribute expected MISSES
  // (1 − P, recall loss), sub-threshold candidates contribute expected
  // EXTRA verifications (P, wasted compute). The (b, r) minimizing
  // their sum is the layout to run — the data-driven version of the
  // usual eyeballed S-curve, and the tuner that sizes q20/q26 before a
  // 100 TB pass.
  //
  // Cross-engine exactness: r and b are powers of two, so s^r and
  // (1−s^r)^b evaluate as UNROLLED SQUARING CHAINS — the same generated
  // expression string runs in Spark and DuckDB, every step a correctly-
  // rounded IEEE multiply on q40's bit-identical jaccard — and each
  // pair's two terms are 6-dp-rounded into DECIMAL before the sum, so
  // aggregation order cannot matter (the q191 pattern). Per candidate
  // the work is ONE aggregate over the cached pair frame.
  // ---------------------------------------------------------------------
  private[graft] val LshTuneTarget = 0.8 // q20's action threshold
  /** (log2 rows, log2 bands): signature budget r*b <= 64. */
  private[graft] val LshTuneGrid: Seq[(Int, Int)] =
    Seq((1, 5), (2, 4), (2, 3), (3, 3), (3, 2), (4, 2))

  /** x^(2^k) as an unrolled squaring chain — shared with the oracle. */
  private def sqChain(x: String, k: Int): String =
    (1 to k).foldLeft(x)((e, _) => s"($e * $e)")
  /** (1 - s^r)^b for r=2^lr, b=2^lb — the per-pair MISS probability. */
  private[graft] def lshMissExpr(lr: Int, lb: Int): String =
    sqChain(s"(1.0 - ${sqChain("jaccard", lr)})", lb)

  def q216LshTuner(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = q40NgramJaccard(spark, sfDir).select(col("jaccard")).cache()
    LshTuneGrid.map { case (lr, lb) =>
      val (r, b) = (1 << lr, 1 << lb)
      val miss = lshMissExpr(lr, lb)
      pairs.selectExpr(
          s"CASE WHEN jaccard >= $LshTuneTarget THEN 1L ELSE 0L END AS tgt",
          s"CAST(ROUND(CASE WHEN jaccard >= $LshTuneTarget THEN $miss" +
            s" ELSE 0.0 END, 6) AS DECIMAL(18,6)) AS m6",
          s"CAST(ROUND(CASE WHEN jaccard < $LshTuneTarget THEN (1.0 - $miss)" +
            s" ELSE 0.0 END, 6) AS DECIMAL(18,6)) AS x6")
        .agg(sum(col("tgt")).as("n_target"),
          sum(col("m6")).as("sm"), sum(col("x6")).as("sx"))
        .selectExpr(s"${r}L AS rows_per_band", s"${b}L AS bands",
          "n_target",
          "CAST(sm AS DOUBLE) AS exp_missed",
          "CAST(sx AS DOUBLE) AS exp_extra",
          "CAST(sm + sx AS DOUBLE) AS cost")
    }.reduce(_.unionAll(_)).orderBy("rows_per_band", "bands")
  }

  val q216Sql: String = {
    val per = LshTuneGrid.map { case (lr, lb) =>
      val (r, b) = (1 << lr, 1 << lb)
      val miss = lshMissExpr(lr, lb)
      s"""SELECT CAST($r AS BIGINT) AS rows_per_band, CAST($b AS BIGINT) AS bands,
         |       CAST(SUM(CASE WHEN jaccard >= $LshTuneTarget THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_target,
         |       CAST(SUM(CAST(ROUND(CASE WHEN jaccard >= $LshTuneTarget
         |           THEN $miss ELSE 0.0 END, 6) AS DECIMAL(18,6))) AS DOUBLE)
         |         AS exp_missed,
         |       CAST(SUM(CAST(ROUND(CASE WHEN jaccard < $LshTuneTarget
         |           THEN (1.0 - $miss) ELSE 0.0 END, 6) AS DECIMAL(18,6)))
         |         AS DOUBLE) AS exp_extra,
         |       CAST(SUM(CAST(ROUND(CASE WHEN jaccard >= $LshTuneTarget
         |           THEN $miss ELSE 0.0 END, 6) AS DECIMAL(18,6)))
         |          + SUM(CAST(ROUND(CASE WHEN jaccard < $LshTuneTarget
         |           THEN (1.0 - $miss) ELSE 0.0 END, 6) AS DECIMAL(18,6)))
         |         AS DOUBLE) AS cost
         |FROM pairs""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH pairs AS MATERIALIZED (
       |${q40Sql.linesIterator.map("  " + _).mkString("\n")}
       |)
       |$per
       |ORDER BY rows_per_band, bands""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q248 — Jaro–Winkler record-linkage join over the part-name
  // vocabulary ([[graft.functions.JaroWinkler]], the codegen'd string
  // comparator): the ALIAS/typo detector for entity names where q97's
  // edit-distance join is the wrong ruler — JW is length-normalized
  // (one threshold means the same thing for "hot gear" and
  // "promotional anodized keyboard"), transposition-aware, and
  // prefix-boosted, the standard comparator of the record-linkage
  // literature (Winkler 1990, US Census).
  //
  // Scale shape: candidates come from FIRST-CHARACTER BLOCKING — the
  // classic linkage block, an equi-join key, so the pair space is
  // per-block quadratic, never global (names-table-sized here; at a
  // 10⁸-name table the block key widens to the first bigram/trigram,
  // same plan). JW itself is a codegen'd expression evaluated only on
  // blocked candidates; the score is 6-dp-rounded on BOTH engines
  // before the threshold so the cut cannot fork on a last-ulp
  // difference.
  // ---------------------------------------------------------------------
  private val JwThreshold = 0.84

  def q248JaroWinklerJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.GraftFunctions
    val vocab = Tables.part(spark, sfDir)
      .groupBy(col("p_name")).agg(count(lit(1)).as("n_parts"))
      .withColumn("blk", substring(col("p_name"), 1, 1))
      .cache() // both sides of the blocked self-join
    val a = vocab.select(col("blk"), col("p_name").as("name_a"),
      col("n_parts").as("n_a"))
    val b = vocab.select(col("blk"), col("p_name").as("name_b"),
      col("n_parts").as("n_b"))
    a.join(b, Seq("blk"))
      .filter(col("name_a") < col("name_b"))
      .withColumn("jw", round(
        GraftFunctions.jaroWinkler(col("name_a"), col("name_b")), 6))
      .filter(col("jw") >= JwThreshold)
      .select(col("name_a"), col("name_b"), col("n_a"), col("n_b"), col("jw"))
      .orderBy("name_a", "name_b")
  }

  val q248Sql: String =
    s"""WITH vocab AS (
      |  SELECT p_name, CAST(count(*) AS BIGINT) AS n_parts,
      |         substring(p_name, 1, 1) AS blk
      |  FROM part GROUP BY p_name)
      |SELECT a.p_name AS name_a, b.p_name AS name_b,
      |       a.n_parts AS n_a, b.n_parts AS n_b,
      |       round(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw
      |FROM vocab a JOIN vocab b
      |  ON a.blk = b.blk AND a.p_name < b.p_name
      |WHERE round(jaro_winkler_similarity(a.p_name, b.p_name), 6)
      |      >= $JwThreshold
      |ORDER BY name_a, name_b""".stripMargin
}
