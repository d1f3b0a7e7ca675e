package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Table profiling: the ANALYZE-style per-column statistics collector
  * that feeds a cost-based layer (join-side selection, bucketing
  * decisions, skew detection) and the data-quality dashboard a curation
  * pipeline watches.
  *
  * The reference has no profiler (it is a stream runtime), but every
  * production deployment of it fronts one — and Spark itself consumes
  * exactly these stats via `ANALYZE TABLE ... COMPUTE STATISTICS FOR
  * COLUMNS` into the catalog. This operator computes the same shape as
  * a reusable DataFrame op with an exact oracle.
  *
  * Scale design:
  *  - ALL per-column stats (count/nulls/min/max/ndv) evaluate in ONE
  *    aggregate over ONE scan. Exact multi-column count(DISTINCT x)
  *    compiles to a single Expand node (one input row -> one row per
  *    distinct-column) feeding one partial aggregate — the standard
  *    exact-NDV cost: shuffle volume is ~(#ndv-columns x distinct
  *    values), not #rows, because Expand feeds a partial-aggregate that
  *    dedups map-side before the exchange.
  *  - At 100 TB one would swap exact NDV for approx_count_distinct
  *    (HLL, q34's territory) per column — a one-line change here; the
  *    exact version is what the oracle can verify.
  *  - The wide 1-row aggregate is pivoted to one-row-per-column with a
  *    driver-free explode of an aggregate-sized array literal.
  */
object Profiling {

  /** One stats row per requested numeric column of `df`:
    * (col_name, n_rows, n_nulls, n_distinct, min_val, max_val). */
  def columnStats(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs: Seq[Column] = Seq(count(lit(1)).as("__n")) ++ cols.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
        count_distinct(col(c)).as(s"${c}__ndv"),
        min(col(c)).cast("double").as(s"${c}__min"),
        max(col(c)).cast("double").as(s"${c}__max"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val entries = cols.map { c =>
      struct(
        lit(c).as("col_name"),
        col("__n").as("n_rows"),
        col(s"${c}__nulls").as("n_nulls"),
        col(s"${c}__ndv").as("n_distinct"),
        col(s"${c}__min").as("min_val"),
        col(s"${c}__max").as("max_val"))
    }
    one.select(explode(array(entries: _*)).as("s"))
      .select(col("s.col_name"), col("s.n_rows"), col("s.n_nulls"),
        col("s.n_distinct"), col("s.min_val"), col("s.max_val"))
      .orderBy("col_name")
  }

  private[graft] val StatCols = Seq(
    "l_orderkey", "l_partkey", "l_suppkey",
    "l_quantity", "l_extendedprice", "l_discount")

  def q100TableStats(spark: SparkSession, sfDir: String): DataFrame =
    columnStats(Tables.lineitem(spark, sfDir), StatCols)

  val q100Sql: String = StatCols.map { c =>
    s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
       |       CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_nulls,
       |       COUNT(DISTINCT $c) AS n_distinct,
       |       CAST(MIN($c) AS DOUBLE) AS min_val,
       |       CAST(MAX($c) AS DOUBLE) AS max_val
       |FROM lineitem""".stripMargin
  }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")

  // ---------------------------------------------------------------------
  // q109 — join/partition-key skew profiler: for each candidate key
  // column of lineitem, the statistics that decide a shuffle strategy
  // at 100 TB — distinct-key count, the heaviest key's absolute and
  // relative weight, and the mean rows-per-key. A key whose max_share
  // dwarfs 1/ndv is the key you salt (q31) or let AQE skew-split;
  // a near-uniform key can hash-partition plainly. This is the operator
  // that turns "the job is stuck on one task" into a measurement.
  //
  // Shape: per key column, ONE partial-aggregable count per key value
  // (shuffle carries |keys| partial counts), then a second aggregate of
  // that |keys|-sized frame down to one profile row; the per-column
  // profiles union into the report. All arithmetic is exact (counts;
  // shares rounded from one deterministic double division).
  // ---------------------------------------------------------------------
  private[graft] val SkewCols = Seq(
    "l_orderkey", "l_partkey", "l_suppkey", "l_returnflag", "l_linestatus")

  def q109SkewProfile(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    SkewCols.map { c =>
      li.groupBy(col(c)).agg(count(lit(1)).as("cnt"))
        .agg(count(lit(1)).as("n_distinct"),
          sum(col("cnt")).as("n_rows"),
          max(col("cnt")).as("max_rows"))
        .select(
          lit(c).as("key_col"), col("n_distinct"), col("n_rows"),
          col("max_rows"),
          round(col("max_rows").cast("double") / col("n_rows"), 9)
            .as("max_share"),
          round(col("n_rows").cast("double") / col("n_distinct"), 6)
            .as("mean_rows_per_key"))
    }.reduce(_.unionAll(_)).orderBy("key_col")
  }

  val q109Sql: String = SkewCols.map { c =>
    s"""SELECT '$c' AS key_col, COUNT(*) AS n_distinct,
       |       CAST(SUM(cnt) AS BIGINT) AS n_rows, MAX(cnt) AS max_rows,
       |       ROUND(CAST(MAX(cnt) AS DOUBLE) / SUM(cnt), 9) AS max_share,
       |       ROUND(CAST(SUM(cnt) AS DOUBLE) / COUNT(*), 6)
       |         AS mean_rows_per_key
       |FROM (SELECT $c, COUNT(*) AS cnt FROM lineitem GROUP BY $c)""".stripMargin
  }.mkString("", "\nUNION ALL\n", "\nORDER BY key_col")

  // ---------------------------------------------------------------------
  // q139 — foreign-key / join-cardinality profile: for each declared FK
  // edge, the referential-integrity verdict (orphan child rows) plus the
  // join-planning statistics (distinct child keys, referenced parent
  // keys, average fanout). The audit a migration/replication pipeline
  // runs before trusting a join, and the cardinality input a cost-based
  // join-order/broadcast decision consumes (q109 profiles one table's
  // skew; this profiles the EDGES between tables).
  //
  // Shape per edge: the child aggregates to |child keys| partial counts
  // (map-side combined), then ONE left join against the parent's
  // distinct-key frame classifies matched/orphan and folds to a 1-row
  // profile — shuffle volume is |keys|, never |rows|. Edges union into
  // the report. On clean data orphans are zero by construction — the
  // spec proves the detector fires by mutating a key (q132's pattern).
  // ---------------------------------------------------------------------
  private[graft] def fkEdges(spark: SparkSession, sfDir: String)
      : Seq[(String, DataFrame, String, DataFrame, String)] = Seq(
    ("lineitem.l_orderkey->orders",
      Tables.lineitem(spark, sfDir), "l_orderkey",
      Tables.orders(spark, sfDir), "o_orderkey"),
    ("orders.o_custkey->customer",
      Tables.orders(spark, sfDir), "o_custkey",
      Tables.customer(spark, sfDir), "c_custkey"),
    ("events.user_id->customer",
      Tables.events(spark, sfDir), "user_id",
      Tables.customer(spark, sfDir), "c_custkey"),
    ("lineitem.l_suppkey->supplier",
      Tables.lineitem(spark, sfDir), "l_suppkey",
      Tables.supplier(spark, sfDir), "s_suppkey"))

  def q139FkProfile(spark: SparkSession, sfDir: String): DataFrame =
    fkEdges(spark, sfDir).map { case (name, child, ck, parent, pk) =>
      fkProfileEdge(name, child, ck, parent, pk)
    }.reduce(_.unionAll(_)).orderBy("edge")

  /** One edge's profile — split out so a spec can profile a mutated
    * child and assert the orphan detector fires. */
  private[graft] def fkProfileEdge(name: String, child: DataFrame,
      ck: String, parent: DataFrame, pk: String): DataFrame = {
    val ckeys = child.groupBy(col(ck).as("k")).agg(count(lit(1)).as("cnt"))
    val pkeys = parent.select(col(pk).as("k")).distinct()
      .withColumn("matched", lit(1))
    ckeys.join(pkeys, Seq("k"), "left")
      .agg(count(lit(1)).as("n_child_keys"),
        sum(col("cnt")).as("n_child_rows"),
        sum(when(col("matched").isNull, col("cnt")).otherwise(0L))
          .as("n_orphan_rows"),
        sum(when(col("matched").isNull, 1L).otherwise(0L))
          .as("n_orphan_keys"),
        sum(when(col("matched").isNotNull, 1L).otherwise(0L))
          .as("n_ref_parent_keys"))
      .select(lit(name).as("edge"), col("n_child_rows"),
        col("n_child_keys"), col("n_orphan_rows"), col("n_orphan_keys"),
        col("n_ref_parent_keys"),
        round(col("n_child_rows").cast("double") /
          col("n_ref_parent_keys"), 6).as("avg_fanout"))
  }

  private val fkEdgeSqls = Seq(
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
      "orders", "o_orderkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey",
      "customer", "c_custkey"),
    ("events.user_id->customer", "events", "user_id",
      "customer", "c_custkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
      "supplier", "s_suppkey"))

  // ---------------------------------------------------------------------
  // q173 — k-anonymity / l-diversity privacy audit: for every
  // quasi-identifier equivalence class, the re-identification statistics
  // a release-review runs before publishing a table (Sweeney 2002's
  // k-anonymity; Machanavajjhala et al. 2007's l-diversity). QI =
  // (nation, account-balance band); sensitive attribute = market
  // segment. k = class size (a class of 1 is a direct re-identification;
  // k < 5 is the conventional suppression threshold), l = distinct
  // sensitive values in the class (l = 1 means membership alone
  // discloses the sensitive attribute even at large k).
  //
  // Shape: ONE partial-aggregable groupBy on the QI columns; the exact
  // distinct-segment count shuffles (QI, segment) pairs — bounded by
  // |classes| x |segments|, never row count. Output is one row per
  // occupied class. The banding floor(c_acctbal/1000) is a single IEEE
  // division + floor, bit-identical in Spark and DuckDB.
  // ---------------------------------------------------------------------
  private[graft] val KAnonThreshold = 5L // classes below this are suppressed
  private[graft] val LDivThreshold  = 2L // classes below this leak the attribute
  private[graft] val BalBandWidth   = 1000.0

  /** Per-class audit over any frame: `qi` columns define the class,
    * `sensitive` is the disclosure-risk attribute. */
  private[graft] def kAnonymityAudit(df: DataFrame, qi: Seq[String],
      sensitive: String): DataFrame =
    df.groupBy(qi.map(col): _*)
      .agg(count(lit(1)).as("k"),
        count_distinct(col(sensitive)).as("l"))
      .select(qi.map(col) ++ Seq(col("k"), col("l"),
        (col("k") < KAnonThreshold || col("l") < LDivThreshold)
          .as("at_risk")): _*)
      .orderBy(qi.map(col): _*)

  def q173KAnonymity(spark: SparkSession, sfDir: String): DataFrame =
    kAnonymityAudit(
      Tables.customer(spark, sfDir)
        .select(col("c_nationkey").as("nation"),
          floor(col("c_acctbal") / BalBandWidth).as("bal_band"),
          col("c_mktsegment")),
      Seq("nation", "bal_band"), "c_mktsegment")

  val q173Sql: String =
    s"""SELECT c_nationkey AS nation,
       |       CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
       |       COUNT(*) AS k,
       |       COUNT(DISTINCT c_mktsegment) AS l,
       |       (COUNT(*) < $KAnonThreshold
       |         OR COUNT(DISTINCT c_mktsegment) < $LDivThreshold) AS at_risk
       |FROM customer
       |GROUP BY 1, 2
       |ORDER BY nation, bal_band""".stripMargin

  // ---------------------------------------------------------------------
  // q175 — EXACT order-statistic quantiles of a continuous column by
  // iterative bucket narrowing (the BigQuery/Hive "exact percentile
  // without a global sort" recipe). q120's exact `percentile` aggregate
  // buffers a count-per-distinct-value map — fine for bounded-domain
  // ints, corpus-sized (and fatal) for a continuous double like
  // l_extendedprice; q57's GK sketch is approximate by design. This
  // operator returns the EXACT k-th smallest value with bounded memory
  // everywhere: each pass histograms the candidate range into `SelectB`
  // buckets (one partial-aggregable scan; the driver holds <= SelectB
  // counts, never values), walks the cumulative counts to the bucket
  // containing the rank, and recurses into it; when the candidate set
  // fits `SelectThreshold` rows, one bounded top-k finishes exactly.
  // Passes are O(log_B(n / threshold)) — 2 scans at 10^12 rows.
  //
  // Cross-engine exactness: k = ceil(q * n) is the same IEEE double
  // product + ceil both engines evaluate; the returned value is a raw
  // data value (no interpolation), so the hash gate compares bit-exact
  // doubles.
  // ---------------------------------------------------------------------
  private[graft] val QuantileQs      = Seq(0.5, 0.9, 0.99)
  private[graft] val SelectB         = 1024
  private[graft] val SelectThreshold = 65536L

  /** Exact k-th smallest (1-indexed) of non-null double column `v`. */
  private[graft] def exactKth(vals: DataFrame, k: Long,
      buckets: Int = SelectB, threshold: Long = SelectThreshold): Double = {
    var cur = vals
    var rank = k
    while (true) {
      val head = cur.agg(min(col("v")), max(col("v")), count(lit(1))).head()
      val (lo, hi, n) = (head.getDouble(0), head.getDouble(1), head.getLong(2))
      val width = (hi - lo) / buckets
      // width == 0 covers both the all-equal bucket and (hi - lo)
      // underflow — either way every candidate is lo to within 2^-1022.
      if (lo == hi || width == 0.0) return lo
      if (n <= threshold)
        // Bounded final selection: rank <= n <= threshold by invariant.
        return cur.orderBy(col("v")).limit(rank.toInt)
          .agg(max(col("v"))).head().getDouble(0)
      val bexpr = least(greatest(
        floor((col("v") - lit(lo)) / lit(width)), lit(0.0)),
        lit((buckets - 1).toDouble)).cast("int")
      // <= SelectB count rows cross the driver per pass — bounded by
      // construction at any corpus size.
      val counts = cur.groupBy(bexpr.as("b")).agg(count(lit(1)).as("c"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      var acc = 0L
      var b = 0
      while (acc + counts.getOrElse(b, 0L) < rank) {
        acc += counts.getOrElse(b, 0L); b += 1
      }
      rank -= acc
      cur = cur.filter(bexpr === lit(b))
    }
    Double.NaN // unreachable
  }

  def q175ExactQuantile(spark: SparkSession, sfDir: String): DataFrame = {
    val vals = Tables.lineitem(spark, sfDir)
      .select(col("l_extendedprice").as("v")).cache()
    val n = vals.count()
    val rows = QuantileQs.map { q =>
      val k = math.max(1L, math.ceil(q * n).toLong)
      (q, k, exactKth(vals, k))
    }
    vals.unpersist()
    import spark.implicits._
    rows.toDF("q", "k", "value").orderBy("q")
  }

  /** Oracle pins the identical rank rule: k = ceil(q * n) as an IEEE
    * DOUBLE product (the quantile literals are cast to DOUBLE so DuckDB
    * does not silently use exact DECIMAL arithmetic where Spark used
    * binary doubles), value = the k-th smallest by row_number. */
  val q175Sql: String =
    s"""WITH v AS (SELECT l_extendedprice AS x FROM lineitem),
       |n AS (SELECT COUNT(*) AS n FROM v),
       |r AS (SELECT x, row_number() OVER (ORDER BY x) AS rn FROM v),
       |qs AS (SELECT CAST(q AS DOUBLE) AS q
       |       FROM (VALUES (0.5), (0.9), (0.99)) t(q))
       |SELECT qs.q,
       |       greatest(1, CAST(ceil(qs.q * n.n) AS BIGINT)) AS k,
       |       r.x AS value
       |FROM qs CROSS JOIN n
       |JOIN r ON r.rn = greatest(1, CAST(ceil(qs.q * n.n) AS BIGINT))
       |ORDER BY q""".stripMargin

  // ---------------------------------------------------------------------
  // q176 — Benford first-digit audit: the leading-digit distribution of
  // a naturally-occurring numeric column against Benford's law
  // (Newcomb 1881 / Benford 1938; the standard fabricated-data /
  // generation-bug detector in data-quality suites — synthetic or
  // truncated pipelines skew the first digit long before summary stats
  // move). Emits per digit the observed count/share, the Benford
  // expectation, and the chi-square contribution; the caller thresholds
  // the sum.
  //
  // Shape: one pure projection (floor → int → first char: NO
  // double→decimal rounding anywhere, so both engines extract the
  // identical digit) + one 9-group aggregate + a broadcast 1-row total.
  // The expected shares are 6-dp literals (identical text both sides),
  // not engine-evaluated log10 calls — libm log10 is only ≤1-ulp
  // correct and must not enter the hash-compared output.
  // ---------------------------------------------------------------------
  private[graft] val BenfordExpected: Seq[(Int, Double)] = Seq(
    1 -> 0.301030, 2 -> 0.176091, 3 -> 0.124939, 4 -> 0.096910,
    5 -> 0.079181, 6 -> 0.066947, 7 -> 0.057992, 8 -> 0.051153,
    9 -> 0.045757)

  def q176Benford(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val digits = Tables.lineitem(spark, sfDir)
      .filter(col("l_extendedprice") >= 1.0)
      .select(substring(floor(col("l_extendedprice")).cast("string"), 1, 1)
        .cast("int").as("digit"))
    val counts = digits.groupBy(col("digit")).agg(count(lit(1)).as("n"))
    // every row carries a digit, so the grand total is the sum of the
    // 9-row aggregate — never a second corpus scan
    val total = counts.agg(sum(col("n")).as("total"))
    val grid = BenfordExpected.toDF("digit", "expected")
    grid.join(counts, Seq("digit"), "left")
      .crossJoin(broadcast(total))
      .select(col("digit"),
        coalesce(col("n"), lit(0L)).as("n"),
        (coalesce(col("n"), lit(0L)).cast("double") / col("total"))
          .as("share"),
        col("expected"),
        ((coalesce(col("n"), lit(0L)).cast("double")
          - col("expected") * col("total"))
          * (coalesce(col("n"), lit(0L)).cast("double")
            - col("expected") * col("total"))
          / (col("expected") * col("total"))).as("chi2_term"))
      .orderBy("digit")
  }

  val q176Sql: String = {
    val expectedCase = BenfordExpected
      .map { case (d, e) => s"WHEN $d THEN CAST($e AS DOUBLE)" }
      .mkString("CASE g.digit ", " ", " END")
    s"""WITH v AS (
       |  SELECT substr(CAST(CAST(floor(l_extendedprice) AS BIGINT)
       |                     AS VARCHAR), 1, 1)::INT AS digit
       |  FROM lineitem WHERE l_extendedprice >= 1.0),
       |c AS (SELECT digit, COUNT(*) AS n FROM v GROUP BY digit),
       |tot AS (SELECT COUNT(*) AS total FROM v),
       |g AS (SELECT unnest(range(1, 10))::INT AS digit)
       |SELECT g.digit, COALESCE(c.n, 0) AS n,
       |       CAST(COALESCE(c.n, 0) AS DOUBLE) / total AS share,
       |       $expectedCase AS expected,
       |       (CAST(COALESCE(c.n, 0) AS DOUBLE)
       |          - ($expectedCase) * total)
       |         * (CAST(COALESCE(c.n, 0) AS DOUBLE)
       |          - ($expectedCase) * total)
       |         / (($expectedCase) * total) AS chi2_term
       |FROM g LEFT JOIN c ON g.digit = c.digit, tot
       |ORDER BY g.digit""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q177 — exact two-sample Kolmogorov–Smirnov drift test between two
  // snapshot halves of a continuous column: D = max over values of
  // |F_a(v) - F_b(v)|, plus the 5%-level decision threshold
  // 1.358·sqrt((n_a+n_b)/(n_a·n_b)). THE feature-drift gate a training
  // pipeline runs between yesterday's and today's extract — approximate
  // KS (sketched CDFs) can silently under-call drift; this is exact.
  //
  // Scale shape: the naive plan is a global ORDER BY window over every
  // distinct value — a single task holding a corpus-sized CDF. This is
  // the q95 two-pass prefix-sum shape instead: per-value (na, nb)
  // counts range-partition by value with the layout FROZEN by a cache;
  // pass 1 sends P partial sums to the driver (P pairs of longs);
  // pass 2 broadcasts the prefix offsets and each partition emits its
  // running CDF locally. The max-D row then reduces via one bounded
  // top-1 (TakeOrderedAndProject), never a global sort.
  //
  // Float discipline: F_a, F_b, their difference, and the threshold are
  // fixed single-IEEE-op chains over exact integers, mirrored verbatim
  // in the oracle; ties on D resolve by smallest value both sides.
  // ---------------------------------------------------------------------
  private[graft] val KsParts  = 8
  private[graft] val KsCritical = 1.358 // alpha = 0.05 asymptotic constant

  def q177KsDrift(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val tagged = Tables.lineitem(spark, sfDir)
      .select(col("l_extendedprice").as("v"),
        (pmod(col("l_orderkey"), lit(2)) === 0).as("a"))
    val (perValue, offsets, totals) = TwoPass.frozenPrefix(
      tagged.groupBy(col("v"))
        .agg(sum(when(col("a"), 1L).otherwise(0L)).as("na"),
          sum(when(!col("a"), 1L).otherwise(0L)).as("nb")),
      KsParts, Seq(col("v")), Seq(sum(col("na")), sum(col("nb"))))
    val (nA, nB) = (totals(0), totals(1))
    val bc = spark.sparkContext.broadcast(offsets)

    // pass 2: running CDF per frozen partition (rows are value-sorted)
    val cdf = perValue.as[(Double, Long, Long)].mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val off = bc.value.get(pid)
      var ca = off.map(_(0)).getOrElse(0L)
      var cb = off.map(_(1)).getOrElse(0L)
      it.map { case (v, na, nb) =>
        ca += na; cb += nb
        (v, math.abs(ca.toDouble / nA - cb.toDouble / nB))
      }
    }.toDF("at_value", "d_stat")

    val top = cdf.orderBy(col("d_stat").desc, col("at_value").asc).limit(1)
    val out = top.select(
      lit(nA).as("n_a"), lit(nB).as("n_b"),
      col("at_value"), col("d_stat"),
      (col("d_stat") > lit(KsCritical) *
        sqrt((lit(nA).cast("double") + lit(nB).cast("double"))
          / (lit(nA).cast("double") * lit(nB).cast("double"))))
        .as("drift"))
      .localCheckpoint(true) // materialize before releasing the layout
    perValue.unpersist()
    out
  }

  val q177Sql: String =
    s"""WITH s AS (
       |  SELECT l_extendedprice AS v, l_orderkey % 2 = 0 AS a
       |  FROM lineitem),
       |g AS (
       |  SELECT v, SUM(CASE WHEN a THEN 1 ELSE 0 END) AS na,
       |         SUM(CASE WHEN NOT a THEN 1 ELSE 0 END) AS nb
       |  FROM s GROUP BY v),
       |tot AS (
       |  SELECT CAST(SUM(na) AS BIGINT) AS ta, CAST(SUM(nb) AS BIGINT) AS tb
       |  FROM g),
       |c AS (
       |  SELECT v, SUM(na) OVER (ORDER BY v) AS ca,
       |         SUM(nb) OVER (ORDER BY v) AS cb
       |  FROM g),
       |d AS (
       |  SELECT v, abs(CAST(ca AS DOUBLE) / ta - CAST(cb AS DOUBLE) / tb)
       |           AS d
       |  FROM c, tot)
       |SELECT ta AS n_a, tb AS n_b, v AS at_value, d AS d_stat,
       |       d > $KsCritical * sqrt((CAST(ta AS DOUBLE) + CAST(tb AS DOUBLE))
       |             / (CAST(ta AS DOUBLE) * CAST(tb AS DOUBLE))) AS drift
       |FROM d, tot
       |ORDER BY d_stat DESC, at_value ASC
       |LIMIT 1""".stripMargin

  val q139Sql: String = fkEdgeSqls.map { case (name, ct, ck, pt, pk) =>
    s"""SELECT '$name' AS edge,
       |       CAST(SUM(cnt) AS BIGINT) AS n_child_rows,
       |       COUNT(*) AS n_child_keys,
       |       CAST(SUM(CASE WHEN p.k IS NULL THEN cnt ELSE 0 END) AS BIGINT)
       |         AS n_orphan_rows,
       |       CAST(SUM(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_orphan_keys,
       |       CAST(SUM(CASE WHEN p.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_ref_parent_keys,
       |       round(CAST(SUM(cnt) AS DOUBLE) /
       |             SUM(CASE WHEN p.k IS NOT NULL THEN 1 ELSE 0 END), 6)
       |         AS avg_fanout
       |FROM (SELECT $ck AS k, COUNT(*) AS cnt FROM $ct GROUP BY 1) c
       |LEFT JOIN (SELECT DISTINCT $pk AS k FROM $pt) p USING (k)""".stripMargin
  }.mkString("", "\nUNION ALL\n", "\nORDER BY edge")

  // ---------------------------------------------------------------------
  // q201 — Poisson bootstrap (Chamandy et al. 2012, "Estimating
  // Uncertainty for Massive Data Streams"): B resample estimates of the
  // mean document length WITHOUT materializing resamples — each row
  // contributes a deterministic Poisson(1) weight per resample, so the
  // whole bootstrap is ONE scan with a B-way explode folding into B
  // groups. The uncertainty-quantification op a 100 TB pipeline runs
  // where classic bootstrap (shuffle n rows B times) is impossible:
  // per-partition state is B running (Σwx, Σw) pairs, map-side
  // combinable, and B=32 means 64 longs of state.
  //
  // DETERMINISTIC parity: weights come from an md5-uniform (q200 idiom)
  // pushed through the exact Poisson(1) inverse CDF — the threshold
  // CASE expression is ONE string shared verbatim with the oracle
  // (q196 idiom), every sum is an exact BIGINT, and the only double is
  // the final 6-dp-rounded resample mean.
  // ---------------------------------------------------------------------
  private[graft] val BootB = 32

  /** Poisson(1) inverse CDF over a uniform column `u` — cumulative
    * probabilities e^{-1} Σ 1/k!, written once for both engines. */
  private val bootWExpr: String =
    """CASE WHEN u < 0.36787944117144233 THEN 0
      |     WHEN u < 0.7357588823428847  THEN 1
      |     WHEN u < 0.9196986029286058  THEN 2
      |     WHEN u < 0.9810118431238462  THEN 3
      |     WHEN u < 0.9963401531726563  THEN 4
      |     WHEN u < 0.9994058151824183  THEN 5
      |     WHEN u < 0.9999167588507119  THEN 6
      |     ELSE 7 END""".stripMargin.replace('\n', ' ').replaceAll(" +", " ")

  def q201PoissonBoot(spark: SparkSession, sfDir: String): DataFrame = {
    val weighted = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars"),
        explode(lit((0 until BootB).toArray)).as("b"))
      .selectExpr("b", "n_chars",
        "(CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':', CAST(b AS STRING))), 1, 12), 16, 10) AS DOUBLE) + 1.0D)" +
          " / 281474976710657.0D AS u")
      .selectExpr("b", "n_chars", s"$bootWExpr AS w")
    weighted.groupBy(col("b").as("resample"))
      .agg(sum(col("w")).as("n_eff"),
        sum(col("w") * col("n_chars")).as("swx"))
      .selectExpr("CAST(resample AS BIGINT) AS resample",
        "CAST(n_eff AS BIGINT) AS n_eff",
        "ROUND(CAST(swx AS DOUBLE) / n_eff, 6) AS boot_mean")
      .orderBy("resample")
  }

  // ---------------------------------------------------------------------
  // q202 — CUSUM changepoint localization per source: where, in doc_id
  // (ingestion) order, did a source's document-length level shift? The
  // drift-monitoring read a curation pipeline runs per ingest batch —
  // CUSUM's argmax is the classic single-changepoint estimator.
  //
  // EXACT arithmetic: the centered cusum Σ_{i<=k}(x_i − μ) is kept in
  // SCALED integer form n·prefix_k − k·S (multiply through by n to
  // clear μ = S/n), so the peak and its argmax are exact BIGINTs and
  // ties resolve to the smallest doc_id in both engines. The only
  // double is the final normalized drift = peak / (n·S).
  //
  // Scale shape: per-source running sums are the q95 FROZEN TWO-PASS
  // prefix scan — range-partition by (source, doc_id), per-partition
  // per-source partials to the driver (2·S·P longs), then a
  // mapPartitions pass adds offsets — never an ORDER BY-without-
  // PARTITION window (single-task at 100 TB, per-source partitions are
  // corpus-sized there). The argmax is max-then-equi-join, no sort.
  // ---------------------------------------------------------------------
  private val CusumParts = 8

  def q202SourceCusum(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.documents(spark, sfDir)
      .select(col("source"), col("doc_id"), col("n_chars"))
    val sources = base.select("source").distinct()
      .collect().map(_.getString(0)).sorted
    val sIdx = sources.zipWithIndex.toMap
    val weights = sources.toSeq.flatMap { s =>
      Seq(sum(when(col("source") === s, col("n_chars")).otherwise(0L)),
        sum(when(col("source") === s, 1L).otherwise(0L)))
    }
    val (frozen, offsets, totals) = TwoPass.frozenPrefix(
      base, CusumParts, Seq(col("source"), col("doc_id")), weights)
    val bcOff = spark.sparkContext.broadcast(offsets)
    val bcIdx = spark.sparkContext.broadcast(sIdx)
    // pass 2: per-source running (Σx, k) within each frozen partition
    val cusum = frozen.as[(String, Long, Long)].mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val idx = bcIdx.value
      val off = bcOff.value.getOrElse(pid, Array.fill(2 * idx.size)(0L))
      val runX = off.indices.collect { case i if i % 2 == 0 => off(i) }.toArray
      val runK = off.indices.collect { case i if i % 2 == 1 => off(i) }.toArray
      it.map { case (src, docId, x) =>
        val i = idx(src)
        runX(i) += x; runK(i) += 1
        (src, docId, runX(i), runK(i))
      }
    }.toDF("source", "doc_id", "px", "k")
      .localCheckpoint(true) // materialize before releasing the layout
    frozen.unpersist()
    val tot = sources.toSeq.map(s =>
      (s, totals(2 * sIdx(s) + 1), totals(2 * sIdx(s)))).toDF("source", "n", "s")
    val a = cusum.join(broadcast(tot), Seq("source"))
      .select(col("source"), col("doc_id"),
        abs(col("n") * col("px") - col("k") * col("s")).as("a"))
    val peaks = a.groupBy("source").agg(max(col("a")).as("peak"))
    a.join(broadcast(peaks), Seq("source"))
      .filter(col("a") === col("peak"))
      .groupBy(col("source"), col("peak"))
      .agg(min(col("doc_id")).as("cp_doc_id"))
      .join(broadcast(tot), Seq("source"))
      .select(col("source"), col("n").as("n_docs"), col("cp_doc_id"),
        col("peak").as("peak_scaled"),
        round(col("peak").cast("double") /
          (col("n") * col("s").cast("double")), 9).as("drift"))
      .orderBy("source")
  }

  val q202Sql: String =
    """WITH t AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
      |                  CAST(SUM(n_chars) AS BIGINT) AS s
      |           FROM documents GROUP BY source),
      |c AS (SELECT d.source, d.doc_id,
      |             ABS(t.n * CAST(SUM(d.n_chars) OVER (PARTITION BY d.source
      |                              ORDER BY d.doc_id) AS BIGINT)
      |                 - ROW_NUMBER() OVER (PARTITION BY d.source
      |                                      ORDER BY d.doc_id) * t.s) AS a
      |      FROM documents d JOIN t USING (source)),
      |p AS (SELECT source, MAX(a) AS peak FROM c GROUP BY source),
      |cp AS (SELECT c.source, p.peak, MIN(c.doc_id) AS cp_doc_id
      |       FROM c JOIN p ON p.source = c.source AND c.a = p.peak
      |       GROUP BY 1, 2)
      |SELECT cp.source, t.n AS n_docs, cp.cp_doc_id,
      |       CAST(cp.peak AS BIGINT) AS peak_scaled,
      |       ROUND(CAST(cp.peak AS DOUBLE) / (t.n * CAST(t.s AS DOUBLE)), 9)
      |         AS drift
      |FROM cp JOIN t USING (source)
      |ORDER BY source""".stripMargin

  val q201Sql: String =
    s"""WITH j AS (SELECT UNNEST(RANGE(0, $BootB)) AS b),
       |u0 AS (
       |  SELECT j.b, d.n_chars,
       |         (CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':' || CAST(j.b AS VARCHAR)), 1, 12))::BIGINT AS DOUBLE) + 1.0)
       |           / 281474976710657.0 AS u
       |  FROM documents d CROSS JOIN j),
       |w AS (SELECT b, n_chars, $bootWExpr AS w FROM u0)
       |SELECT CAST(b AS BIGINT) AS resample,
       |       CAST(SUM(w) AS BIGINT) AS n_eff,
       |       ROUND(CAST(CAST(SUM(w * n_chars) AS BIGINT) AS DOUBLE)
       |             / CAST(SUM(w) AS BIGINT), 6) AS boot_mean
       |FROM w GROUP BY b ORDER BY resample""".stripMargin

  // ---------------------------------------------------------------------
  // q210 — AMS / Tug-of-War F2 sketch (Alon–Matias–Szegedy 1996):
  // estimate the second frequency moment of l_partkey — which IS the
  // self-join size Σf² — from 32 one-pass ±1-signed counters, with the
  // exact F2 alongside pinning the measured error. F2 is THE planner
  // statistic behind join-size estimation and skew detection; the
  // sketch answers it in O(J) space per partition where the exact
  // answer needs the full key histogram. Fourth sketch family next to
  // q34 (HLL cardinality), q194 (CMS frequencies), q203/q206 (KMV
  // distinct/overlap).
  //
  // Estimator: Z_j = Σ_k s_j(k)·f(k) with md5-derived ±1 signs;
  // E[Z²] = F2. Median-of-means over 4 groups of 8 — and every step is
  // EXACT INTEGER (Z exact BIGINT, group mean = sum(Z²) div 8, median
  // of 4 = avg of the middle two), so both engines compute the
  // identical estimate. int64 headroom: Z² ≤ (Σf)², fine through ~3e9
  // rows per key-space; past that the counters move to DECIMAL(38)
  // with the same algebra.
  //
  // Aggregation shape: key histogram first (one shuffle), then the
  // J-way explode runs over the KEY frame, not the row frame — sketch
  // build cost is J·|keys|, map-side-combinable into J longs.
  // ---------------------------------------------------------------------
  private[graft] val AmsJ = 32

  def q210AmsF2(spark: SparkSession, sfDir: String): DataFrame = {
    val f = amsFreqs(spark.read.parquet(s"$sfDir/lineitem.parquet"))
      .cache() // feeds the exact F2 AND the J sketch lines
    amsResult(amsLines(f), f)
  }

  /** q210's key histogram (l_partkey, f) of the lineitem rows `rows`. */
  private[graft] def amsFreqs(rows: DataFrame): DataFrame =
    rows.groupBy(col("l_partkey")).agg(count(lit(1)).as("f"))

  /** The J sketch lines (j, z) of the key histogram `f`: Z_j, linear in f. */
  private[graft] def amsLines(f: DataFrame): DataFrame =
    f.select(col("l_partkey"), col("f"),
        explode(expr(s"sequence(1, $AmsJ)")).as("j"))
      .select(col("j"), expr(
        "CASE WHEN CAST(conv(substring(md5(concat(CAST(j AS STRING), ':'," +
          " CAST(l_partkey AS STRING))), 1, 8), 16, 10) AS BIGINT) % 2 = 0" +
          " THEN f ELSE -f END").as("sf"))
      .groupBy(col("j")).agg(sum(col("sf")).as("z"))

  /** q210's output row: the median-of-means estimate over the sketch
    * lines `z` (j, z) beside the exact F2 of the key histogram `f`. */
  private[graft] def amsResult(z: DataFrame, f: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val exact = f.agg(count(lit(1)).as("n_keys"), sum(col("f")).as("n_rows"),
      sum(expr("f * f")).as("exact_f2"))
    val means = z.selectExpr("(j - 1) div 8 AS grp", "z * z AS z2")
      .groupBy(col("grp")).agg(expr("sum(z2) div 8").as("m"))
    val med = means
      .withColumn("rn", row_number().over(Window.orderBy("m", "grp")))
      .filter(col("rn") === 2 || col("rn") === 3)
      .agg(expr("sum(m) div 2").as("est_f2"))
    med.crossJoin(exact) // 1 row x 1 row
      .selectExpr("n_keys", "n_rows", "exact_f2", "est_f2",
        "1000000L * abs(est_f2 - exact_f2) div exact_f2 AS err_ppm")
  }

  // ---------------------------------------------------------------------
  // q213 — t-closeness audit (Li–Li–Venkatasubramanian ICDE 2007), the
  // third leg of the release-review triad after q173's k-anonymity and
  // l-diversity: a class can be large (k ok) and diverse (l ok) yet
  // still leak — when its sensitive-value DISTRIBUTION deviates from
  // the table's, membership shifts an attacker's posterior. For a
  // categorical sensitive attribute under uniform ground distance the
  // EMD in the paper reduces to total variation, which is EXACT in
  // scaled integers: tv_ppm = 1e6·Σ_v|cnt_cv·N − cnt_v·k| / (2·k·N) —
  // no floats anywhere, both engines bit-identical.
  //
  // Shape: per-(class, value) counts shuffle |classes|×|values| pairs
  // (never rows); the class×value grid is catalog-sized (q64's pattern)
  // so absent values contribute their full cnt_v·k mass — forgetting
  // them UNDERSTATES the leak, the classic implementation bug.
  // ---------------------------------------------------------------------
  private[graft] val TCloseThresholdPpm = 400000L

  def q213TCloseness(spark: SparkSession, sfDir: String): DataFrame = {
    val rows = Tables.customer(spark, sfDir)
      .select(col("c_nationkey").as("nation"),
        floor(col("c_acctbal") / BalBandWidth).as("bal_band"),
        col("c_mktsegment").as("seg"))
      .cache()
    val cls = rows.groupBy(col("nation"), col("bal_band"), col("seg"))
      .agg(count(lit(1)).as("cnt_cv"))
    val classes = rows.groupBy(col("nation"), col("bal_band"))
      .agg(count(lit(1)).as("k"))
    val glob = rows.groupBy(col("seg")).agg(count(lit(1)).as("cnt_v"))
    val tot = rows.agg(count(lit(1)).as("n_total"))
    classes.crossJoin(broadcast(glob)) // |classes| x |values| grid
      .join(cls, Seq("nation", "bal_band", "seg"), "left")
      .crossJoin(broadcast(tot))
      .selectExpr("nation", "bal_band", "k", "n_total",
        "abs(coalesce(cnt_cv, 0L) * n_total - cnt_v * k) AS d")
      .groupBy(col("nation"), col("bal_band"), col("k"), col("n_total"))
      .agg(sum(col("d")).as("sdiff"))
      .selectExpr("nation", "bal_band", "k",
        "1000000L * sdiff div (2L * k * n_total) AS tv_ppm",
        s"1000000L * sdiff div (2L * k * n_total) >= $TCloseThresholdPpm" +
          " AS t_breach")
      .orderBy("nation", "bal_band")
  }

  val q213Sql: String =
    s"""WITH rows_ AS (
       |  SELECT c_nationkey AS nation,
       |         CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
       |         c_mktsegment AS seg
       |  FROM customer),
       |cls AS (SELECT nation, bal_band, seg, CAST(COUNT(*) AS BIGINT) AS cnt_cv
       |        FROM rows_ GROUP BY 1, 2, 3),
       |classes AS (SELECT nation, bal_band, CAST(COUNT(*) AS BIGINT) AS k
       |            FROM rows_ GROUP BY 1, 2),
       |gseg AS (SELECT seg, CAST(COUNT(*) AS BIGINT) AS cnt_v
       |         FROM rows_ GROUP BY 1),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM rows_),
       |grid AS (
       |  SELECT c.nation, c.bal_band, c.k, t.n_total,
       |         ABS(COALESCE(x.cnt_cv, 0) * t.n_total - g.cnt_v * c.k) AS d
       |  FROM classes c CROSS JOIN gseg g CROSS JOIN tot t
       |  LEFT JOIN cls x ON x.nation = c.nation AND x.bal_band = c.bal_band
       |                 AND x.seg = g.seg),
       |agg AS (SELECT nation, bal_band, k, n_total,
       |               CAST(SUM(d) AS BIGINT) AS sdiff
       |        FROM grid GROUP BY 1, 2, 3, 4)
       |SELECT nation, bal_band, k,
       |       1000000 * sdiff // (2 * k * n_total) AS tv_ppm,
       |       1000000 * sdiff // (2 * k * n_total) >= $TCloseThresholdPpm
       |         AS t_breach
       |FROM agg
       |ORDER BY nation, bal_band""".stripMargin

  val q210Sql: String =
    s"""WITH f AS MATERIALIZED (
       |  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS f
       |  FROM lineitem GROUP BY 1),
       |ex AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
       |         CAST(SUM(f) AS BIGINT) AS n_rows,
       |         CAST(SUM(f * f) AS BIGINT) AS exact_f2
       |  FROM f),
       |z AS (
       |  SELECT j,
       |         CAST(SUM(CASE WHEN ('0x' || substr(md5(CAST(j AS VARCHAR)
       |                    || ':' || CAST(l_partkey AS VARCHAR)), 1, 8))::BIGINT
       |                    % 2 = 0
       |                  THEN f ELSE -f END) AS BIGINT) AS z
       |  FROM f CROSS JOIN (SELECT UNNEST(RANGE(1, ${AmsJ + 1})) AS j)
       |  GROUP BY j),
       |m AS (
       |  SELECT (j - 1) // 8 AS grp, CAST(SUM(z * z) AS BIGINT) // 8 AS m
       |  FROM z GROUP BY 1),
       |med AS (
       |  SELECT CAST(SUM(m) AS BIGINT) // 2 AS est_f2 FROM
       |    (SELECT m, row_number() OVER (ORDER BY m, grp) AS rn FROM m)
       |  WHERE rn IN (2, 3))
       |SELECT n_keys, n_rows, exact_f2, est_f2,
       |       1000000 * ABS(est_f2 - exact_f2) // exact_f2 AS err_ppm
       |FROM med CROSS JOIN ex""".stripMargin
}
