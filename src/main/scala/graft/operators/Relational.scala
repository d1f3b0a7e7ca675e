package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.functions.GraftFunctions.{exactSum, exactSumOfStates, exactSumState}

/** Batch relational + event-time-window operators.
  *
  * Covers the reference's operator inventory (SURVEY.md §2) re-expressed as
  * declarative DataFrame plans: flat-map/filter projection surface
  * (`rlink/src/core/function.rs:185-207`), keyed reduce
  * (`rlink/src/functions/reduce/schema_reduce.rs:490-598`), sliding/tumbling
  * event-time windows (`rlink/src/functions/window/mod.rs:27-78`), range
  * window filter (`rlink/src/functions/filter/range_window_filter.rs:9-78`),
  * and broadcast config/dimension enrichment — the connect/CoProcess use
  * case (`rlink/src/core/data_stream.rs:143-148`). Plus the relational ops
  * the reference lacks but a complete engine exposes (joins, set ops,
  * rollup, distinct aggregates, top-k, analytic windows).
  *
  * Scale notes (100 TB design intent):
  *  - Aggregations are plain `groupBy(...).agg(...)` → Catalyst plans
  *    partial (map-side) aggregation before the shuffle; group-key
  *    cardinality here (event_type × window, user_id) is low relative to
  *    input, so the shuffle carries only partial aggregates.
  *  - The dimension join (q06) broadcasts the small side explicitly —
  *    no shuffle of the fact table.
  *  - The fact-fact join (q09) is a shuffle hash/sort-merge join on the
  *    join key with AQE free to pick; both sides aggregate after the join
  *    with partial aggregation.
  *  - Double sums are computed as exact decimal sums cast back to double:
  *    bit-identical results regardless of partitioning / merge order —
  *    required for oracle hash-parity and a property the reference (single
  *    reduce step, fixed order) gets implicitly.
  */
object Relational {

  /** Order-insensitive exact sum of a double column: the exact
    * `DECIMAL(25,6)` sum ([[exactSum]]), cast back. Deterministic under any
    * partitioning — safe for distributed re-aggregation AND exactly
    * reproducible in the DuckDB oracle. */
  def dsum(c: Column): Column = exactSum(c).cast("double")

  /** Exact average with deterministic double division. */
  def davg(c: Column): Column = (dsum(c) / count(c)).cast("double")

  // ---------------------------------------------------------------------
  // q01 — flagship sliding event-time window aggregation
  // (reference example-simple: window(60s,20s) + sum/max/min/count,
  //  `example/example-simple/src/app.rs:34-67`)
  //
  // Pane decomposition ("No Pane, No Gain", Li et al., SIGMOD Record
  // 34(1) 2005): a 60s/20s sliding window = 3 disjoint 20s tumbling
  // panes, so aggregate each input row into its ONE pane first, then
  // combine each pane-aggregate into the 3 windows it feeds. Versus
  // windowing raw rows (which expands every input row 3x before the
  // partial aggregate), per-row aggregation work drops 3x and the
  // shuffle carries pane-level keys (1/3 of the window-level partials) —
  // the difference between shuffling |input|-proportional expansion and
  // |panes|-proportional aggregates at 100 TB. Exactness: each pane
  // carries its exact DECIMAL(25,6) sum as a fixed-point state that the
  // windows merge exactly (exactSumState -> exactSumOfStates), and
  // max/min/count compose — output is bit-identical to the direct
  // formulation and the oracle.
  // ---------------------------------------------------------------------
  def q01SlidingWindowAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val panes = Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "20 seconds"), col("event_type"))
      .agg(
        exactSumState(col("value")).as("psum"),
        max(col("value")).as("pmax"),
        min(col("value")).as("pmin"),
        count(lit(1)).as("pcnt"))
      .select(col("window.start").cast("long").as("pane_start"),
        col("event_type"), col("psum"), col("pmax"), col("pmin"), col("pcnt"))
    panes
      .select(col("pane_start"), col("event_type"),
        col("psum"), col("pmax"), col("pmin"), col("pcnt"),
        explode(array(lit(0L), lit(1L), lit(2L))).as("i"))
      .groupBy((col("pane_start") - col("i") * 20L).as("window_start"),
        col("event_type"))
      .agg(
        exactSumOfStates(col("psum")).cast("double").as("sum_value"),
        max(col("pmax")).as("max_value"),
        min(col("pmin")).as("min_value"),
        sum(col("pcnt")).as("cnt"))
      .orderBy("window_start", "event_type")
  }

  val q01Sql: String =
    """SELECT CAST(FLOOR(epoch(ts)/20)*20 - 20*g.i AS BIGINT) AS window_start,
      |       event_type,
      |       CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value,
      |       MAX(value) AS max_value,
      |       MIN(value) AS min_value,
      |       COUNT(*) AS cnt
      |FROM events CROSS JOIN (VALUES (0),(1),(2)) g(i)
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // q02 — tumbling event-time window (size == slide,
  //  `rlink/src/core/window.rs:42-46`)
  // ---------------------------------------------------------------------
  def q02TumblingWindowAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "60 seconds"), col("event_type"))
      .agg(dsum(col("value")).as("sum_value"), count(lit(1)).as("cnt"))
      .select(
        col("window.start").cast("long").as("window_start"),
        col("event_type"), col("sum_value"), col("cnt"))
      .orderBy("window_start", "event_type")

  val q02Sql: String =
    """SELECT CAST(FLOOR(epoch(ts)/60)*60 AS BIGINT) AS window_start,
      |       event_type,
      |       CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value,
      |       COUNT(*) AS cnt
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // q03 — projection + filter (the FlatMap/Filter surface,
  //  `rlink/src/core/function.rs:185-207`). Filter + projection push to
  //  the parquet scan (PushedFilters / pruned ReadSchema).
  // ---------------------------------------------------------------------
  def q03FilterProject(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase" && col("value") > lit(50.0))
      .select(
        col("event_id"),
        col("user_id"),
        (col("value") * lit(2.0)).as("value_x2"),
        upper(col("event_type")).as("etype"))
      .orderBy("event_id")

  val q03Sql: String =
    """SELECT event_id, user_id, value * 2.0 AS value_x2,
      |       UPPER(event_type) AS etype
      |FROM events
      |WHERE event_type = 'purchase' AND value > 50.0
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------------
  // q04 — keyBy + unwindowed reduce (SchemaReduceFunction:
  //  count/sum/max/min, `rlink/src/functions/reduce/schema_reduce.rs`)
  // ---------------------------------------------------------------------
  def q04KeyByReduce(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("cnt"),
        dsum(col("value")).as("sum_value"),
        max(col("value")).as("max_value"),
        min(col("value")).as("min_value"))
      .orderBy("user_id")

  val q04Sql: String =
    """SELECT user_id, COUNT(*) AS cnt,
      |       CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value,
      |       MAX(value) AS max_value, MIN(value) AS min_value
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------------
  // q05 — RangeWindowFilter: keep only windows within [begin, end)
  //  (`rlink/src/functions/filter/range_window_filter.rs:9-78`).
  //  2024-01-05 .. 2024-01-12 UTC, inside the events time range.
  // ---------------------------------------------------------------------
  private val rangeBegin = 1704412800L // 2024-01-05 00:00:00 UTC
  private val rangeEnd   = 1705017600L // 2024-01-12 00:00:00 UTC

  def q05RangeWindowFilter(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "60 seconds"), col("event_type"))
      .agg(dsum(col("value")).as("sum_value"), count(lit(1)).as("cnt"))
      .select(
        col("window.start").cast("long").as("window_start"),
        col("window.end").cast("long").as("window_end"),
        col("event_type"), col("sum_value"), col("cnt"))
      .filter(col("window_start") >= lit(rangeBegin) && col("window_end") <= lit(rangeEnd))
      .orderBy("window_start", "event_type")

  val q05Sql: String =
    s"""SELECT * FROM (
       |  SELECT CAST(FLOOR(epoch(ts)/60)*60 AS BIGINT) AS window_start,
       |         CAST(FLOOR(epoch(ts)/60)*60 + 60 AS BIGINT) AS window_end,
       |         event_type,
       |         CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value,
       |         COUNT(*) AS cnt
       |  FROM events GROUP BY 1, 2, 3)
       |WHERE window_start >= $rangeBegin AND window_end <= $rangeEnd
       |ORDER BY window_start, event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q06 — broadcast dimension enrichment: the connect/CoProcess use case
  //  (config stream enriching a fact stream,
  //   `example/example-connect/src/app.rs:36-77`). The dimension side is
  //  explicitly broadcast — at 100 TB the fact table never shuffles.
  // ---------------------------------------------------------------------
  def q06BroadcastEnrich(spark: SparkSession, sfDir: String): DataFrame = {
    val ev  = Tables.events(spark, sfDir)
    val cust = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_mktsegment"))
    ev.join(broadcast(cust), ev("user_id") === cust("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("sum_value"))
      .orderBy("c_mktsegment")
  }

  val q06Sql: String =
    """SELECT c_mktsegment, COUNT(*) AS cnt,
      |       CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------------
  // q08 — session windows (gap-based). The reference ships no session
  //  windows (SURVEY §2.5); Spark's session_window makes them part of our
  //  surface. Oracle reformulates via classic gaps-and-islands SQL: a new
  //  session starts when the gap to the previous event exceeds 300s.
  // ---------------------------------------------------------------------
  def q08SessionWindow(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(session_window(col("ts"), "300 seconds"), col("user_id"))
      .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("sum_value"))
      .select(
        col("session_window.start").cast("long").as("session_start"),
        col("user_id"), col("cnt"), col("sum_value"))
      .orderBy("user_id", "session_start")

  val q08Sql: String =
    """SELECT CAST(FLOOR(MIN(epoch(ts))) AS BIGINT) AS session_start,
      |       user_id, COUNT(*) AS cnt,
      |       CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
      |FROM (
      |  SELECT user_id, ts, value,
      |         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
      |                                ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM (
      |    SELECT user_id, ts, value,
      |           CASE WHEN epoch(ts) - epoch(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts))
      |                     > 300.0 OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |                THEN 1 ELSE 0 END AS new_session
      |    FROM events))
      |GROUP BY user_id, session_id
      |ORDER BY user_id, session_start""".stripMargin

  // ---------------------------------------------------------------------
  // q09 — fact-fact shuffle join + aggregation (engine superset: the
  //  reference has no batch join; Spark's join family is part of our
  //  surface). AQE picks shuffle-hash vs sort-merge at runtime.
  // ---------------------------------------------------------------------
  def q09ShuffleJoinAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val o  = Tables.orders(spark, sfDir)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderstatus"), col("l_returnflag"))
      .agg(
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("cnt"))
      .orderBy("o_orderstatus", "l_returnflag")
  }

  val q09Sql: String =
    """SELECT o_orderstatus, l_returnflag,
      |       CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
      |       COUNT(*) AS cnt
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderstatus, l_returnflag
      |ORDER BY o_orderstatus, l_returnflag""".stripMargin

  // ---------------------------------------------------------------------
  // q10 — top-k (sort + limit). TakeOrderedAndProject: per-partition
  //  top-k then driver merge — no full sort at scale.
  // ---------------------------------------------------------------------
  def q10TopK(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(dsum(col("value")).as("total_value"))
      .orderBy(col("total_value").desc, col("user_id"))
      .limit(10)

  val q10Sql: String =
    """SELECT user_id,
      |       CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY user_id
      |ORDER BY total_value DESC, user_id
      |LIMIT 10""".stripMargin

  // ---------------------------------------------------------------------
  // q11 — set operations: high-value purchasers who also signed up
  //  (INTERSECT), minus users with errors above the same threshold
  //  (EXCEPT).
  // ---------------------------------------------------------------------
  def q11SetOps(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    def users(t: String, minV: Double) =
      ev.filter(col("event_type") === t && col("value") > lit(minV))
        .select(col("user_id"))
    users("purchase", 90.0)
      .intersect(users("signup", 90.0))
      .except(users("error", 99.0))
      .orderBy("user_id")
  }

  val q11Sql: String =
    """(SELECT user_id FROM events WHERE event_type = 'purchase' AND value > 90.0
      | INTERSECT
      | SELECT user_id FROM events WHERE event_type = 'signup' AND value > 90.0)
      |EXCEPT
      |SELECT user_id FROM events WHERE event_type = 'error' AND value > 99.0
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------------
  // q12 — distinct aggregate + exact average (engine superset).
  // ---------------------------------------------------------------------
  def q12DistinctAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("cnt"),
        davg(col("value")).as("avg_value"))
      .orderBy("event_type")

  val q12Sql: String =
    """SELECT event_type,
      |       COUNT(DISTINCT user_id) AS n_users,
      |       COUNT(*) AS cnt,
      |       CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) / COUNT(value) AS avg_value
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q13 — rollup (grouping sets). NULL grouping rows disambiguated via
  //  coalesce so both engines order identically.
  // ---------------------------------------------------------------------
  def q13Rollup(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .rollup(col("event_type"))
      .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("sum_value"))
      .select(
        coalesce(col("event_type"), lit("(all)")).as("etype"),
        col("cnt"), col("sum_value"))
      .orderBy("etype")

  val q13Sql: String =
    """SELECT COALESCE(event_type, '(all)') AS etype, COUNT(*) AS cnt,
      |       CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY ROLLUP(event_type)
      |ORDER BY etype""".stripMargin

  // ---------------------------------------------------------------------
  // q34 — approximate distinct (HyperLogLog++): the sketch that replaces
  //  countDistinct at 100 TB. countDistinct needs a shuffle of all
  //  distinct values (or an expand + two-phase agg); the HLL sketch is a
  //  fixed few-KB buffer per group, merged associatively — partial
  //  aggregation map-side, constant shuffle volume regardless of
  //  cardinality. Approximate by design → no value oracle; the driver
  //  records a rows-only check and RelationalSpec bounds the error vs
  //  exact countDistinct (rsd 0.01 → well under 5%).
  // ---------------------------------------------------------------------
  def q34ApproxDistinct(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id"), rsd = 0.01).as("approx_users"),
        count(lit(1)).as("cnt"))
      .orderBy("event_type")

  // ---------------------------------------------------------------------
  // q57 — approximate quantiles by Greenwald-Khanna sketch
  // (approx_percentile, accuracy 10000): the quantile member of the
  // sketch family (q34 is cardinality/HLL++, q07 is the reference's own
  // fixed-histogram percentile). Like HLL, the GK summary's size depends
  // on accuracy, NOT on row count — partial summaries merge
  // associatively, so shuffle volume per group is constant at any corpus
  // size, where an exact percentile would shuffle (or skip-list) every
  // value. Approximate by design (rank error <= n/accuracy) — no SQL
  // oracle; RelationalSpec bounds the result against the exact
  // percentile per group and the driver records a rows-only check.
  // ---------------------------------------------------------------------
  def q57ApproxQuantiles(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(
        expr("approx_percentile(value, array(0.5D, 0.95D, 0.99D), 10000)")
          .as("qs"),
        count(lit(1)).as("cnt"))
      .select(col("event_type"),
        col("qs").getItem(0).as("p50"),
        col("qs").getItem(1).as("p95"),
        col("qs").getItem(2).as("p99"),
        col("cnt"))
      .orderBy("event_type")

  // ---------------------------------------------------------------------
  // q63 — CDC latest-wins merge (the MERGE/upsert compaction a
  // table-format pipeline runs to fold a change feed into a base
  // snapshot, expressed engine-agnostically): base = the orders table;
  // change feed = a deterministic slice of it (o_orderkey % 7 == 0)
  // re-emitted at version 1 with mutated status/priority (simulating
  // later updates) plus every 11th key at version 1 with a DELETE
  // marker. Latest version per key wins; deletes drop the key. The
  // plan is ONE shuffle on the merge key (union + per-key max-version
  // pick) — the exact shape MERGE compaction has at 100 TB, where the
  // change feed is tiny relative to the base and AQE broadcast-joins
  // nothing because both sides share the key partitioning. Output is
  // the merged snapshot's per-status rollup (corpus-sized outputs
  // don't hash well in a gate; the rollup pins every merged row's
  // final state).
  // ---------------------------------------------------------------------
  def q63CdcMerge(spark: SparkSession, sfDir: String): DataFrame =
    cdcRollup(cdcLatest(cdcFeed(Tables.orders(spark, sfDir))))

  /** q63's change feed over `orders`: the base at version 0, then the
    * updates and deletes at version 1. */
  private[graft] def cdcFeed(orders: DataFrame): DataFrame = {
    val base = orders
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        lit(0).as("version"), lit(false).as("deleted"))
    val updates = orders
      .filter(pmod(col("o_orderkey"), lit(7)) === 0)
      .select(col("o_orderkey"),
        lit("U").as("o_orderstatus"),
        (col("o_totalprice") + 10.0).as("o_totalprice"),
        lit(1).as("version"),
        (pmod(col("o_orderkey"), lit(11)) === 0).as("deleted"))
    base.unionAll(updates)
  }

  /** Latest version per key wins. Tombstones stay (a delete is a
    * versioned row), so a later re-insert at a higher version would win. */
  private[graft] def cdcLatest(feed: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    feed.withColumn("rn", row_number().over(
        Window.partitionBy(col("o_orderkey"))
          .orderBy(col("version").desc)))
      .filter(col("rn") === 1).drop("rn")
  }

  /** The merged snapshot's live rows, rolled up per status. */
  private[graft] def cdcRollup(latest: DataFrame): DataFrame =
    latest.filter(!col("deleted"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("total_price"))
      .orderBy("o_orderstatus")

  val q63Sql: String =
    """WITH feed AS (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice,
      |         0 AS version, FALSE AS deleted
      |  FROM orders
      |  UNION ALL
      |  SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice + 10.0,
      |         1 AS version, o_orderkey % 11 = 0 AS deleted
      |  FROM orders WHERE o_orderkey % 7 = 0),
      |latest AS (
      |  SELECT * FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
      |                                 ORDER BY version DESC) AS rn
      |    FROM feed)
      |  WHERE rn = 1 AND NOT deleted)
      |SELECT o_orderstatus,
      |       COUNT(*) AS n_orders,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS total_price
      |FROM latest
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------------
  // q14 — analytic window functions: latest 3 events per user.
  // ---------------------------------------------------------------------
  def q14AnalyticWindow(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id"))
    Tables.events(spark, sfDir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("user_id"), col("rn"), col("event_id"), col("value"))
      .orderBy("user_id", "rn")
  }

  val q14Sql: String =
    """SELECT user_id, rn, event_id, value FROM (
      |  SELECT user_id, event_id, value,
      |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id) AS rn
      |  FROM events)
      |WHERE rn <= 3
      |ORDER BY user_id, rn""".stripMargin

  // ---------------------------------------------------------------------
  // q75 — dense timeline materialization (gap fill): hourly per-type
  // event aggregates over the FULL [min, max] hour grid, empty cells
  // zero-filled. The standard downstream-of-windowed-agg step for
  // dashboards, anomaly detectors, and any consumer that treats a
  // missing bucket as zero rather than absent (the reference's windowed
  // aggregations only ever emit non-empty windows — this materializes
  // the complement).
  //
  // Scale shape: events scan ONCE and shuffle ONCE, into the (hour,
  // type) aggregate — which is AT MOST grid-sized (span/3600 × |types|
  // rows — metadata, not data), so it is CACHED and every other input
  // the plan needs derives from it: the [lo, hi] bounds and the type
  // set are aggregates OF the aggregate (grid-sized scans, no second
  // corpus pass — deriving them from the raw table would triple-scan
  // the corpus for values the aggregate already contains). The
  // aggregate then broadcasts as the right side of the zero-fill left
  // join. Hour arithmetic stays in epoch-second integers end to end.
  // ---------------------------------------------------------------------
  private def gapFillGrid(spark: SparkSession, sfDir: String): DataFrame =
    denseGrid(hourlyCells(Tables.events(spark, sfDir),
        count(lit(1)).as("cnt"), dsum(col("value")).as("sum_value"))
      .cache()) // grid-sized; feeds bounds, types, and the zero-fill join

  /** The events `ev` aggregated by `aggs` per (hour `ws`, type `et`). */
  private[graft] def hourlyCells(ev: DataFrame, aggs: Column*): DataFrame =
    ev.groupBy((floor(col("ts").cast("long") / 3600) * 3600).cast("long").as("ws"),
        col("event_type").as("et"))
      .agg(aggs.head, aggs.tail: _*)

  /** The hourly cells `agg` over the full [min, max] hour x type grid
    * (window_start, event_type, then each aggregate), empty cells zero. */
  private[graft] def denseGrid(agg: DataFrame): DataFrame = {
    val bounds = agg.agg(min(col("ws")).as("lo"), max(col("ws")).as("hi"))
    val types = agg.select(col("et").as("event_type")).distinct()
    val grid = bounds
      .select(explode(sequence(col("lo"), col("hi"), lit(3600L))).as("window_start"))
      .crossJoin(broadcast(types))
    val values = agg.schema.filterNot(f => f.name == "ws" || f.name == "et")
      .map(f => coalesce(col(f.name), lit(0).cast(f.dataType)).as(f.name))
    grid.join(broadcast(agg),
        grid("window_start") === agg("ws") && grid("event_type") === agg("et"),
        "left")
      .select(col("window_start") +: col("event_type") +: values: _*)
  }

  def q75GapFill(spark: SparkSession, sfDir: String): DataFrame =
    gapFillGrid(spark, sfDir).orderBy("window_start", "event_type")

  val q75Sql: String =
    """WITH w AS (
      |  SELECT CAST(FLOOR(epoch(ts) / 3600) * 3600 AS BIGINT) AS ws,
      |         event_type, value
      |  FROM events),
      |agg AS (
      |  SELECT ws, event_type AS et, count(*) AS cnt,
      |         CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
      |  FROM w GROUP BY ws, event_type),
      |b AS (SELECT min(ws) AS lo, max(ws) AS hi FROM w),
      |grid AS (
      |  SELECT g.ws, t.et
      |  FROM (SELECT unnest(generate_series(lo, hi, 3600)) AS ws FROM b) g,
      |       (SELECT DISTINCT event_type AS et FROM events) t)
      |SELECT grid.ws AS window_start, grid.et AS event_type,
      |       coalesce(agg.cnt, 0) AS cnt,
      |       coalesce(agg.sum_value, 0.0) AS sum_value
      |FROM grid LEFT JOIN agg ON grid.ws = agg.ws AND grid.et = agg.et
      |ORDER BY window_start, event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q78 — timeline anomaly detection: per-type z-score of hourly event
  // counts over the DENSE q75 grid (a silent scraper outage is a run of
  // zero-count cells — exactly the cells the sparse aggregate never
  // emits, which is why this composes with gap fill and not with the raw
  // groupBy). Emits every (hour, type) cell whose |z| >= ZThresh.
  //
  // Float discipline: the moments are windowed sums of exact integers
  // (cnt and cnt², both < 2^53), so s1/s2/n are bit-exact regardless of
  // partitioning; mean/sd/z then evaluate in ONE fixed double shape
  // mirrored token-for-token by the SQL — IEEE division and sqrt are
  // correctly rounded, so the doubles hash-match without any decimal
  // rounding step (q74's recipe, minus the quantization it needed for
  // float inputs).
  //
  // Scale shape: the grid is span x |types| METADATA rows (q75's
  // argument), so the per-type window is a shuffle of grid-sized data —
  // the corpus itself still shuffles exactly once, inside q75's
  // aggregate. At 100 TB the window carries hours x types rows: nothing.
  // ---------------------------------------------------------------------
  private[graft] val ZThresh = 2.5

  def q78TimelineAnomaly(spark: SparkSession, sfDir: String): DataFrame =
    zAnomalies(gapFillGrid(spark, sfDir)) // unsorted: the window brings its own order

  /** q78's per-type z-score chain over the dense grid `cells`
    * (window_start, event_type, cnt). */
  private[graft] def zAnomalies(cells: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type"))
    cells.select(col("window_start"), col("event_type"), col("cnt"))
      .withColumn("s1", sum(col("cnt")).over(w))
      .withColumn("s2", sum(col("cnt") * col("cnt")).over(w))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("mean", col("s1").cast("double") / col("n"))
      .withColumn("sd", sqrt(
        (col("s2").cast("double") - col("s1").cast("double")
          * col("s1").cast("double") / col("n")) / (col("n") - 1)))
      .withColumn("z", (col("cnt").cast("double") - col("mean")) / col("sd"))
      .filter(abs(col("z")) >= ZThresh)
      .select(col("window_start"), col("event_type"), col("cnt"),
        col("mean"), col("z"))
      .orderBy("window_start", "event_type")
  }

  val q78Sql: String =
    s"""WITH w AS (
       |  SELECT CAST(FLOOR(epoch(ts) / 3600) * 3600 AS BIGINT) AS ws, event_type
       |  FROM events),
       |agg AS (SELECT ws, event_type AS et, count(*) AS cnt FROM w GROUP BY 1, 2),
       |b AS (SELECT min(ws) AS lo, max(ws) AS hi FROM w),
       |grid AS (
       |  SELECT g.ws, t.et
       |  FROM (SELECT unnest(generate_series(lo, hi, 3600)) AS ws FROM b) g,
       |       (SELECT DISTINCT event_type AS et FROM w) t),
       |cells AS (
       |  SELECT grid.ws, grid.et, coalesce(agg.cnt, 0) AS cnt
       |  FROM grid LEFT JOIN agg ON grid.ws = agg.ws AND grid.et = agg.et),
       |st AS (
       |  SELECT ws, et, cnt,
       |         sum(cnt) OVER (PARTITION BY et) AS s1,
       |         sum(cnt * cnt) OVER (PARTITION BY et) AS s2,
       |         count(*) OVER (PARTITION BY et) AS n
       |  FROM cells),
       |sc AS (
       |  SELECT ws, et, cnt,
       |         CAST(s1 AS DOUBLE) / n AS mean,
       |         (CAST(cnt AS DOUBLE) - CAST(s1 AS DOUBLE) / n)
       |           / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
       |                     * CAST(s1 AS DOUBLE) / n) / (n - 1)) AS z
       |  FROM st)
       |SELECT ws AS window_start, et AS event_type, cnt, mean, z
       |FROM sc WHERE abs(z) >= $ZThresh
       |ORDER BY window_start, event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q85 — CUBE (multi-dimensional grouping sets): the one-pass OLAP
  // summary over (event_type × hour-of-day) including both marginals and
  // the grand total. Catalyst plans CUBE as a single Expand + one hash
  // aggregate: each input row is replicated once per grouping set
  // (4 here) BEFORE partial aggregation, so the shuffle still carries
  // only partial aggregate states — at 100 TB this is 4 map-side-combined
  // aggregates for the price of one scan, vs 4 separate queries (4 scans)
  // or a driver-side rollup loop. NULL grouping cells are disambiguated
  // from genuine NULLs via sentinel labels, which also keeps the oracle
  // hash comparison deterministic.
  // ---------------------------------------------------------------------
  def q85CubeSummary(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("event_type"), hour(col("ts")).as("hr"), col("value"))
      .cube(col("event_type"), col("hr"))
      .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("sum_value"))
      .select(
        coalesce(col("event_type"), lit("(all)")).as("etype"),
        coalesce(col("hr"), lit(-1)).cast("int").as("hr"),
        col("cnt"), col("sum_value"))
      .orderBy("etype", "hr")

  val q85Sql: String =
    """SELECT COALESCE(event_type, '(all)') AS etype,
      |       CAST(COALESCE(hr, -1) AS INT) AS hr,
      |       COUNT(*) AS cnt,
      |       CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
      |FROM (SELECT event_type, EXTRACT(hour FROM ts) AS hr, value FROM events)
      |GROUP BY CUBE(event_type, hr)
      |ORDER BY etype, hr""".stripMargin

  // ---------------------------------------------------------------------
  // q89 — PIVOT: hour-of-day × event_type count matrix as wide columns,
  // the standard report/export shape. The pivot column list is given
  // EXPLICITLY (the 5 reference event types): with an explicit list
  // Catalyst compiles pivot to a single-pass conditional aggregation
  // (one scan, one shuffle of partial states, no distinct-values
  // pre-query and no driver round-trip) — exactly the plan the SUM(CASE)
  // oracle describes, and the only pivot form that is sane at 100 TB
  // (auto-discovery pivot first runs a distinct over the pivot column).
  // ---------------------------------------------------------------------
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  def q89Pivot(spark: SparkSession, sfDir: String): DataFrame = {
    // n_ prefix keeps the output clear of SQL reserved words ("view").
    val renamed = EventTypes.foldLeft(
      Tables.events(spark, sfDir)
        .select(hour(col("ts")).as("hr"), col("event_type"))
        .groupBy(col("hr"))
        .pivot("event_type", EventTypes)
        .agg(count(lit(1)))
        .na.fill(0L, EventTypes)) { (df, t) => df.withColumnRenamed(t, s"n_$t") }
    renamed.orderBy("hr")
  }

  val q89Sql: String =
    """SELECT EXTRACT(hour FROM ts)::INT AS hr,
      |       COUNT(*) FILTER (event_type = 'click')    AS n_click,
      |       COUNT(*) FILTER (event_type = 'error')    AS n_error,
      |       COUNT(*) FILTER (event_type = 'purchase') AS n_purchase,
      |       COUNT(*) FILTER (event_type = 'signup')   AS n_signup,
      |       COUNT(*) FILTER (event_type = 'view')     AS n_view
      |FROM events
      |GROUP BY 1
      |ORDER BY hr""".stripMargin

  // ---------------------------------------------------------------------
  // q90 — UNPIVOT (melt): wide metric columns to long (metric, value)
  // rows, then per-metric profiling — the first step of any column-stats
  // / data-quality sweep over a wide table. Catalyst plans unpivot as an
  // Expand (each row replicated once per metric column) feeding ONE
  // partial aggregate: per-metric stats for the price of one scan, and
  // the shuffle carries 4 aggregate-state rows per partition, not the
  // exploded data.
  // ---------------------------------------------------------------------
  def q90Unpivot(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .unpivot(
        Array.empty[org.apache.spark.sql.Column],
        Array(col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax")),
        "metric", "value")
      .groupBy(col("metric"))
      .agg(count(lit(1)).as("cnt"),
        min(col("value")).as("min_v"),
        max(col("value")).as("max_v"),
        dsum(col("value")).as("sum_v"))
      .orderBy("metric")

  val q90Sql: String =
    """SELECT metric, COUNT(*) AS cnt, MIN(value) AS min_v, MAX(value) AS max_v,
      |       CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_v
      |FROM (
      |  SELECT 'l_quantity' AS metric, l_quantity AS value FROM lineitem
      |  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
      |  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
      |  UNION ALL SELECT 'l_tax', l_tax FROM lineitem)
      |GROUP BY metric
      |ORDER BY metric""".stripMargin

  // ---------------------------------------------------------------------
  // q91 — semi-structured JSON extraction: pull a typed field out of the
  // events `props` JSON payload and aggregate on it. `get_json_object`
  // is a codegen'd path evaluation per row — no UDF, no schema
  // inference job; for fixed schemas `from_json` gives a typed struct
  // (same engine path). At 100 TB the point is that extraction happens
  // INSIDE the scan stage projection: only the extracted long survives
  // to the shuffle, never the JSON text.
  // ---------------------------------------------------------------------
  def q91JsonExtract(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(col("k")).as("n_with_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        sum(col("k")).as("sum_k"),
        countDistinct(col("k")).as("distinct_k"))
      .orderBy("event_type")

  val q91Sql: String =
    """SELECT event_type,
      |       COUNT(k) AS n_with_k, MIN(k) AS min_k, MAX(k) AS max_k,
      |       CAST(SUM(k) AS BIGINT) AS sum_k,
      |       COUNT(DISTINCT k) AS distinct_k
      |FROM (SELECT event_type,
      |             CAST(json_extract_string(props, 'k') AS BIGINT) AS k
      |      FROM events)
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q235 — schema-on-read JSON ingest with corrupt-record ROUTING: the
  // parse half of the ingest-robustness story (q148 routes bad records
  // in the stream; this routes them at the decoder). Each document
  // renders a deterministic JSON record — built by plain concatenation
  // so both engines parse byte-identical strings — and every 7th record
  // is truncated mid-string, the classic torn-line corruption of JSONL
  // transport. `from_json` in PERMISSIVE mode with
  // columnNameOfCorruptRecord ROUTES malformed records (original text
  // preserved in the corrupt column) instead of silently nulling them:
  // valid rows aggregate per parsed field, corrupt rows land in a
  // '__corrupt__' bucket with their byte mass still accounted — at
  // 100 TB, silent null-out is how a feed loses 2% of itself without
  // anyone noticing.
  //
  // Scale shape: JsonToStructs is a codegen'd per-row projection inside
  // the scan stage (q91's argument); the only shuffle carries the
  // class-cardinality aggregate. The corrupt path is a COLUMN, never an
  // exception.
  // ---------------------------------------------------------------------
  def q235JsonCorruptRouting(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars"), col("lang"))
      .withColumn("j0", expr(
        """concat('{"k":', CAST(doc_id AS STRING),
          |       ',"n":', CAST(n_chars AS STRING),
          |       ',"lang":"', lang, '"}')""".stripMargin))
      .withColumn("j", when(pmod(col("doc_id"), lit(7)) === 0,
        expr("substr(j0, 1, length(j0) - 3)")).otherwise(col("j0")))
      .withColumn("p", expr(
        "from_json(j, 'k BIGINT, n BIGINT, lang STRING, " +
          "_corrupt_record STRING', " +
          "map('mode', 'PERMISSIVE', " +
          "'columnNameOfCorruptRecord', '_corrupt_record'))"))
      .select(
        when(col("p._corrupt_record").isNotNull, lit("__corrupt__"))
          .otherwise(col("p.lang")).as("jlang"),
        when(col("p._corrupt_record").isNotNull, lit(0L))
          .otherwise(col("p.n")).as("nv"),
        length(col("j")).cast("long").as("jb"))
      .groupBy(col("jlang"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("nv")).as("sum_chars"),
        sum(col("jb")).as("json_bytes"))
      .orderBy("jlang")

  /** DuckDB classifies with json_valid over the SAME constructed bytes;
    * every aggregate recomputed from the parsed fields. */
  val q235Sql: String =
    """WITH d AS (SELECT doc_id, n_chars, lang,
      |                  '{"k":' || doc_id || ',"n":' || n_chars
      |                    || ',"lang":"' || lang || '"}' AS j0
      |           FROM documents),
      |c AS (SELECT CASE WHEN doc_id % 7 = 0
      |             THEN substr(j0, 1, length(j0) - 3) ELSE j0 END AS j
      |      FROM d),
      |p AS (SELECT j, json_valid(j) AS ok FROM c)
      |SELECT CASE WHEN ok THEN json_extract_string(j, '$.lang')
      |       ELSE '__corrupt__' END AS jlang,
      |       COUNT(*) AS n_rows,
      |       CAST(SUM(CASE WHEN ok
      |                THEN CAST(json_extract(j, '$.n') AS BIGINT)
      |                ELSE 0 END) AS BIGINT) AS sum_chars,
      |       CAST(SUM(length(j)) AS BIGINT) AS json_bytes
      |FROM p GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // q92 — click→purchase conversion funnel via analytic frames: for each
  // click, the time to the SAME user's next purchase (a min over the
  // ROWS-following frame of a per-user event-time window), rolled up to
  // per-user conversion stats with q82's 24 h attribution bound. The
  // batch twin of the q82 stream-stream interval join, expressed as ONE
  // window pass: a single shuffle on user_id, no self-join, no row
  // explosion — at 100 TB this is the cheapest funnel shape when events
  // are (or can be) clustered by user.
  // Gaps are integer epoch-microsecond differences (exact, so the
  // per-user sums are order-insensitive and oracle-hashable).
  // ---------------------------------------------------------------------
  private[graft] val FunnelWindowUs = 24L * 3600 * 1000000

  def q92FunnelLag(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
      .rowsBetween(1, Window.unboundedFollowing)
    val clicks = ev
      .withColumn("next_purchase_us",
        min(when(col("event_type") === "purchase", col("ts_us"))).over(w))
      .filter(col("event_type") === "click")
      .select(col("user_id"),
        (col("next_purchase_us") - col("ts_us")).as("gap_us"))
    clicks.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_clicks"),
        count(when(col("gap_us") <= FunnelWindowUs, 1)).as("n_converted"),
        sum(when(col("gap_us") <= FunnelWindowUs, col("gap_us"))).as("sum_gap_us"))
      .orderBy("user_id")
  }

  val q92Sql: String =
    s"""SELECT user_id, COUNT(*) AS n_clicks,
       |       COUNT(*) FILTER (gap_us <= $FunnelWindowUs) AS n_converted,
       |       CAST(SUM(gap_us) FILTER (gap_us <= $FunnelWindowUs) AS BIGINT)
       |         AS sum_gap_us
       |FROM (
       |  SELECT user_id, event_type,
       |         MIN(CASE WHEN event_type = 'purchase' THEN ts_us END) OVER (
       |           PARTITION BY user_id ORDER BY ts_us, event_id
       |           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
       |           - ts_us AS gap_us
       |  FROM (SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us
       |        FROM events))
       |WHERE event_type = 'click'
       |GROUP BY user_id
       |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------------
  // q96 — SCD Type-2 history build: turn q63's CDC version feed into
  // validity intervals — each key's version v is valid until the next
  // version arrives (valid_to = lead(version), NULL while current), and
  // a delete tombstone closes the record without a successor. This is
  // the standard warehouse "history table" materialization the latest-
  // wins MERGE (q63) throws away.
  //
  // Scale shape: one shuffle on the business key; lead() runs inside the
  // per-key window partition (bounded by a key's version count, never
  // the table). Output is row-per-version — history tables are append-
  // shaped by design, so no aggregate hides the interval rows.
  // ---------------------------------------------------------------------
  def q96Scd2(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderstatus"),
        lit(0).as("version"), lit(false).as("deleted"))
    val updates = Tables.orders(spark, sfDir)
      .filter(pmod(col("o_orderkey"), lit(7)) === 0)
      .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
        lit(1).as("version"),
        (pmod(col("o_orderkey"), lit(11)) === 0).as("deleted"))
    val w = Window.partitionBy(col("o_orderkey")).orderBy(col("version").asc)
    base.unionAll(updates)
      .withColumn("valid_to", lead(col("version"), 1).over(w))
      .select(col("o_orderkey"), col("version"), col("o_orderstatus"),
        col("valid_to"),
        (col("valid_to").isNull && !col("deleted")).as("is_current"))
      .orderBy("o_orderkey", "version")
  }

  val q96Sql: String =
    """WITH feed AS (
      |  SELECT o_orderkey, o_orderstatus, 0 AS version, FALSE AS deleted
      |  FROM orders
      |  UNION ALL
      |  SELECT o_orderkey, 'U', 1, o_orderkey % 11 = 0
      |  FROM orders WHERE o_orderkey % 7 = 0)
      |SELECT o_orderkey, version, o_orderstatus,
      |       LEAD(version) OVER (PARTITION BY o_orderkey
      |                           ORDER BY version) AS valid_to,
      |       (LEAD(version) OVER (PARTITION BY o_orderkey ORDER BY version)
      |          IS NULL AND NOT deleted) AS is_current
      |FROM feed
      |ORDER BY o_orderkey, version""".stripMargin

  // ---------------------------------------------------------------------
  // q98 — star-schema flagship: TPC-H Q5-shaped 5-table join (fact
  // lineitem against the orders/customer/nation/region dimension chain),
  // revenue per nation for one region and one order-date year.
  //
  // This is the canonical "does the engine pick the right plan" query.
  // The shape that survives 100 TB:
  //  - the region/nation/customer chain is reduced FIRST (region filter
  //    prunes nation keys before customer ever joins), so the fact table
  //    joins against an already-filtered dimension side;
  //  - the date predicate on orders is pushed to the parquet scan
  //    (PushedFilters), so the fact-side shuffle carries only the
  //    filtered year;
  //  - region⋈nation⋈customer are broadcast-sized here and AQE turns
  //    them into BroadcastHashJoins; the ONLY big shuffle is
  //    lineitem⋈orders on orderkey. At cluster scale customer may stop
  //    being broadcastable — the join stays hash-keyed on c_custkey and
  //    the plan degrades gracefully to one extra shuffle, not a replan.
  //  - revenue sums decimal-exactly (dsum) so the result is
  //    order-insensitive and oracle-comparable bit-for-bit.
  // ---------------------------------------------------------------------
  def q98StarFlagship(spark: SparkSession, sfDir: String): DataFrame = {
    val li  = Tables.lineitem(spark, sfDir)
    val ord = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") <  lit("1997-01-01").cast("timestamp"))
    val cust = Tables.customer(spark, sfDir)
    val nat  = Tables.nation(spark, sfDir)
    val reg  = Tables.region(spark, sfDir).filter(col("r_name") === "ASIA")
    // Dimension chain first: region -> nation -> customer, each step
    // shrinking the key set the fact side must match.
    val dims = cust
      .join(broadcast(nat), cust("c_nationkey") === nat("n_nationkey"))
      .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
      .select(col("c_custkey"), col("n_name"))
    ord.join(broadcast(dims), ord("o_custkey") === dims("c_custkey"))
      .join(li, li("l_orderkey") === ord("o_orderkey"))
      .groupBy(col("n_name"))
      .agg(
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("n_name")
  }

  // ---------------------------------------------------------------------
  // q102 — time-decayed per-user features: the feature-store primitive
  // ("activity score with a 1-hour half-life") behind recency-weighted
  // training labels and freshness-aware sampling. Each event's weight
  // halves per elapsed half-life relative to the USER'S OWN most recent
  // event, so the feature is translation-invariant (re-running tomorrow
  // on unchanged data gives identical values — no wall-clock leakage).
  //
  // Float discipline — this is the operator where naive exp() breaks
  // cross-engine parity: libm exp/pow are <=1-ulp, not correctly
  // rounded, and a sum of such weights is order-dependent. Instead the
  // decay is STEPPED — k = floor(age / half-life) whole half-lives,
  // clamped at 12 — and computed ENTIRELY in exact arithmetic:
  //  - each row carries the INTEGER weight 2^(12-k) (a shift — never a
  //    sub-1 double, whose decimal image is where engines disagree);
  //  - value * 2^m is an exact IEEE multiply (power-of-two scaling
  //    changes only the exponent), so the decimal cast sees the same
  //    dyadic number both engines computed bit-identically;
  //  - sums run in DECIMAL (order-insensitive; the decimal cast at
  //    scale 6 can tie-break only for values with exactly 7 fraction
  //    bits — none exist in this data, the same dyadic-tie assumption
  //    every dsum(25,6) oracle already makes);
  //  - the final /4096 (2^-12) division is exact in doubles.
  // Result: bit-identical decayed features under ANY partitioning and
  // in both engines, with NO transcendental in the plan.
  //
  // Scale: one scan; the per-user max-ts and the weighted sums fold
  // into a SINGLE aggregate over one shuffle on user_id — max(ts) is
  // computed as an aggregate alongside the sums by expressing the age
  // against the max via a self-agg... which SQL cannot do in one pass;
  // the standard shape is window-max then aggregate, sharing ONE
  // user_id exchange (window and groupBy use the same partitioning, so
  // Catalyst plans exactly one shuffle — asserted in PlanSpec).
  // ---------------------------------------------------------------------
  private[graft] val HalfLifeSec = 3600L
  private[graft] val MaxHalfLives = 12L

  def q102DecayFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("value"),
        unix_timestamp(col("ts")).as("sec"))
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
    val k = least(floor((max(col("sec")).over(byUser) - col("sec"))
      / lit(HalfLifeSec)).cast("long"), lit(MaxHalfLives))
    val inv = math.pow(2.0, -MaxHalfLives.toDouble) // 2^-12, exact
    ev.withColumn("k", k)
      // integer weight 2^(12-k); the float weight is (iw / 4096)
      .withColumn("iw", expr(
        s"shiftleft(1L, cast($MaxHalfLives - k AS int))"))
      .groupBy(col("user_id"))
      .agg(
        (sum((col("value") * col("iw")).cast(DecimalType(30, 6)))
          .cast("double") * lit(inv)).as("decayed_value"),
        (sum(col("iw")).cast("double") * lit(inv)).as("decayed_count"),
        count(lit(1)).as("n_events"),
        max(col("sec")).as("last_sec"))
      .orderBy("user_id")
  }

  val q102Sql: String =
    s"""WITH e AS (
       |  SELECT user_id, value, CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec,
       |         LEAST((MAX(CAST(FLOOR(epoch(ts)) AS BIGINT))
       |                    OVER (PARTITION BY user_id)
       |                 - CAST(FLOOR(epoch(ts)) AS BIGINT)) // $HalfLifeSec,
       |               $MaxHalfLives) AS k
       |  FROM events),
       |w AS (SELECT user_id, value, sec,
       |             (1::BIGINT << ($MaxHalfLives - k)) AS iw FROM e)
       |SELECT user_id,
       |       CAST(SUM(CAST(value * iw AS DECIMAL(30,6))) AS DOUBLE)
       |         / ${1L << MaxHalfLives.toInt} AS decayed_value,
       |       CAST(SUM(iw) AS DOUBLE)
       |         / ${1L << MaxHalfLives.toInt} AS decayed_count,
       |       COUNT(*) AS n_events,
       |       MAX(sec) AS last_sec
       |FROM w
       |GROUP BY user_id
       |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------------
  // q103 — skyline / Pareto frontier: parts not dominated on
  // (p_retailprice, p_size) — no other part is <= on both and < on at
  // least one. The multi-objective shortlist primitive (cheapest-and-
  // smallest tradeoff curve).
  //
  // The naive plan is a NOT EXISTS self-join — O(n^2) comparisons with
  // an inequality predicate, i.e. a cross product (that IS the DuckDB
  // oracle, which is exactly why the operator must not be built that
  // way). The 2-D skyline decomposes into sort + prefix-min instead:
  //   1. per-price min size (one partial-aggregable groupBy —
  //      |distinct prices| rows out of n);
  //   2. a price-ordered strict-prefix running min of those min sizes:
  //      a price level is on the frontier iff its min size is strictly
  //      below every cheaper level's (<= from a cheaper price
  //      dominates);
  //   3. equi-join the (frontier price, its min size) pairs back to
  //      the base rows — ties on both dims are all kept (no strict
  //      dominator exists among equals).
  // The global-order window in step 2 runs over the PRICE-LEVEL
  // aggregate, never the base rows: cardinality |prices| << n. If even
  // that outgrows one task, the q95 range-partitioned prefix-scan
  // pattern composes (partition by price range, per-partition min,
  // broadcast prefix mins) — same two-pass shape, documented there.
  // ---------------------------------------------------------------------
  def q103Skyline(spark: SparkSession, sfDir: String): DataFrame = {
    val p = Tables.part(spark, sfDir)
    val levels = p.groupBy(col("p_retailprice"))
      .agg(min(col("p_size")).as("msize"))
    val prefix = org.apache.spark.sql.expressions.Window
      .orderBy(col("p_retailprice"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val frontier = levels
      .withColumn("prevMin", min(col("msize")).over(prefix))
      .filter(col("prevMin").isNull || col("msize") < col("prevMin"))
      .select(col("p_retailprice").as("f_price"), col("msize").as("f_size"))
    p.join(frontier,
        p("p_retailprice") === col("f_price") && p("p_size") === col("f_size"))
      .select(col("p_partkey"), col("p_name"), col("p_retailprice"), col("p_size"))
      .orderBy("p_partkey")
  }

  val q103Sql: String =
    """SELECT p_partkey, p_name, p_retailprice, p_size
      |FROM part a
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM part b
      |  WHERE b.p_retailprice <= a.p_retailprice AND b.p_size <= a.p_size
      |    AND (b.p_retailprice < a.p_retailprice OR b.p_size < a.p_size))
      |ORDER BY p_partkey""".stripMargin

  // ---------------------------------------------------------------------
  // q104 — grouped linear-regression trend: per event type, the OLS
  // slope/intercept/R^2 of value over event time. The drift-detection
  // primitive ("is this metric trending?") behind data-quality monitors
  // and training-curriculum scheduling.
  //
  // NOT regr_slope()/regr_r2(): those aggregate in floating point, so
  // the result depends on partition merge order — unacceptable for an
  // engine whose aggregates must be bit-stable under re-partitioning
  // (and they hash-mismatch any cross-engine oracle). Instead the five
  // sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²) are accumulated
  // EXACTLY — x is integer seconds (exact in BIGINT/DECIMAL), the
  // y-products are single correctly-rounded IEEE multiplies summed in
  // DECIMAL — and the closed-form arithmetic then runs in a FIXED
  // expression order on identical inputs, so every engine lands on the
  // identical double. One partial-aggregable pass, one shuffle of 5
  // numbers per group. Slope is reported per HOUR (x3600) to keep the
  // magnitude readable; a final 6-dp round guards the one remaining
  // engine-specific step (wide-DECIMAL -> double conversion).
  // ---------------------------------------------------------------------
  def q104RegrTrend(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("value"),
        unix_timestamp(col("ts")).as("x"))
    val stats = ev.groupBy(col("event_type")).agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("x")).cast("double").as("sx"),
      sum((col("x") * col("x")).cast(DecimalType(38, 0)))
        .cast("double").as("sxx"),
      dsum(col("value")).as("sy"),
      sum((col("value") * col("value")).cast(DecimalType(30, 9)))
        .cast("double").as("syy"),
      sum((col("x").cast("double") * col("value")).cast(DecimalType(32, 6)))
        .cast("double").as("sxy"))
    stats
      .withColumn("den",  col("n") * col("sxx") - col("sx") * col("sx"))
      .withColumn("num",  col("n") * col("sxy") - col("sx") * col("sy"))
      .withColumn("deny", col("n") * col("syy") - col("sy") * col("sy"))
      .select(
        col("event_type"),
        col("n").cast("long").as("n_events"),
        round(col("num") / col("den") * lit(3600.0), 6).as("slope_per_hour"),
        round((col("sy") - col("num") / col("den") * col("sx")) / col("n"), 6)
          .as("intercept"),
        round(col("num") * col("num") / (col("den") * col("deny")), 6)
          .as("r2"))
      .orderBy("event_type")
  }

  val q104Sql: String =
    """WITH e AS (
      |  SELECT event_type, value, CAST(FLOOR(epoch(ts)) AS BIGINT) AS x
      |  FROM events),
      |s AS (
      |  SELECT event_type,
      |         CAST(COUNT(*) AS DOUBLE) AS n,
      |         CAST(SUM(x) AS DOUBLE) AS sx,
      |         CAST(SUM(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
      |         CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sy,
      |         CAST(SUM(CAST(value * value AS DECIMAL(30,9))) AS DOUBLE) AS syy,
      |         CAST(SUM(CAST(CAST(x AS DOUBLE) * value AS DECIMAL(32,6))) AS DOUBLE) AS sxy
      |  FROM e GROUP BY event_type)
      |SELECT event_type,
      |       CAST(n AS BIGINT) AS n_events,
      |       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx) * 3600.0, 6)
      |         AS slope_per_hour,
      |       ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
      |         AS intercept,
      |       ROUND((n * sxy - sx * sy) * (n * sxy - sx * sy)
      |             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
      |FROM s
      |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q107 — grouped top-k: the top 3 users by total value WITHIN each
  // event type (leaderboards, per-segment winners). Unlike global top-k
  // (q10's TakeOrderedAndProject), per-group top-k is aggregate →
  // rank-window → filter: both the aggregate and the window partition
  // by the group key, so Catalyst reuses ONE exchange for both (same
  // single-shuffle discipline as q102; the rank window is
  // partition-parallel — never a global sort). Ties break on user_id
  // for determinism.
  // ---------------------------------------------------------------------
  private[graft] val TopKPerGroup = 3

  def q107GroupedTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val sums = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(dsum(col("value")).as("total_value"), count(lit(1)).as("n_events"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"))
      .orderBy(col("total_value").desc, col("user_id").asc)
    sums.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopKPerGroup)
      .orderBy("event_type", "rank")
  }

  val q107Sql: String =
    s"""SELECT event_type, user_id, total_value, n_events, rank FROM (
       |  SELECT event_type, user_id, total_value, n_events,
       |         ROW_NUMBER() OVER (PARTITION BY event_type
       |                            ORDER BY total_value DESC, user_id)
       |           AS rank
       |  FROM (SELECT event_type, user_id,
       |               CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE)
       |                 AS total_value,
       |               COUNT(*) AS n_events
       |        FROM events GROUP BY event_type, user_id))
       |WHERE rank <= $TopKPerGroup
       |ORDER BY event_type, rank""".stripMargin

  // ---------------------------------------------------------------------
  // q108 — equal-frequency binning (decile calibration): per event
  // type, split values into 10 equal-count bins and report each bin's
  // range and exact mean. The calibration-curve / feature-binning
  // primitive (score -> decile rank features; monotonic-calibration
  // audits). ntile partitions BY GROUP, so the window is
  // partition-parallel; the per-bin aggregate then reuses the same
  // (event_type)-rooted shuffle. Means are decimal-exact (davg).
  // ---------------------------------------------------------------------
  private[graft] val CalibBins = 10

  def q108EqualFreqBins(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"))
      .orderBy(col("value").asc, col("event_id").asc)
    Tables.events(spark, sfDir)
      .select(col("event_type"), col("event_id"), col("value"))
      .withColumn("bin", ntile(CalibBins).over(w))
      .groupBy(col("event_type"), col("bin"))
      .agg(count(lit(1)).as("n"),
        min(col("value")).as("lo"), max(col("value")).as("hi"),
        davg(col("value")).as("mean_value"))
      .orderBy("event_type", "bin")
  }

  val q108Sql: String =
    s"""SELECT event_type, bin, COUNT(*) AS n,
       |       MIN(value) AS lo, MAX(value) AS hi,
       |       CAST(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE)
       |            / COUNT(value) AS DOUBLE) AS mean_value
       |FROM (SELECT event_type, value,
       |             ntile($CalibBins) OVER (PARTITION BY event_type
       |                                     ORDER BY value, event_id) AS bin
       |      FROM events)
       |GROUP BY event_type, bin
       |ORDER BY event_type, bin""".stripMargin

  // ---------------------------------------------------------------------
  // q110 — sliding-window distinct users: exact cardinality per 60s/20s
  // window. Unlike the q01 sums, COUNT(DISTINCT) does not pane-
  // decompose (distinct is not mergeable by addition) — the scalable
  // exact shape is dedup-then-count: aggregate #1 dedups (window, user)
  // pairs with map-side partial dedup, aggregate #2 counts the
  // (already-distinct) pairs per window with a partial count. Both
  // aggregates partial-combine, so the big shuffle carries distinct
  // pairs, not events; the approx path at higher scale is q34's HLL.
  // ---------------------------------------------------------------------
  def q110SlidingDistinct(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "60 seconds", "20 seconds"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("window.start").cast("long").as("window_start"))
      .agg(count(lit(1)).as("n_users"), sum(col("n")).as("n_events"))
      .orderBy("window_start")

  val q110Sql: String =
    """SELECT CAST(FLOOR(epoch(ts)/20)*20 - 20*g.i AS BIGINT) AS window_start,
      |       COUNT(DISTINCT user_id) AS n_users,
      |       COUNT(*) AS n_events
      |FROM events CROSS JOIN (VALUES (0),(1),(2)) g(i)
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // q111 — cohort retention: users grouped by first-activity day, and
  // for each (cohort, day-offset) the fraction of the cohort active
  // that many days later — the product-analytics staple, and in a
  // training-data pipeline the contributor-churn view of a corpus.
  //
  // Shape: (a) per-user first day — one user_id-keyed aggregate;
  // (b) distinct (user, day) activity pairs — partial-deduped like
  // q110; (c) join (b) to (a) on user_id (both sides already hashed on
  // user_id — co-partitioned, no extra exchange) and count distinct
  // users per (cohort, offset); (d) broadcast-join cohort sizes (one
  // row per cohort day) for the rate. All counts exact; the rate is
  // one deterministic division rounded at 6.
  // ---------------------------------------------------------------------
  def q111CohortRetention(spark: SparkSession, sfDir: String): DataFrame = {
    val days = Tables.events(spark, sfDir)
      .select(col("user_id"),
        (unix_timestamp(col("ts")).cast("long") / lit(86400L)).cast("long")
          .as("day"))
      .distinct()
    val first = days.groupBy(col("user_id")).agg(min(col("day")).as("cohort"))
    val sizes = first.groupBy(col("cohort"))
      .agg(count(lit(1)).as("n_cohort"))
      .withColumnRenamed("cohort", "c2")
    days.join(first, Seq("user_id"))
      .groupBy(col("cohort"), (col("day") - col("cohort")).as("day_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), col("cohort") === col("c2"))
      .select(col("cohort"), col("day_offset"), col("n_active"),
        col("n_cohort"),
        round(col("n_active").cast("double") / col("n_cohort"), 6)
          .as("retention"))
      .orderBy("cohort", "day_offset")
  }

  val q111Sql: String =
    """WITH days AS (
      |  SELECT DISTINCT user_id,
      |         CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day
      |  FROM events),
      |first AS (SELECT user_id, MIN(day) AS cohort FROM days GROUP BY user_id),
      |sizes AS (SELECT cohort, COUNT(*) AS n_cohort FROM first GROUP BY cohort),
      |act AS (
      |  SELECT f.cohort AS cohort, d.day - f.cohort AS day_offset,
      |         COUNT(*) AS n_active
      |  FROM days d JOIN first f USING (user_id)
      |  GROUP BY f.cohort, d.day - f.cohort)
      |SELECT a.cohort, a.day_offset, a.n_active, s.n_cohort,
      |       ROUND(CAST(a.n_active AS DOUBLE) / s.n_cohort, 6) AS retention
      |FROM act a JOIN sizes s ON a.cohort = s.cohort
      |ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // q112 — snapshot reconciliation (data diff): classify every key of
  // two table versions as added / removed / value-changed / unchanged,
  // with per-column change counts for the changed set. The migration
  // and backfill-validation primitive ("did the rewrite change
  // anything it shouldn't have?"), and the general form of the q63 CDC
  // merge's input audit. The second snapshot is derived
  // deterministically from orders (mod-keyed deletes / price updates /
  // status updates / inserts) so the oracle can rebuild it exactly.
  //
  // Shape: ONE full-outer join on the key (both sides shuffle once on
  // o_orderkey), classification and per-column comparisons are
  // projections over the joined row, and the report is one tiny
  // aggregate. At 100 TB this is the plan you want: no collect, no
  // second pass, and the join key is the primary key (no skew).
  // ---------------------------------------------------------------------
  def q112SnapshotDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val a = Tables.orders(spark, sfDir)
    // snapshot B: delete %13, reprice %7, restatus %5, insert shifted keys %17
    val b0 = a.filter(col("o_orderkey") % 13 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 7 === 0, col("o_totalprice") + 10.0)
          .otherwise(col("o_totalprice")))
      .withColumn("o_orderstatus",
        when(col("o_orderkey") % 5 === 0, lit("R"))
          .otherwise(col("o_orderstatus")))
    val inserts = a.filter(col("o_orderkey") % 17 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + lit(1000000000L))
    val b = b0.unionAll(inserts)

    val al = a.select(a.columns.toSeq.map(c => col(c).as(s"a_$c")): _*)
    val bl = b.select(b.columns.toSeq.map(c => col(c).as(s"b_$c")): _*)
    val j = al.join(bl, col("a_o_orderkey") === col("b_o_orderkey"), "full_outer")
    val changed = col("a_o_totalprice") =!= col("b_o_totalprice") ||
      col("a_o_orderstatus") =!= col("b_o_orderstatus")
    j.select(
        when(col("a_o_orderkey").isNull, "added")
          .when(col("b_o_orderkey").isNull, "removed")
          .when(changed, "changed").otherwise("unchanged").as("change_type"),
        when(col("a_o_totalprice") =!= col("b_o_totalprice"), 1L)
          .otherwise(0L).as("price_delta"),
        when(col("a_o_orderstatus") =!= col("b_o_orderstatus"), 1L)
          .otherwise(0L).as("status_delta"))
      .groupBy(col("change_type"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("price_delta")).as("n_price_changed"),
        sum(col("status_delta")).as("n_status_changed"))
      .orderBy("change_type")
  }

  val q112Sql: String =
    """WITH b AS (
      |  SELECT o_orderkey,
      |         CASE WHEN o_orderkey % 5 = 0 THEN 'R' ELSE o_orderstatus END
      |           AS o_orderstatus,
      |         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 10.0
      |              ELSE o_totalprice END AS o_totalprice
      |  FROM orders WHERE o_orderkey % 13 != 0
      |  UNION ALL
      |  SELECT o_orderkey + 1000000000, o_orderstatus, o_totalprice
      |  FROM orders WHERE o_orderkey % 17 = 0),
      |j AS (
      |  SELECT a.o_orderkey AS ak, b.o_orderkey AS bk,
      |         a.o_totalprice AS ap, b.o_totalprice AS bp,
      |         a.o_orderstatus AS ast, b.o_orderstatus AS bst
      |  FROM orders a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey)
      |SELECT CASE WHEN ak IS NULL THEN 'added'
      |            WHEN bk IS NULL THEN 'removed'
      |            WHEN ap != bp OR ast != bst THEN 'changed'
      |            ELSE 'unchanged' END AS change_type,
      |       COUNT(*) AS n_rows,
      |       CAST(SUM(CASE WHEN ap != bp THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_price_changed,
      |       CAST(SUM(CASE WHEN ast != bst THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_status_changed
      |FROM j
      |GROUP BY 1
      |ORDER BY change_type""".stripMargin

  // ---------------------------------------------------------------------
  // q118 — Pareto concentration report (the 80/20 audit): customers
  // ranked by revenue, cumulative revenue share, and the head flag
  // (still inside the top-80% of revenue). In a corpus pipeline the
  // identical query profiles source/domain concentration ("how few
  // domains contribute 80% of tokens?") — the diversity red flag.
  //
  // Shape: per-customer decimal-exact revenue (one fact shuffle), then
  // rank + running sum over the CUSTOMER-LEVEL aggregate (|customers|
  // rows, orders of magnitude under the fact table; q95's partitioned
  // prefix pattern composes if even that outgrows one task — noted,
  // same tradeoff as q103). Cumulative sums run in DECIMAL: a running
  // float sum would drift with rank, decimal is exact at every row.
  // The share division is one deterministic double op, rounded at 9.
  // ---------------------------------------------------------------------
  def q118ParetoShare(spark: SparkSession, sfDir: String): DataFrame = {
    val rev = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey"))
      .agg(exactSum(col("o_totalprice")).as("revenue"))
    val byRev = org.apache.spark.sql.expressions.Window
      .orderBy(col("revenue").desc, col("o_custkey").asc)
    val cum = org.apache.spark.sql.expressions.Window
      .orderBy(col("revenue").desc, col("o_custkey").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val total = rev.agg(sum(col("revenue")).as("total"))
    rev.crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(byRev))
      .withColumn("cum_share",
        round(sum(col("revenue")).over(cum).cast("double")
          / col("total").cast("double"), 9))
      .select(col("o_custkey"), col("rank"),
        col("revenue").cast("double").as("revenue"),
        col("cum_share"),
        (col("cum_share") <= lit(0.8)).as("in_head"))
      .orderBy("rank")
  }

  val q118Sql: String =
    """WITH rev AS (
      |  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS revenue
      |  FROM orders GROUP BY o_custkey),
      |t AS (SELECT SUM(revenue) AS total FROM rev),
      |r AS (
      |  SELECT o_custkey, revenue,
      |         ROW_NUMBER() OVER (ORDER BY revenue DESC, o_custkey) AS rank,
      |         SUM(revenue) OVER (ORDER BY revenue DESC, o_custkey
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM rev)
      |SELECT o_custkey, rank, CAST(revenue AS DOUBLE) AS revenue,
      |       ROUND(CAST(cum AS DOUBLE) / CAST(total AS DOUBLE), 9) AS cum_share,
      |       ROUND(CAST(cum AS DOUBLE) / CAST(total AS DOUBLE), 9) <= 0.8
      |         AS in_head
      |FROM r, t
      |ORDER BY rank""".stripMargin

  // ---------------------------------------------------------------------
  // q119 — event-transition matrix (first-order Markov counts): for
  // each consecutive same-user event pair, the (from, to) transition
  // count and row-normalized probability. The sequence-modeling prep
  // behind next-event prediction features, session-flow dashboards,
  // and curriculum ordering of interaction logs.
  //
  // Shape: ONE shuffle on user_id; lag() orders each user's events
  // (ties on ts broken by event_id — total order, so the matrix is
  // reproducible), the (from,to) count partial-aggregates, and the
  // row normalization joins the |types|² matrix against |types| row
  // totals — both aggregate-sized. Probabilities are exact-count
  // divisions rounded at 9.
  // ---------------------------------------------------------------------
  def q119TransitionMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val pairs = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      .filter(col("prev_type").isNotNull)
    val counts = pairs.groupBy(col("prev_type").as("from_type"),
        col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val rowTotals = counts.groupBy(col("from_type"))
      .agg(sum(col("n")).as("row_n"))
    counts.join(broadcast(rowTotals), Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n").cast("double") / col("row_n"), 9).as("p"))
      .orderBy("from_type", "to_type")
  }

  val q119Sql: String =
    """WITH pairs AS (
      |  SELECT LAG(event_type) OVER (PARTITION BY user_id
      |                               ORDER BY ts, event_id) AS from_type,
      |         event_type AS to_type
      |  FROM events),
      |c AS (
      |  SELECT from_type, to_type, COUNT(*) AS n
      |  FROM pairs WHERE from_type IS NOT NULL
      |  GROUP BY from_type, to_type),
      |rt AS (SELECT from_type, SUM(n) AS row_n FROM c GROUP BY from_type)
      |SELECT c.from_type, c.to_type, c.n,
      |       ROUND(CAST(c.n AS DOUBLE) / rt.row_n, 9) AS p
      |FROM c JOIN rt USING (from_type)
      |ORDER BY from_type, to_type""".stripMargin

  // ---------------------------------------------------------------------
  // q198 — 3-step transition probabilities: the cube of q119's Markov
  // matrix — where an event chain lands three transitions out, the
  // lookahead read for funnel design (does 'view' still reach
  // 'purchase' within 3 hops, and with what mass?).
  //
  // EXACT integer arithmetic end-to-end (the q193 nano-unit trick, here
  // in MICRO-units): P entries are n*1e6 div row_n, each matrix-multiply
  // step is integer multiply + sum + div-1e6 rescale — floor division
  // is deterministic and identical in both engines, so the oracle
  // reproduces every entry bit-for-bit with no float product anywhere.
  // (Decimal multiplication is deliberately avoided: Spark's
  // precision-loss rescaling on DECIMAL(38,_) products is engine-
  // specific; int64 micro-units are not.)
  //
  // Scale shape: all the data-sized work is q119's pair extraction (one
  // user-keyed shuffle for the lag window); the matrix algebra runs on
  // a |types|²-row frame — two broadcast self-joins of constant size.
  // At 100 TB the event scan dominates and the chain algebra is free.
  // ---------------------------------------------------------------------
  def q198MarkovPower(spark: SparkSession, sfDir: String): DataFrame = {
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val pairs = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      .filter(col("prev_type").isNotNull)
    val counts = pairs.groupBy(col("prev_type").as("f"), col("event_type").as("t"))
      .agg(count(lit(1)).as("n"))
    val rowTotals = counts.groupBy(col("f")).agg(sum(col("n")).as("row_n"))
    val p = counts.join(broadcast(rowTotals), Seq("f"))
      .select(col("f"), col("t"), expr("(n * 1000000L) div row_n").as("pu"))
      .cache() // |types|^2 rows; feeds both multiply steps
    def step(m: DataFrame): DataFrame =
      m.as("x").join(broadcast(p.as("y")), col("x.t") === col("y.f"))
        .groupBy(col("x.f").as("f"), col("y.t").as("t"))
        .agg(sum(col("x.pu") * col("y.pu")).as("s"))
        .select(col("f"), col("t"), expr("s div 1000000L").as("pu"))
    val p3 = step(step(p))
    p3.select(col("f").as("from_type"), col("t").as("to_type"),
        col("pu").as("p3_micro"))
      .orderBy("from_type", "to_type")
  }

  val q198Sql: String =
    """WITH pairs AS (
      |  SELECT LAG(event_type) OVER (PARTITION BY user_id
      |                               ORDER BY ts, event_id) AS f,
      |         event_type AS t
      |  FROM events),
      |c AS (SELECT f, t, COUNT(*) AS n
      |      FROM pairs WHERE f IS NOT NULL GROUP BY f, t),
      |rt AS (SELECT f, CAST(SUM(n) AS BIGINT) AS row_n FROM c GROUP BY f),
      |p AS (SELECT c.f, c.t, (c.n * 1000000) // rt.row_n AS pu
      |      FROM c JOIN rt USING (f)),
      |p2 AS (SELECT x.f, y.t,
      |              CAST(SUM(x.pu * y.pu) AS BIGINT) // 1000000 AS pu
      |       FROM p x JOIN p y ON x.t = y.f GROUP BY x.f, y.t),
      |p3 AS (SELECT x.f, y.t,
      |              CAST(SUM(x.pu * y.pu) AS BIGINT) // 1000000 AS pu
      |       FROM p2 x JOIN p y ON x.t = y.f GROUP BY x.f, y.t)
      |SELECT f AS from_type, t AS to_type, CAST(pu AS BIGINT) AS p3_micro
      |FROM p3 ORDER BY from_type, to_type""".stripMargin

  // ---------------------------------------------------------------------
  // q121 — concurrent-session timeline (sweep line): how many 300s-gap
  // user sessions are active in each minute — the load-curve / capacity
  // metric ("peak concurrency") and, over a corpus pipeline, the
  // ingest-parallelism profile. The naive form is a sessions × minutes
  // range join (quadratic row explosion); the sweep line never builds it.
  //
  // Shape, three strictly-shrinking stages:
  //   1. session bounds — one shuffle on user_id (gaps-and-islands, same
  //      300s gap as q08/q93), emitting (start,end) per session;
  //   2. boundary deltas — each session becomes TWO integer rows
  //      (+1 at its start minute, -1 after its end minute), partially
  //      pre-aggregated per minute: the shuffle carries at most
  //      |active minutes| rows regardless of corpus size;
  //   3. running sum over the MINUTE-level aggregate — the window input
  //      is bounded by the time SPAN (span/60 rows), not by data volume,
  //      so the single-task global window is safe at any SF (same
  //      argument as q103/q118; the q95 two-pass range-partition prefix
  //      scan composes if the span itself ever explodes).
  // All-integer arithmetic end to end — exact, partition-invariant.
  // ---------------------------------------------------------------------
  private val SessionGapUs = 300L * 1000000

  def q121SessionConcurrency(spark: SparkSession, sfDir: String): DataFrame = {
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val cum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val sessions = Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"))
      .withColumn("new_s",
        when(lag(col("ts_us"), 1).over(byUser).isNull
          || col("ts_us") - lag(col("ts_us"), 1).over(byUser) > SessionGapUs, 1)
          .otherwise(0))
      .withColumn("sid", sum(col("new_s")).over(cum))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("ts_us")).as("s_us"), max(col("ts_us")).as("e_us"))
    val deltas = sessions
      .select((col("s_us") / 60000000L).cast("long").as("m"), lit(1L).as("d"))
      .unionAll(sessions.select(
        ((col("e_us") / 60000000L).cast("long") + 1L).as("m"), lit(-1L).as("d")))
    val perMin = deltas.groupBy(col("m")).agg(sum(col("d")).as("delta"))
    val sweep = org.apache.spark.sql.expressions.Window.orderBy(col("m"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    perMin
      .select((col("m") * 60).as("minute_start_sec"), col("delta"),
        sum(col("delta")).over(sweep).as("active"))
      .orderBy("minute_start_sec")
  }

  val q121Sql: String =
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events),
       |o AS (
       |  SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
       |                   OR ts_us - lag(ts_us) OVER w > $SessionGapUs
       |                 THEN 1 ELSE 0 END AS new_s
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
       |s AS (
       |  SELECT *, SUM(new_s) OVER (PARTITION BY user_id
       |                             ORDER BY ts_us, event_id) AS sid
       |  FROM o),
       |sess AS (
       |  SELECT user_id, sid, MIN(ts_us) AS s_us, MAX(ts_us) AS e_us
       |  FROM s GROUP BY user_id, sid),
       |deltas AS (
       |  SELECT s_us // 60000000 AS m, 1 AS d FROM sess
       |  UNION ALL
       |  SELECT e_us // 60000000 + 1 AS m, -1 AS d FROM sess),
       |per_min AS (
       |  SELECT m, CAST(SUM(d) AS BIGINT) AS delta FROM deltas GROUP BY m)
       |SELECT m * 60 AS minute_start_sec, delta,
       |       CAST(SUM(delta) OVER (ORDER BY m
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |         AS active
       |FROM per_min
       |ORDER BY minute_start_sec""".stripMargin

  val q98Sql: String =
    """SELECT n_name,
      |       CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |                     AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
      |       COUNT(*) AS n_items
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate <  TIMESTAMP '1997-01-01'
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  // ---------------------------------------------------------------------
  // q131 — incremental materialized-aggregate maintenance: the warehouse
  // refresh primitive. A per-user aggregate (count / sum / max-ts) is
  // "stored"; when a new day of events lands, the engine aggregates ONLY
  // the delta partition and MERGES partial states (count: sum-of-counts,
  // sum: sum-of-sums, max: max-of-maxes) — never rescanning history.
  // Non-mergeable stats (avg) are DERIVED from merged sufficient
  // statistics at read time — the algebraic-aggregate discipline every
  // incremental view engine (Materialize, Delta MV, Druid rollup) runs on.
  //
  // Exactness: base and delta carry the exact DECIMAL(25,6) sum of
  // `value` as fixed-point states (exactSumState), so merging them
  // (exactSumOfStates) gives the full sum bit-for-bit regardless of
  // partitioning or merge order (the repo-wide decimal discipline). The
  // final avg is one decimal->double division, identical IEEE in both
  // engines.
  //
  // Scale shape: at 100 TB the base aggregate is a stored table and only
  // the delta scan runs per refresh — here both sides derive from the
  // same events scan with a cutoff = max(ts) - 1 day (a broadcast 1-row
  // aggregate, q99's totals shape). The merge is a union of two
  // PARTIAL-STATE tables re-aggregated on the SAME user_id key — one
  // shuffle whose input is |users| + |delta users| rows, not the corpus.
  // The oracle is the full recompute the incremental path must equal.
  // ---------------------------------------------------------------------
  def q131IncrementalAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("value").as("v"))
    val cutoff = ev.agg((max(col("ts")) - expr("INTERVAL 1 DAY")).as("cut"))
    val tagged = ev.crossJoin(broadcast(cutoff))
    def part(df: DataFrame): DataFrame = df
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), exactSumState(col("v")).as("sv"),
        max(col("ts")).as("mts"))
    val base  = part(tagged.filter(col("ts") <  col("cut")))
    val delta = part(tagged.filter(col("ts") >= col("cut")))
    base.unionByName(delta)
      .groupBy(col("user_id"))
      .agg(sum(col("n")).as("n_events"),
        exactSumOfStates(col("sv")).as("sv"),
        max(col("mts")).as("last_ts"))
      .select(col("user_id"), col("n_events"),
        col("sv").cast("double").as("sum_value"),
        // avg derived from merged sufficient stats; divide in DOUBLE so
        // both engines run the same single IEEE op (decimal-division
        // scale rules differ between engines).
        (col("sv").cast("double") / col("n_events")).as("avg_value"),
        col("last_ts"))
      .orderBy("user_id")
  }

  val q131Sql: String =
    """SELECT user_id, COUNT(*) AS n_events,
      |       CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value,
      |       CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*)
      |         AS avg_value,
      |       MAX(ts) AS last_ts
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------------
  // q132 — bucketed table checksum: the replication/migration audit
  // primitive (pt-table-checksum / Debezium verification shape). Rows
  // hash to a 60-bit value from a canonical key|attr representation;
  // buckets (key mod NB) aggregate an ORDER-INSENSITIVE triple
  // (row count, XOR of row hashes, sum of keys). Two copies of a table
  // compare NB tiny rows instead of the table; a mismatched bucket
  // narrows re-sync to 1/NB of the keyspace — without XOR's
  // order-insensitivity the comparison would need a global sort.
  //
  // Cross-engine exactness: the representation uses only integers,
  // strings, and epoch-us timestamps (no float/date formatting
  // ambiguity); the hash is the first 15 md5 hex chars parsed base-16 —
  // bit-identical in Spark (conv) and DuckDB (0x-cast), both < 2^60 so
  // XOR stays in positive BIGINT range.
  //
  // Scale shape: one scan, one partial-aggregable shuffle of NB×
  // partitions state rows. The md5 + conv are codegen'd builtins riding
  // the scan projection.
  // ---------------------------------------------------------------------
  private[graft] val ChecksumBuckets = 64

  def q132TableChecksum(spark: SparkSession, sfDir: String): DataFrame =
    checksumOrders(Tables.orders(spark, sfDir))

  /** Checksum of any orders-shaped frame — split out so a spec can
    * checksum a mutated copy and assert single-bucket divergence. */
  private[graft] def checksumOrders(orders: DataFrame): DataFrame =
    orders
      .select(col("o_orderkey"),
        pmod(col("o_orderkey"), lit(ChecksumBuckets)).as("bucket"),
        // o_orderdate reads as TIMESTAMP_NTZ; the session TZ is pinned
        // UTC, so the TIMESTAMP cast is an identity relabel.
        expr("CAST(conv(substr(md5(concat_ws('|', o_orderkey, o_custkey, " +
          "o_orderstatus, unix_micros(CAST(o_orderdate AS TIMESTAMP)))), " +
          "1, 15), 16, 10) AS BIGINT)").as("h"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(h)").as("xor_hash"),
        sum(col("o_orderkey")).as("sum_key"))
      .orderBy("bucket")

  val q132Sql: String =
    s"""SELECT o_orderkey % $ChecksumBuckets AS bucket,
       |       COUNT(*) AS n_rows,
       |       bit_xor(CAST(concat('0x', substr(md5(concat_ws('|',
       |                 o_orderkey, o_custkey, o_orderstatus,
       |                 epoch_us(o_orderdate))), 1, 15)) AS BIGINT))
       |         AS xor_hash,
       |       CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
       |FROM orders
       |GROUP BY 1
       |ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------------
  // q138 — frequent itemset pairs (market-basket co-occurrence): which
  // event types co-occur in the same (user, UTC day) basket more than
  // independence predicts. The pairwise-support step of association-rule
  // mining (Apriori's k=2 pass) and the behavioral-segmentation input —
  // the BASKET-set complement of q129's adjacency PMI.
  //
  // Scale shape: baskets dedup to distinct (user, day, type) FIRST (one
  // partial-combining shuffle: corpus -> |baskets|·|types| rows), and
  // the pair self-join is keyed on the basket id — per-basket output is
  // C(|types in basket|, 2) ≤ C(|event types|, 2), a constant, so join
  // output is O(baskets), never quadratic in rows. Marginals and the
  // basket total come from the deduped frame (broadcast 1-row total,
  // q99's shape). Lift = support·N/(c1·c2) with the q129 IEEE-pinned
  // op order and 6-dp round.
  // ---------------------------------------------------------------------
  /** Distinct (user, UTC day, type) basket rows — q138's corpus->basket
    * reduction, shared with q181's directed rules. */
  private[graft] def eventBaskets(spark: SparkSession, sfDir: String)
      : DataFrame =
    Tables.events(spark, sfDir)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        col("event_type"))
      .distinct()

  def q138ItemsetPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val b = eventBaskets(spark, sfDir)
      .cache() // basket table feeds pairs, marginals, and the total
    val pairs = b.as("a").join(b.as("c"), Seq("user_id", "day"))
      .filter(col("a.event_type") < col("c.event_type"))
      .groupBy(col("a.event_type").as("t1"), col("c.event_type").as("t2"))
      .agg(count(lit(1)).as("pair_n"))
    val marg = b.groupBy(col("event_type")).agg(count(lit(1)).as("c"))
    val total = b.select(col("user_id"), col("day")).distinct()
      .agg(count(lit(1)).as("n_baskets"))
    pairs
      .join(marg.select(col("event_type").as("t1"), col("c").as("c1")), "t1")
      .join(marg.select(col("event_type").as("t2"), col("c").as("c2")), "t2")
      .crossJoin(broadcast(total))
      .select(col("t1"), col("t2"), col("pair_n"), col("c1"), col("c2"),
        col("n_baskets"),
        round(col("pair_n").cast("double") * col("n_baskets") /
          (col("c1").cast("double") * col("c2")), 6).as("lift"))
      .orderBy("t1", "t2")
  }

  val q138Sql: String =
    """WITH b AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day,
      |         event_type
      |  FROM events),
      |pairs AS (
      |  SELECT a.event_type AS t1, c.event_type AS t2, count(*) AS pair_n
      |  FROM b a JOIN b c USING (user_id, day)
      |  WHERE a.event_type < c.event_type
      |  GROUP BY 1, 2),
      |marg AS (SELECT event_type, count(*) AS c FROM b GROUP BY 1),
      |total AS (
      |  SELECT count(*) AS n_baskets
      |  FROM (SELECT DISTINCT user_id, day FROM b))
      |SELECT t1, t2, pair_n, m1.c AS c1, m2.c AS c2, n_baskets,
      |       round(CAST(pair_n AS DOUBLE) * n_baskets /
      |             (CAST(m1.c AS DOUBLE) * m2.c), 6) AS lift
      |FROM pairs
      |JOIN marg m1 ON pairs.t1 = m1.event_type
      |JOIN marg m2 ON pairs.t2 = m2.event_type, total
      |ORDER BY t1, t2""".stripMargin

  // ---------------------------------------------------------------------
  // q181 — directed association rules with confidence and lift (the
  // rule-generation pass Apriori runs on top of q138's pairwise
  // supports): for every ORDERED pair antecedent -> consequent,
  // confidence = P(consequent | antecedent basket) with minimum-support
  // and minimum-confidence pruning. q138 answers "which types co-occur
  // beyond chance" (symmetric); this answers the actionable directed
  // form "baskets with X also contain Y z% of the time" — confidence is
  // asymmetric (conf(X->Y) != conf(Y->X) whenever marginals differ), so
  // the directed pass is not derivable from q138's output alone.
  //
  // Shape: identical to q138 (basket dedup shuffle, basket-keyed pair
  // join bounded by C(|types|,2) per basket, broadcast 1-row total);
  // support/confidence prune inside the join's aggregate output.
  // Confidence is ONE exact-int division; lift reuses q138's 6-dp
  // discipline.
  // ---------------------------------------------------------------------
  private[graft] val RuleMinSupport = 0.01 // fraction of baskets
  private[graft] val RuleMinConf    = 0.2

  def q181AssocRules(spark: SparkSession, sfDir: String): DataFrame = {
    val b = eventBaskets(spark, sfDir).cache()
    val pairs = b.as("a").join(b.as("c"), Seq("user_id", "day"))
      .filter(col("a.event_type") =!= col("c.event_type"))
      .groupBy(col("a.event_type").as("antecedent"),
        col("c.event_type").as("consequent"))
      .agg(count(lit(1)).as("pair_n"))
    val marg = b.groupBy(col("event_type")).agg(count(lit(1)).as("c"))
    val total = b.select(col("user_id"), col("day")).distinct()
      .agg(count(lit(1)).as("n_baskets"))
    pairs
      .join(marg.select(col("event_type").as("antecedent"),
        col("c").as("c1")), "antecedent")
      .join(marg.select(col("event_type").as("consequent"),
        col("c").as("c2")), "consequent")
      .crossJoin(broadcast(total))
      .filter(col("pair_n").cast("double")
          >= lit(RuleMinSupport) * col("n_baskets")
        && col("pair_n").cast("double") / col("c1") >= lit(RuleMinConf))
      .select(col("antecedent"), col("consequent"), col("pair_n"),
        col("c1"), col("c2"), col("n_baskets"),
        (col("pair_n").cast("double") / col("c1")).as("confidence"),
        round(col("pair_n").cast("double") * col("n_baskets")
          / (col("c1").cast("double") * col("c2")), 6).as("lift"))
      .orderBy("antecedent", "consequent")
  }

  val q181Sql: String =
    s"""WITH b AS (
       |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day,
       |         event_type
       |  FROM events),
       |pairs AS (
       |  SELECT a.event_type AS antecedent, c.event_type AS consequent,
       |         count(*) AS pair_n
       |  FROM b a JOIN b c USING (user_id, day)
       |  WHERE a.event_type <> c.event_type
       |  GROUP BY 1, 2),
       |marg AS (SELECT event_type, count(*) AS c FROM b GROUP BY 1),
       |total AS (
       |  SELECT count(*) AS n_baskets
       |  FROM (SELECT DISTINCT user_id, day FROM b))
       |SELECT antecedent, consequent, pair_n, m1.c AS c1, m2.c AS c2,
       |       n_baskets,
       |       CAST(pair_n AS DOUBLE) / m1.c AS confidence,
       |       round(CAST(pair_n AS DOUBLE) * n_baskets /
       |             (CAST(m1.c AS DOUBLE) * m2.c), 6) AS lift
       |FROM pairs
       |JOIN marg m1 ON pairs.antecedent = m1.event_type
       |JOIN marg m2 ON pairs.consequent = m2.event_type, total
       |WHERE CAST(pair_n AS DOUBLE) >= $RuleMinSupport * n_baskets
       |  AND CAST(pair_n AS DOUBLE) / m1.c >= $RuleMinConf
       |ORDER BY antecedent, consequent""".stripMargin

  // ---------------------------------------------------------------------
  // q180 — mutual-information independence audit between two categorical
  // columns (lang x source): per-cell observed count, independence
  // expectation, the MI contribution (p_ij·ln(p_ij/(p_i·p_j))), and the
  // chi-square contribution. The corpus-composition question "are
  // languages distributed independently of sources" (a skewed cell =
  // a source that over-collects one language — a mixture-design and
  // leakage red flag), and the feature-level complement of q129's
  // token-pair PMI. Contributions are emitted PER CELL (the caller
  // sums), so no cross-engine float summation exists.
  //
  // Shape: one (lang, source) groupBy + two marginal aggregates + a
  // broadcast 1-row total; the full grid (including zero cells, whose
  // MI contribution is lim x->0 x·ln x = 0) comes from an
  // aggregate-sized marginal cross join. ln rides the established 6-dp
  // decimal discipline (q129/q149); expectation and chi-square are
  // fixed IEEE chains over exact ints.
  // ---------------------------------------------------------------------
  def q180MiAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select(col("lang"), col("source"))
    val cells = docs.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_ij"))
    val ml = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_i"))
    val ms = docs.groupBy(col("source")).agg(count(lit(1)).as("n_j"))
    val tot = docs.agg(count(lit(1)).as("n"))
    val expected = col("n_i").cast("double") * col("n_j") / col("n")
    val nij = coalesce(col("n_ij"), lit(0L))
    ml.crossJoin(broadcast(ms))
      .join(cells, Seq("lang", "source"), "left")
      .crossJoin(broadcast(tot))
      .select(col("lang"), col("source"),
        nij.as("n_ij"), col("n_i"), col("n_j"),
        expected.as("expected"),
        when(nij === 0L, lit(0.0)).otherwise(
          round((nij.cast("double") / col("n"))
            * log(nij.cast("double") * col("n")
              / (col("n_i").cast("double") * col("n_j"))), 6))
          .as("mi_term"),
        ((nij.cast("double") - expected) * (nij.cast("double") - expected)
          / expected).as("chi2_term"))
      .orderBy("lang", "source")
  }

  val q180Sql: String =
    """WITH d AS (SELECT lang, source FROM documents),
      |cells AS (SELECT lang, source, count(*) AS n_ij
      |          FROM d GROUP BY 1, 2),
      |ml AS (SELECT lang, count(*) AS n_i FROM d GROUP BY 1),
      |ms AS (SELECT source, count(*) AS n_j FROM d GROUP BY 1),
      |tot AS (SELECT count(*) AS n FROM d)
      |SELECT ml.lang, ms.source,
      |       COALESCE(n_ij, 0) AS n_ij, n_i, n_j,
      |       CAST(n_i AS DOUBLE) * n_j / n AS expected,
      |       CASE WHEN COALESCE(n_ij, 0) = 0 THEN 0e0
      |            ELSE round((CAST(n_ij AS DOUBLE) / n)
      |                   * ln(CAST(n_ij AS DOUBLE) * n
      |                        / (CAST(n_i AS DOUBLE) * n_j)), 6) END
      |         AS mi_term,
      |       (CAST(COALESCE(n_ij, 0) AS DOUBLE)
      |          - CAST(n_i AS DOUBLE) * n_j / n)
      |         * (CAST(COALESCE(n_ij, 0) AS DOUBLE)
      |          - CAST(n_i AS DOUBLE) * n_j / n)
      |         / (CAST(n_i AS DOUBLE) * n_j / n) AS chi2_term
      |FROM ml CROSS JOIN ms
      |LEFT JOIN cells ON ml.lang = cells.lang AND ms.source = cells.source
      |CROSS JOIN tot
      |ORDER BY ml.lang, ms.source""".stripMargin

  // ---------------------------------------------------------------------
  // q152 — pairwise correlation of event-type time series: Pearson r
  // between every two types' ZERO-FILLED hourly count series — the
  // ops/analytics question "does the error series track the click
  // series" answered exactly. Zero hours matter (a pair dormant
  // together is correlation signal), so the series live on the full
  // [min, max] hour grid, not just observed hours.
  //
  // Exactness: every sufficient statistic (n, Σx, Σy, Σxy, Σx², Σy²) is
  // an INTEGER — partial-aggregable, order-insensitive, bit-identical;
  // r is one fixed double expression over them (IEEE sqrt is correctly
  // rounded), 6-dp rounded (q104's discipline, cross-series).
  //
  // Shape: one (hour, type) count shuffle; the grid explode is
  // |hours|·|types| rows from a broadcast 1-row span; the pair join is
  // keyed on hour (|hours| rows/side, C(|types|,2) output per hour).
  // ---------------------------------------------------------------------
  def q152SeriesCorr(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(expr("unix_micros(ts) div 3600000000").as("hr"),
        col("event_type"))
    // ONE corpus scan: span and the type set both derive from the
    // |hours|x|types|-sized counts aggregate (q75's discipline — reading
    // them off the raw table would triple-scan the corpus)
    val counts = ev.groupBy(col("hr"), col("event_type"))
      .agg(count(lit(1)).as("c"))
      .cache()
    val span = counts.agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
    val types = counts.select(col("event_type")).distinct()
    val grid = span.select(explode(expr("sequence(h0, h1)")).as("hr"))
      .crossJoin(types)
    val series = grid.join(counts, Seq("hr", "event_type"), "left")
      .select(col("hr"), col("event_type"),
        coalesce(col("c"), lit(0L)).as("c"))
      .cache() // both sides of the pair join
    val a = series.select(col("hr"), col("event_type").as("t1"), col("c").as("x"))
    val b = series.select(col("hr"), col("event_type").as("t2"), col("c").as("y"))
    a.join(b, Seq("hr")).filter(col("t1") < col("t2"))
      .groupBy(col("t1"), col("t2"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .withColumn("corr_r", expr(
        "round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) / " +
          "(sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) * " +
          "sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6)"))
      .orderBy("t1", "t2")
  }

  val q152Sql: String =
    """WITH ev AS (
      |  SELECT epoch_us(ts) // 3600000000 AS hr, event_type FROM events),
      |span AS (SELECT min(hr) AS h0, max(hr) AS h1 FROM ev),
      |grid AS (
      |  SELECT g.hr, t.event_type
      |  FROM (SELECT unnest(generate_series(h0, h1)) AS hr FROM span) g
      |  CROSS JOIN (SELECT DISTINCT event_type FROM ev) t),
      |counts AS (SELECT hr, event_type, count(*) AS c FROM ev GROUP BY 1, 2),
      |series AS (
      |  SELECT grid.hr, grid.event_type, coalesce(counts.c, 0) AS c
      |  FROM grid LEFT JOIN counts USING (hr, event_type)),
      |pairs AS (
      |  SELECT a.t1, a.x, b.t2, b.y, a.hr FROM
      |    (SELECT hr, event_type AS t1, c AS x FROM series) a
      |    JOIN (SELECT hr, event_type AS t2, c AS y FROM series) b
      |    USING (hr)
      |  WHERE a.t1 < b.t2)
      |SELECT t1, t2, COUNT(*) AS n,
      |       CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |       CAST(SUM(x * y) AS BIGINT) AS sxy,
      |       CAST(SUM(x * x) AS BIGINT) AS sxx,
      |       CAST(SUM(y * y) AS BIGINT) AS syy,
      |       round((CAST(COUNT(*) AS DOUBLE) * SUM(x * y)
      |              - CAST(SUM(x) AS DOUBLE) * SUM(y)) /
      |             (sqrt(CAST(COUNT(*) AS DOUBLE) * SUM(x * x)
      |                   - CAST(SUM(x) AS DOUBLE) * SUM(x)) *
      |              sqrt(CAST(COUNT(*) AS DOUBLE) * SUM(y * y)
      |                   - CAST(SUM(y) AS DOUBLE) * SUM(y))), 6) AS corr_r
      |FROM pairs
      |GROUP BY t1, t2
      |ORDER BY t1, t2""".stripMargin

  // ---------------------------------------------------------------------
  // q182 — Spearman rank correlation of token-frequency distributions
  // between every pair of sources: does source A use the vocabulary the
  // way source B does? Rank correlation is the drift measure that is
  // ROBUST to corpus-size and frequency-scale differences (q170's JSD
  // and q72's KL compare probability mass — a 10x bigger source with
  // identical usage ordering scores rho = 1 here, where raw-frequency
  // Pearson would be dominated by the head). Tie handling is the
  // textbook average-rank rule, carried as DOUBLED ranks so every
  // rank is an exact INTEGER: 2·avgrank = 2·minrank + ties − 1, and
  // Spearman's rho on doubled ranks equals rho on ranks (affine
  // invariance). All sufficient statistics are then exact integer sums
  // (q152's discipline; at a 10^6-token shared vocabulary Σ ra·rb sits
  // within int64 by ~2 decades — the DECIMAL(38,0) swap is one cast
  // when vocabulary outgrows that) and rho is one pinned 6-dp double
  // expression.
  //
  // Shape: one (source, token) count shuffle; the pair join is keyed
  // on token (|vocab| rows/side, C(|sources|,2) output per token); the
  // rank windows partition by (s1, s2) — vocabulary-sized partitions,
  // bounded by the token domain, never the corpus (q120's argument).
  // ---------------------------------------------------------------------
  def q182SpearmanDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = Tables.documents(spark, sfDir)
      .select(col("source"),
        explode(split(trim(col("text")), " +")).as("t"))
      .groupBy(col("source"), col("t")).agg(count(lit(1)).as("c"))
      .cache() // both sides of the pair join
    val a = counts.select(col("t"), col("source").as("s1"), col("c").as("ca"))
    val b = counts.select(col("t"), col("source").as("s2"), col("c").as("cb"))
    val shared = a.join(b, Seq("t")).filter(col("s1") < col("s2"))
    val wa = Window.partitionBy(col("s1"), col("s2")).orderBy(col("ca"))
    val ta = Window.partitionBy(col("s1"), col("s2"), col("ca"))
    val wb = Window.partitionBy(col("s1"), col("s2")).orderBy(col("cb"))
    val tb = Window.partitionBy(col("s1"), col("s2"), col("cb"))
    shared
      .select(col("s1"), col("s2"),
        (lit(2) * rank().over(wa) + count(lit(1)).over(ta) - 1).as("ra"),
        (lit(2) * rank().over(wb) + count(lit(1)).over(tb) - 1).as("rb"))
      .groupBy(col("s1"), col("s2"))
      .agg(count(lit(1)).as("n"),
        sum(col("ra")).as("sx"), sum(col("rb")).as("sy"),
        sum(col("ra") * col("rb")).as("sxy"),
        sum(col("ra") * col("ra")).as("sxx"),
        sum(col("rb") * col("rb")).as("syy"))
      .withColumn("rho", expr(
        "round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) / " +
          "(sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) * " +
          "sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6)"))
      .orderBy("s1", "s2")
  }

  val q182Sql: String =
    """WITH counts AS (
      |  SELECT source, t, count(*) AS c
      |  FROM (SELECT source, unnest(regexp_split_to_array(trim(text), ' +'))
      |               AS t
      |        FROM documents)
      |  GROUP BY 1, 2),
      |shared AS (
      |  SELECT a.t, a.source AS s1, b.source AS s2, a.c AS ca, b.c AS cb
      |  FROM counts a JOIN counts b ON a.t = b.t AND a.source < b.source),
      |ranked AS (
      |  SELECT s1, s2,
      |         2 * rank() OVER (PARTITION BY s1, s2 ORDER BY ca)
      |           + COUNT(*) OVER (PARTITION BY s1, s2, ca) - 1 AS ra,
      |         2 * rank() OVER (PARTITION BY s1, s2 ORDER BY cb)
      |           + COUNT(*) OVER (PARTITION BY s1, s2, cb) - 1 AS rb
      |  FROM shared)
      |SELECT s1, s2, COUNT(*) AS n,
      |       CAST(SUM(ra) AS BIGINT) AS sx, CAST(SUM(rb) AS BIGINT) AS sy,
      |       CAST(SUM(ra * rb) AS BIGINT) AS sxy,
      |       CAST(SUM(ra * ra) AS BIGINT) AS sxx,
      |       CAST(SUM(rb * rb) AS BIGINT) AS syy,
      |       round((CAST(COUNT(*) AS DOUBLE) * SUM(ra * rb)
      |              - CAST(SUM(ra) AS DOUBLE) * SUM(rb)) /
      |             (sqrt(CAST(COUNT(*) AS DOUBLE) * SUM(ra * ra)
      |                   - CAST(SUM(ra) AS DOUBLE) * SUM(ra)) *
      |              sqrt(CAST(COUNT(*) AS DOUBLE) * SUM(rb * rb)
      |                   - CAST(SUM(rb) AS DOUBLE) * SUM(rb))), 6) AS rho
      |FROM ranked
      |GROUP BY s1, s2
      |ORDER BY s1, s2""".stripMargin

  // ---------------------------------------------------------------------
  // q153 — linear-interpolation resampling to a regular grid: each event
  // type's mean-value series, re-sampled onto the full hour grid with
  // LINEAR interpolation across gaps (q75's LOCF fills with the stale
  // value; training-feature and plotting pipelines want the line
  // between neighbors). Leading/trailing hours with no bracketing
  // observation stay NULL — interpolation never extrapolates.
  //
  // Exactness: observed hourly means use the decimal-sum-then-ONE-
  // double-division discipline; the interpolation is one pinned double
  // expression over (prev, next, integer hour distances), 6-dp rounded.
  //
  // Shape: per-type windows partition-parallel across types; the two
  // neighbor sweeps (last/first non-null) ride ONE sort of one
  // exchange — the q150 nearest machinery applied to series repair.
  // ---------------------------------------------------------------------
  def q153InterpResample(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(expr("unix_micros(ts) div 3600000000").as("hr"),
        col("event_type"), col("value").as("v"))
    val known = ev.groupBy(col("event_type"), col("hr"))
      .agg((dsum(col("v")) / count(lit(1))).as("obs"))
      .cache() // span, type set, and the grid join all derive from it —
               // one corpus scan total (q75's discipline)
    val span = known.agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
    val grid = span.select(explode(expr("sequence(h0, h1)")).as("hr"))
      .crossJoin(known.select(col("event_type")).distinct())
    val wPrev = Window.partitionBy(col("event_type")).orderBy(col("hr"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy(col("event_type")).orderBy(col("hr"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    grid.join(known, Seq("event_type", "hr"), "left")
      .withColumn("pv", last(col("obs"), ignoreNulls = true).over(wPrev))
      .withColumn("ph", last(when(col("obs").isNotNull, col("hr")),
        ignoreNulls = true).over(wPrev))
      .withColumn("nv", first(col("obs"), ignoreNulls = true).over(wNext))
      .withColumn("nh", first(when(col("obs").isNotNull, col("hr")),
        ignoreNulls = true).over(wNext))
      .select(col("event_type"), col("hr"),
        when(col("obs").isNotNull, round(col("obs"), 6))
          .when(col("pv").isNotNull && col("nv").isNotNull,
            expr("round(pv + (nv - pv) * (hr - ph) / (nh - ph), 6)"))
          .as("value_hourly"),
        when(col("obs").isNotNull, "obs")
          .when(col("pv").isNotNull && col("nv").isNotNull, "interp")
          .otherwise("edge").as("kind"))
      .orderBy("event_type", "hr")
  }

  val q153Sql: String =
    """WITH ev AS (
      |  SELECT epoch_us(ts) // 3600000000 AS hr, event_type,
      |         CAST(value AS DECIMAL(25,6)) AS v
      |  FROM events),
      |known AS (
      |  SELECT event_type, hr, CAST(SUM(v) AS DOUBLE) / COUNT(*) AS obs
      |  FROM ev GROUP BY 1, 2),
      |span AS (SELECT min(hr) AS h0, max(hr) AS h1 FROM ev),
      |grid AS (
      |  SELECT g.hr, t.event_type
      |  FROM (SELECT unnest(generate_series(h0, h1)) AS hr FROM span) g
      |  CROSS JOIN (SELECT DISTINCT event_type FROM ev) t),
      |j AS (
      |  SELECT grid.event_type, grid.hr, known.obs,
      |         last_value(known.obs IGNORE NULLS) OVER wp AS pv,
      |         last_value(CASE WHEN known.obs IS NOT NULL
      |                         THEN grid.hr END IGNORE NULLS) OVER wp AS ph,
      |         first_value(known.obs IGNORE NULLS) OVER wn AS nv,
      |         first_value(CASE WHEN known.obs IS NOT NULL
      |                          THEN grid.hr END IGNORE NULLS) OVER wn AS nh
      |  FROM grid LEFT JOIN known USING (event_type, hr)
      |  WINDOW wp AS (PARTITION BY grid.event_type ORDER BY grid.hr
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |         wn AS (PARTITION BY grid.event_type ORDER BY grid.hr
      |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      |SELECT event_type, hr,
      |       CASE WHEN obs IS NOT NULL THEN round(obs, 6)
      |            WHEN pv IS NOT NULL AND nv IS NOT NULL
      |            THEN round(pv + (nv - pv) * (hr - ph) / (nh - ph), 6)
      |       END AS value_hourly,
      |       CASE WHEN obs IS NOT NULL THEN 'obs'
      |            WHEN pv IS NOT NULL AND nv IS NOT NULL THEN 'interp'
      |            ELSE 'edge' END AS kind
      |FROM j
      |ORDER BY event_type, hr""".stripMargin

  // ---------------------------------------------------------------------
  // q154 — exact weighted median per group (lower weighted median):
  // document length weighted by TOKEN MASS per language — "the length
  // at which half the language's tokens live", the truncation-budget
  // statistic q120's unweighted median cannot give (one long doc
  // carries more training mass than many short ones). Lower weighted
  // median = the smallest value whose cumulative weight reaches half
  // the total — all-integer, bit-exact.
  //
  // Shape: per-language cumulative windows partition-parallel (the
  // window input is |docs-per-lang| rows of 2 longs); totals broadcast.
  // ---------------------------------------------------------------------
  def q154WeightedMedian(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .select(col("lang"), col("doc_id"), col("n_chars"),
        size(split(trim(col("text")), " +")).cast("long").as("w"))
      .cache() // totals and the cumulative window both consume it —
               // uncached, the corpus tokenizes twice
    val tot = d.groupBy(col("lang")).agg(sum(col("w")).as("wtot"))
    val cum = d.withColumn("cw", sum(col("w")).over(
      Window.partitionBy(col("lang"))
        .orderBy(col("n_chars"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    cum.join(broadcast(tot), "lang")
      .filter(col("cw") * 2 >= col("wtot"))
      .groupBy(col("lang"))
      .agg(min(col("n_chars")).as("weighted_median_chars"),
        first(col("wtot")).as("token_mass"))
      .orderBy("lang")
  }

  val q154Sql: String =
    """WITH d AS (
      |  SELECT lang, doc_id, n_chars,
      |         len(regexp_split_to_array(trim(text), ' +'))::BIGINT AS w
      |  FROM documents),
      |tot AS (SELECT lang, CAST(SUM(w) AS BIGINT) AS wtot FROM d GROUP BY lang),
      |cum AS (
      |  SELECT lang, n_chars,
      |         SUM(w) OVER (PARTITION BY lang ORDER BY n_chars, doc_id
      |                      ROWS UNBOUNDED PRECEDING) AS cw
      |  FROM d)
      |SELECT cum.lang AS lang, MIN(n_chars) AS weighted_median_chars,
      |       ANY_VALUE(wtot) AS token_mass
      |FROM cum JOIN tot ON cum.lang = tot.lang
      |WHERE cw * 2 >= wtot
      |GROUP BY cum.lang
      |ORDER BY cum.lang""".stripMargin

  // ---------------------------------------------------------------------
  // q155 — inter-event timing statistics per user: mean/variance of the
  // gaps between consecutive events plus the burstiness coefficient
  // B = (σ−μ)/(σ+μ) (Goh & Barabási) — the classic human-dynamics
  // feature separating Poisson-like users (B≈0...−1) from bursty ones
  // (B→1), used for bot detection and activity modeling.
  //
  // Exactness: gaps are integer seconds via lag over one user window;
  // n/Σg/Σg² are exact integers, and μ, σ, B are ONE pinned double
  // expression over them, 6-dp (population variance; q152's recipe).
  // ---------------------------------------------------------------------
  def q155InterEventStats(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val gaps = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("gap",
        unix_timestamp(col("ts")) - unix_timestamp(lag(col("ts"), 1).over(w)))
      .filter(col("gap").isNotNull)
    gaps.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("gap")).as("sg"),
        sum(col("gap") * col("gap")).as("sgg"))
      .withColumn("mean_gap_sec",
        expr("round(CAST(sg AS DOUBLE) / n_gaps, 6)"))
      .withColumn("burstiness", expr(
        "round((sqrt(CAST(sgg AS DOUBLE) / n_gaps " +
          "- (CAST(sg AS DOUBLE) / n_gaps) * (CAST(sg AS DOUBLE) / n_gaps)) " +
          "- CAST(sg AS DOUBLE) / n_gaps) / " +
          "(sqrt(CAST(sgg AS DOUBLE) / n_gaps " +
          "- (CAST(sg AS DOUBLE) / n_gaps) * (CAST(sg AS DOUBLE) / n_gaps)) " +
          "+ CAST(sg AS DOUBLE) / n_gaps), 6)"))
      .orderBy("user_id")
  }

  val q155Sql: String =
    """WITH g AS (
      |  SELECT user_id,
      |         CAST(FLOOR(epoch(ts)) AS BIGINT)
      |           - CAST(FLOOR(epoch(lag(ts) OVER (
      |               PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT)
      |           AS gap
      |  FROM events)
      |SELECT user_id, COUNT(*) AS n_gaps,
      |       CAST(SUM(gap) AS BIGINT) AS sg,
      |       CAST(SUM(gap * gap) AS BIGINT) AS sgg,
      |       round(CAST(SUM(gap) AS DOUBLE) / COUNT(*), 6) AS mean_gap_sec,
      |       round((sqrt(CAST(SUM(gap * gap) AS DOUBLE) / COUNT(*)
      |               - (CAST(SUM(gap) AS DOUBLE) / COUNT(*))
      |                 * (CAST(SUM(gap) AS DOUBLE) / COUNT(*)))
      |              - CAST(SUM(gap) AS DOUBLE) / COUNT(*)) /
      |             (sqrt(CAST(SUM(gap * gap) AS DOUBLE) / COUNT(*)
      |               - (CAST(SUM(gap) AS DOUBLE) / COUNT(*))
      |                 * (CAST(SUM(gap) AS DOUBLE) / COUNT(*)))
      |              + CAST(SUM(gap) AS DOUBLE) / COUNT(*)), 6) AS burstiness
      |FROM g
      |WHERE gap IS NOT NULL
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------------
  // q158 — user-journey path mining: the most common length-3 event
  // sequences across all users ("view > click > purchase") — the
  // product-analytics path report, and the sequential-pattern upgrade
  // of q119's first-order transition matrix (which cannot distinguish
  // A>B>C from A>B plus B>C in unrelated journeys).
  //
  // Shape: two lead() columns over ONE user window (no self-joins, no
  // explosion — each event contributes exactly one path) feeding a
  // path-keyed count; top-k is TakeOrderedAndProject. Share is one
  // pinned 6-dp double against the broadcast path total.
  // ---------------------------------------------------------------------
  private[graft] val PathTopK = 15

  def q158PathMining(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val paths = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("t2", lead(col("event_type"), 1).over(w))
      .withColumn("t3", lead(col("event_type"), 2).over(w))
      // all three legs non-null: the oracle's '||' concatenation nulls
      // the whole path if ANY leg is null — match it exactly (concat_ws
      // would silently skip a null leg and emit a malformed 2-step path)
      .filter(col("event_type").isNotNull && col("t2").isNotNull &&
        col("t3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("t2"), col("t3"))
        .as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n"))
      .cache() // counted once; feeds the total AND the top-k
    val tot = paths.agg(sum(col("n")).as("nt"))
    paths.crossJoin(broadcast(tot))
      .select(col("path"), col("n"),
        expr("round(CAST(n AS DOUBLE) / nt, 6)").as("share"))
      .orderBy(desc("n"), col("path").asc).limit(PathTopK)
      .orderBy("path")
  }

  // ---------------------------------------------------------------------
  // q159 — funnel conversion rates with Wilson 95% confidence intervals,
  // by hour-of-day of the click: the A/B-readout statistic — a 40%
  // conversion over 10 clicks and over 10,000 clicks are different
  // facts, and the Wilson interval (unlike the naive normal one) stays
  // inside [0,1] and behaves at small n. Click→purchase attribution
  // reuses q92's next-purchase window (one user_id shuffle, no
  // self-join); the interval is a pinned double expression over exact
  // (n, k) counts, z = 1.96, 6-dp.
  // ---------------------------------------------------------------------
  def q159FunnelCi(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
      .rowsBetween(1, Window.unboundedFollowing)
    val clicks = ev
      .withColumn("next_purchase_us",
        min(when(col("event_type") === "purchase", col("ts_us"))).over(w))
      .filter(col("event_type") === "click")
      .select(expr("(ts_us div 3600000000) % 24").as("hour_of_day"),
        (col("next_purchase_us") - col("ts_us") <= FunnelWindowUs)
          .as("converted"))
    clicks.groupBy(col("hour_of_day"))
      .agg(count(lit(1)).as("n_clicks"),
        count(when(col("converted"), 1)).as("n_converted"))
      .withColumn("p_hat", expr(
        "round(CAST(n_converted AS DOUBLE) / n_clicks, 6)"))
      .withColumn("wilson_low", expr(
        "round((CAST(n_converted AS DOUBLE) / n_clicks" +
          " + 1.96e0 * 1.96e0 / (2e0 * n_clicks)" +
          " - 1.96e0 * sqrt(CAST(n_converted AS DOUBLE) / n_clicks" +
          " * (1e0 - CAST(n_converted AS DOUBLE) / n_clicks) / n_clicks" +
          " + 1.96e0 * 1.96e0 / (4e0 * n_clicks * n_clicks)))" +
          " / (1e0 + 1.96e0 * 1.96e0 / n_clicks), 6)"))
      .withColumn("wilson_high", expr(
        "round((CAST(n_converted AS DOUBLE) / n_clicks" +
          " + 1.96e0 * 1.96e0 / (2e0 * n_clicks)" +
          " + 1.96e0 * sqrt(CAST(n_converted AS DOUBLE) / n_clicks" +
          " * (1e0 - CAST(n_converted AS DOUBLE) / n_clicks) / n_clicks" +
          " + 1.96e0 * 1.96e0 / (4e0 * n_clicks * n_clicks)))" +
          " / (1e0 + 1.96e0 * 1.96e0 / n_clicks), 6)"))
      .orderBy("hour_of_day")
  }

  val q159Sql: String =
    s"""WITH clicks AS (
       |  SELECT (ts_us // 3600000000) % 24 AS hour_of_day,
       |         (next_purchase_us - ts_us <= $FunnelWindowUs) AS converted
       |  FROM (
       |    SELECT event_type, ts_us,
       |           MIN(CASE WHEN event_type = 'purchase' THEN ts_us END) OVER (
       |             PARTITION BY user_id ORDER BY ts_us, event_id
       |             ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
       |             AS next_purchase_us
       |    FROM (SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us
       |          FROM events))
       |  WHERE event_type = 'click'),
       |agg AS (
       |  SELECT hour_of_day, COUNT(*) AS n_clicks,
       |         COUNT(*) FILTER (converted) AS n_converted
       |  FROM clicks GROUP BY hour_of_day)
       |SELECT hour_of_day, n_clicks, n_converted,
       |       round(CAST(n_converted AS DOUBLE) / n_clicks, 6) AS p_hat,
       |       round((CAST(n_converted AS DOUBLE) / n_clicks
       |              + 1.96e0 * 1.96e0 / (2e0 * n_clicks)
       |              - 1.96e0 * sqrt(CAST(n_converted AS DOUBLE) / n_clicks
       |                * (1e0 - CAST(n_converted AS DOUBLE) / n_clicks) / n_clicks
       |                + 1.96e0 * 1.96e0 / (4e0 * n_clicks * n_clicks)))
       |             / (1e0 + 1.96e0 * 1.96e0 / n_clicks), 6) AS wilson_low,
       |       round((CAST(n_converted AS DOUBLE) / n_clicks
       |              + 1.96e0 * 1.96e0 / (2e0 * n_clicks)
       |              + 1.96e0 * sqrt(CAST(n_converted AS DOUBLE) / n_clicks
       |                * (1e0 - CAST(n_converted AS DOUBLE) / n_clicks) / n_clicks
       |                + 1.96e0 * 1.96e0 / (4e0 * n_clicks * n_clicks)))
       |             / (1e0 + 1.96e0 * 1.96e0 / n_clicks), 6) AS wilson_high
       |FROM agg
       |ORDER BY hour_of_day""".stripMargin

  val q158Sql: String =
    s"""WITH p AS (
       |  SELECT event_type || '>' ||
       |         lead(event_type, 1) OVER w || '>' ||
       |         lead(event_type, 2) OVER w AS path
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |c AS (SELECT path, count(*) AS n FROM p WHERE path IS NOT NULL
       |      GROUP BY path),
       |t AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM c)
       |SELECT path, n, round(CAST(n AS DOUBLE) / nt, 6) AS share FROM (
       |  SELECT path, n, nt FROM c, t
       |  ORDER BY n DESC, path ASC LIMIT $PathTopK)
       |ORDER BY path""".stripMargin

  // ---------------------------------------------------------------------
  // q220 — RFM segmentation (Hughes 1994, the classic customer-value
  // grid): per active user, Recency (days since last event), Frequency
  // (event count), Monetary (order revenue via the events.user_id →
  // customer FK edge q139 profiles), each cut into terciles, then the
  // 27-cell report of population and revenue — the segmentation read
  // behind retention/reactivation targeting, and the one classic
  // cross-table (events ⋈ orders) analytics op the surface lacked.
  //
  // Exactness: recency/frequency are exact integers (micros div
  // 86400e6); monetary sums through the decimal-exact dsum; terciles
  // are ntile(3) with a (metric, user_id) total order — q88 established
  // cross-engine ntile parity — each computed through
  // [[graft.operators.TwoPass.globalNtile]], the exact range-partitioned
  // rank decomposition, so no user-scale frame funnels through a
  // single window task (the monetary key is near-unique, which rules
  // out q232's key-cardinality shortcut — the range-partition rank
  // handles arbitrary keys). Mean frequency reports as exact ppm.
  // ---------------------------------------------------------------------
  def q220RfmSegments(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
    val mx = ev.agg(max(col("us")).as("mx"))
    val rf = ev.groupBy(col("user_id"))
      .agg(max(col("us")).as("last_us"), count(lit(1)).as("f"))
      .crossJoin(broadcast(mx))
      .selectExpr("user_id", "(mx - last_us) div 86400000000L AS r_days", "f")
    val m = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey").as("user_id"))
      .agg(dsum(col("o_totalprice")).as("m"))
    val base = rf.join(m, Seq("user_id"), "left")
      .na.fill(0.0, Seq("m"))
    val scored = Seq(
      (Seq(col("r_days"), col("user_id")), "r_t"),
      (Seq(col("f"), col("user_id")), "f_t"),
      (Seq(col("m"), col("user_id")), "m_t"))
      .foldLeft(base) { case (df, (keys, name)) =>
        graft.operators.TwoPass.globalNtile(df, keys, 3, name)
      }
    scored.groupBy(col("r_t"), col("f_t"), col("m_t"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("f")).as("sum_f"),
        dsum(col("m")).as("sum_m"))
      .selectExpr("r_t", "f_t", "m_t", "n_users",
        "1000000L * sum_f div n_users AS mean_f_ppm", "sum_m")
      .orderBy("r_t", "f_t", "m_t")
  }

  val q220Sql: String =
    """WITH ev AS (SELECT user_id, epoch_us(ts) AS us FROM events),
      |mx AS (SELECT MAX(us) AS mx FROM ev),
      |rf AS (
      |  SELECT user_id,
      |         (mx.mx - MAX(us)) // 86400000000 AS r_days,
      |         CAST(COUNT(*) AS BIGINT) AS f
      |  FROM ev, mx GROUP BY user_id, mx.mx),
      |mo AS (
      |  SELECT o_custkey AS user_id,
      |         CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS m
      |  FROM orders GROUP BY 1),
      |scored AS (
      |  SELECT rf.user_id, rf.f, COALESCE(mo.m, 0.0) AS m,
      |         CAST(ntile(3) OVER (ORDER BY rf.r_days, rf.user_id) AS BIGINT)
      |           AS r_t,
      |         CAST(ntile(3) OVER (ORDER BY rf.f, rf.user_id) AS BIGINT)
      |           AS f_t,
      |         CAST(ntile(3) OVER (ORDER BY COALESCE(mo.m, 0.0), rf.user_id)
      |           AS BIGINT) AS m_t
      |  FROM rf LEFT JOIN mo USING (user_id))
      |SELECT r_t, f_t, m_t, CAST(COUNT(*) AS BIGINT) AS n_users,
      |       1000000 * CAST(SUM(f) AS BIGINT) // COUNT(*) AS mean_f_ppm,
      |       CAST(SUM(CAST(m AS DECIMAL(25,6))) AS DOUBLE) AS sum_m
      |FROM scored
      |GROUP BY 1, 2, 3
      |ORDER BY r_t, f_t, m_t""".stripMargin

  // ---------------------------------------------------------------------
  // q215 — U-shaped (position-based) multi-touch attribution: every
  // purchase distributes 1e6 ppm of conversion credit over the user's
  // touches in the prior 24 h — 40% to the first touch, 40% to the
  // last, 20% split across the middles (the standard U rule; n=1 gets
  // all, n=2 splits 50/50). The report aggregates credit per touch
  // TYPE — which channel earns conversions vs merely appears in paths —
  // complementing q92's lag view, q94's funnel counts, and q158's path
  // shapes with the credit-assignment read a marketing/curation
  // pipeline acts on.
  //
  // Exactness: credits are ppm BIGINTs; the 20% middle pool uses
  // integer division with the REMAINDER pinned to the first touch, so
  // every conversion's credits sum to exactly 1e6 in both engines.
  // Shape: one user-keyed interval join (q82's batch shape) + two
  // windows partitioned by conversion (paths are 24h-bounded, never
  // user-lifetime), then a types-sized aggregate.
  // ---------------------------------------------------------------------
  def q215Attribution(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    val conv = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("conv_id"), col("user_id").as("cu"),
        col("ts").as("cts"))
    val touch = ev.filter(col("event_type") =!= "purchase")
      .select(col("event_id").as("tid"), col("user_id").as("tu"),
        col("ts").as("tts"), col("event_type"))
    val path = conv.join(touch,
        col("cu") === col("tu") &&
          col("tts") >= col("cts") - expr("INTERVAL 86400 SECONDS") &&
          col("tts") < col("cts"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("conv_id").orderBy(col("tts"), col("tid"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("conv_id")))
    val credited = path.selectExpr("event_type",
      """CASE WHEN n = 1 THEN 1000000L
        |     WHEN n = 2 THEN 500000L
        |     WHEN rn = 1 THEN 400000L
        |          + (200000L - 200000L div (n - 2) * (n - 2))
        |     WHEN rn = n THEN 400000L
        |     ELSE 200000L div (n - 2) END AS credit""".stripMargin)
    credited.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_touches"), sum(col("credit")).as("credit_ppm"))
      .selectExpr("event_type", "n_touches", "credit_ppm",
        "credit_ppm div n_touches AS mean_credit_ppm")
      .orderBy("event_type")
  }

  val q215Sql: String =
    """WITH conv AS (
      |  SELECT event_id AS conv_id, user_id AS cu, ts AS cts
      |  FROM events WHERE event_type = 'purchase'),
      |touch AS (
      |  SELECT event_id AS tid, user_id AS tu, ts AS tts, event_type
      |  FROM events WHERE event_type <> 'purchase'),
      |path AS (
      |  SELECT c.conv_id, t.event_type,
      |         row_number() OVER (PARTITION BY c.conv_id
      |                            ORDER BY t.tts, t.tid) AS rn,
      |         CAST(COUNT(*) OVER (PARTITION BY c.conv_id) AS BIGINT) AS n
      |  FROM conv c JOIN touch t
      |    ON t.tu = c.cu
      |   AND t.tts >= c.cts - INTERVAL '86400 seconds'
      |   AND t.tts < c.cts),
      |credited AS (
      |  SELECT event_type,
      |         CASE WHEN n = 1 THEN 1000000
      |              WHEN n = 2 THEN 500000
      |              WHEN rn = 1 THEN 400000
      |                   + (200000 - 200000 // (n - 2) * (n - 2))
      |              WHEN rn = n THEN 400000
      |              ELSE 200000 // (n - 2) END AS credit
      |  FROM path)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_touches,
      |       CAST(SUM(credit) AS BIGINT) AS credit_ppm,
      |       CAST(SUM(credit) AS BIGINT) // COUNT(*) AS mean_credit_ppm
      |FROM credited
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q236 — Kaplan–Meier time-to-conversion survival (Kaplan & Meier
  // 1958, the nonparametric estimator every funnel/churn read should
  // use instead of naive conversion rates): per user, hours from FIRST
  // event to FIRST purchase; users who never purchase are right-CENSORED
  // at the corpus horizon — they leave the risk set without counting as
  // conversions, which is exactly the bias naive rate cuts get wrong.
  // Emits the classic KM table: at each observed duration, the risk-set
  // size, conversions, censorings, and S(t) = Π (1 − d/n).
  //
  // Cross-engine: durations and risk-set counts are exact integers; the
  // product runs as exp(Σ ln((n−d)/n)) with each ln 6-dp-DECIMAL-rounded
  // before the cumulative sum (q55's libm discipline — the sum is then
  // exact and order-insensitive); a risk set that empties through pure
  // conversion pins S to exactly 0.0 via a cumulative flag rather than
  // ln(0). Shape: one user-keyed aggregate over the corpus, then every
  // window runs over the ≤|users|-row duration table (aggregate-bounded
  // — the PlanSpec global-window gate's safe class; at 100 TB the
  // duration table is still user-sized, and if users outgrow one task
  // the cumulative sums decompose through TwoPass.frozenPrefix).
  // ---------------------------------------------------------------------
  def q236KmSurvival(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), expr("unix_micros(ts)").as("us"),
        col("event_type"))
    kmFromPerUser(kmPerUser(ev))
  }

  /** Per user of the events `ev` (user_id, us, event_type): the first
    * event, the first purchase (null if none) and the last event — order
    * statistics, so they merge by min/min/max (the q245 stream fold). */
  private[graft] def kmPerUser(ev: DataFrame): DataFrame =
    ev.groupBy(col("user_id"))
      .agg(min(col("us")).as("first_us"),
        min(when(col("event_type") === "purchase", col("us"))).as("conv_us"),
        max(col("us")).as("last_us"))

  /** The KM estimator tail shared by q236 (batch) and q245 (the
    * streaming min-merge fold) over [[kmPerUser]]'s rows; the horizon is
    * the last event of all. Split out so the two paths are the SAME
    * expressions: parity is structural, not re-derived. */
  private[graft] def kmFromPerUser(perUser: DataFrame): DataFrame = {
    val horizon = perUser.agg(max(col("last_us")).as("h"))
    val durations = perUser.select(col("first_us"), col("conv_us"))
      .crossJoin(broadcast(horizon))
      .selectExpr(
        "CASE WHEN conv_us IS NOT NULL " +
          "THEN (conv_us - first_us) div 3600000000L " +
          "ELSE (h - first_us) div 3600000000L END AS t_hours",
        "CAST(conv_us IS NOT NULL AS INT) AS is_event")
    val byT = durations.groupBy(col("t_hours"))
      .agg(count(lit(1)).as("n_at"),
        sum(col("is_event")).cast("long").as("n_event"),
        sum(lit(1) - col("is_event")).cast("long").as("n_censor"))
    val wDesc = Window.orderBy(col("t_hours").desc)
    val wAsc = Window.orderBy(col("t_hours"))
    byT
      .withColumn("n_risk", sum(col("n_at")).over(wDesc))
      .withColumn("lf", expr(
        "CASE WHEN n_event = 0 OR n_event = n_risk " +
          "THEN CAST(0 AS DECIMAL(18,6)) " +
          "ELSE CAST(round(ln(CAST(n_risk - n_event AS DOUBLE) / n_risk), 6)" +
          " AS DECIMAL(18,6)) END"))
      .withColumn("dead", max(expr(
        "CASE WHEN n_event = n_risk THEN 1 ELSE 0 END")).over(wAsc))
      .withColumn("cum_lf", sum(col("lf")).over(wAsc))
      .selectExpr("t_hours", "n_risk", "n_event", "n_censor",
        "CASE WHEN dead = 1 THEN CAST(0.0 AS DOUBLE) " +
          "ELSE round(exp(CAST(cum_lf AS DOUBLE)), 6) END AS survival")
      .orderBy("t_hours")
  }

  val q236Sql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) AS us, event_type FROM events),
      |hz AS (SELECT MAX(us) AS h FROM ev),
      |per_user AS (
      |  SELECT user_id, MIN(us) AS first_us,
      |         MIN(CASE WHEN event_type = 'purchase' THEN us END) AS conv_us
      |  FROM ev GROUP BY user_id),
      |durations AS (
      |  SELECT CASE WHEN conv_us IS NOT NULL
      |              THEN (conv_us - first_us) // 3600000000
      |              ELSE (h - first_us) // 3600000000 END AS t_hours,
      |         CASE WHEN conv_us IS NOT NULL THEN 1 ELSE 0 END AS is_event
      |  FROM per_user, hz),
      |by_t AS (
      |  SELECT t_hours, CAST(COUNT(*) AS BIGINT) AS n_at,
      |         CAST(SUM(is_event) AS BIGINT) AS n_event,
      |         CAST(SUM(1 - is_event) AS BIGINT) AS n_censor
      |  FROM durations GROUP BY t_hours),
      |risked AS (
      |  SELECT t_hours, n_event, n_censor,
      |         CAST(SUM(n_at) OVER (ORDER BY t_hours DESC) AS BIGINT)
      |           AS n_risk
      |  FROM by_t),
      |factors AS (
      |  SELECT *,
      |         CASE WHEN n_event = 0 OR n_event = n_risk
      |              THEN CAST(0 AS DECIMAL(18,6))
      |              ELSE CAST(round(ln(CAST(n_risk - n_event AS DOUBLE)
      |                                / n_risk), 6) AS DECIMAL(18,6)) END
      |           AS lf,
      |         MAX(CASE WHEN n_event = n_risk THEN 1 ELSE 0 END)
      |           OVER (ORDER BY t_hours) AS dead
      |  FROM risked)
      |SELECT t_hours, n_risk, n_event, n_censor,
      |       CASE WHEN dead = 1 THEN 0.0
      |            ELSE round(exp(CAST(SUM(lf) OVER (ORDER BY t_hours)
      |                                AS DOUBLE)), 6) END AS survival
      |FROM factors
      |ORDER BY t_hours""".stripMargin

  // ---------------------------------------------------------------------
  // q237 — seasonal index decomposition of event volume: hour-of-day and
  // day-of-week multiplicative indices over the DENSE hour grid (q75's
  // zero-fill discipline — silent hours are exactly the seasonal signal
  // a sparse aggregate never emits). index_ppm = 1e6 · (bucket mean) /
  // (grand mean), computed as one all-integer floor division
  // 1e6·sum_b·cells_total / (cells_b·sum_total) — bit-identical
  // cross-engine with no float in sight. int64 envelope (q238's
  // discipline): the numerator 1e6·n_events·cells_total holds to
  // ~1e9 events over a ~1e3-hour grid (1e6·1e9·1e3 ≈ 1e18 < 2^63);
  // past that Spark wraps silently while DuckDB promotes to HUGEINT —
  // the DECIMAL(38,0) swap is one cast on both engines. The pre-read
  // before q78's anomaly z-scores: a 3 a.m. "drop" is only an anomaly
  // net of the 3 a.m. index.
  //
  // Shape: the corpus shuffles once into the hour-count aggregate;
  // everything after is grid-sized (≤ |hours| rows). Epoch-hour
  // arithmetic pins the calendar: hod = hr % 24 (UTC midnight-anchored),
  // dow = (hr div 24 + 4) % 7 (epoch day 0 = Thursday → 0 = Sunday).
  // ---------------------------------------------------------------------
  def q237SeasonalIndex(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(expr("unix_micros(ts) div 3600000000").as("hr"))
    val counts = ev.groupBy(col("hr")).agg(count(lit(1)).as("c"))
    val span = counts.agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
    val grid = span.select(explode(expr("sequence(h0, h1)")).as("hr"))
      .join(counts, Seq("hr"), "left")
      .select(col("hr"), coalesce(col("c"), lit(0L)).as("c"))
      .selectExpr("hr % 24 AS hod", "(hr div 24 + 4) % 7 AS dow", "c")
      .cache() // both marginal sweeps read the one zero-filled grid
    val totals = grid.agg(count(lit(1)).as("cells_total"),
      sum(col("c")).as("sum_total"))
    val hod = grid.groupBy(col("hod").as("bucket"))
      .agg(count(lit(1)).as("n_cells"), sum(col("c")).as("n_events"))
      .withColumn("dim", lit("hod"))
    val dow = grid.groupBy(col("dow").as("bucket"))
      .agg(count(lit(1)).as("n_cells"), sum(col("c")).as("n_events"))
      .withColumn("dim", lit("dow"))
    hod.unionByName(dow).crossJoin(broadcast(totals))
      .selectExpr("dim", "bucket", "n_cells", "n_events",
        "1000000L * n_events * cells_total div (n_cells * sum_total) " +
          "AS index_ppm")
      .orderBy("dim", "bucket")
  }

  val q237Sql: String =
    """WITH ev AS (
      |  SELECT epoch_us(ts) // 3600000000 AS hr FROM events),
      |counts AS (SELECT hr, count(*) AS c FROM ev GROUP BY hr),
      |span AS (SELECT min(hr) AS h0, max(hr) AS h1 FROM counts),
      |grid AS (
      |  SELECT g.hr % 24 AS hod, (g.hr // 24 + 4) % 7 AS dow,
      |         coalesce(counts.c, 0) AS c
      |  FROM (SELECT unnest(generate_series(h0, h1)) AS hr FROM span) g
      |  LEFT JOIN counts ON g.hr = counts.hr),
      |totals AS (
      |  SELECT count(*) AS cells_total, SUM(c) AS sum_total FROM grid),
      |buckets AS (
      |  SELECT 'hod' AS dim, hod AS bucket,
      |         CAST(count(*) AS BIGINT) AS n_cells,
      |         CAST(SUM(c) AS BIGINT) AS n_events
      |  FROM grid GROUP BY hod
      |  UNION ALL
      |  SELECT 'dow' AS dim, dow AS bucket,
      |         CAST(count(*) AS BIGINT) AS n_cells,
      |         CAST(SUM(c) AS BIGINT) AS n_events
      |  FROM grid GROUP BY dow)
      |SELECT dim, bucket, n_cells, n_events,
      |       CAST(1000000 * n_events * cells_total
      |            // (n_cells * sum_total) AS BIGINT) AS index_ppm
      |FROM buckets, totals
      |ORDER BY dim, bucket""".stripMargin

  // ---------------------------------------------------------------------
  // q238 — autocorrelation function of hourly event volume at lags
  // 1..24 (Box–Jenkins: r_k = Σ(x_t−x̄)(x_{t+k}−x̄) / Σ(x_t−x̄)² over
  // the dense grid) — the periodicity detector behind q237's indices: a
  // daily cycle shows as the r_24 peak, and the identification read
  // before fitting any forecasting model on event volume.
  //
  // Cross-engine: the mean is NEVER materialized as a float — multiply
  // the textbook formula through by N²: num_k = N²·Σx_t·x_{t+k} −
  // N·S·(Σhead+Σtail) + m·S², den = N²·Σx² − N·S² (N² cancels in the
  // ratio), all exact int64 sufficient statistics (int64 holds to ~1e5
  // events/hour·1e3-hour spans; the DECIMAL(38,0) swap is one cast past
  // that), r_k one pinned 6-dp double division. Shape: one corpus
  // shuffle into hour counts; the 24-lag self-join runs over the
  // grid-sized series (≤|hours| rows) with the lag table a broadcast
  // sequence — never a corpus join.
  // ---------------------------------------------------------------------
  def q238Acf(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(expr("unix_micros(ts) div 3600000000").as("hr"))
    val counts = ev.groupBy(col("hr")).agg(count(lit(1)).as("c"))
    val span = counts.agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
    val series = span.select(explode(expr("sequence(h0, h1)")).as("hr"))
      .join(counts, Seq("hr"), "left")
      .select(col("hr"), coalesce(col("c"), lit(0L)).as("x"))
      .cache() // head and tail of every lag pair read the one grid
    val glob = series.agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
      sum(col("x") * col("x")).as("s2"))
    val lags = spark.range(1, 25).select(col("id").as("lag"))
    val a = series.select(col("hr"), col("x"))
    val b = series.select(col("hr").as("hrb"), col("x").as("y"))
    a.crossJoin(broadcast(lags))
      .join(b, col("hrb") === col("hr") + col("lag"))
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("m"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x")).as("shead"), sum(col("y")).as("stail"))
      .crossJoin(broadcast(glob))
      .selectExpr("lag", "m", "sxy",
        "round(CAST(n * n * sxy - n * s * (shead + stail) + m * s * s " +
          "AS DOUBLE) / CAST(n * n * s2 - n * s * s AS DOUBLE), 6) AS acf")
      .orderBy("lag")
  }

  val q238Sql: String =
    """WITH ev AS (
      |  SELECT epoch_us(ts) // 3600000000 AS hr FROM events),
      |counts AS (SELECT hr, count(*) AS c FROM ev GROUP BY hr),
      |span AS (SELECT min(hr) AS h0, max(hr) AS h1 FROM counts),
      |series AS (
      |  SELECT g.hr, coalesce(counts.c, 0) AS x
      |  FROM (SELECT unnest(generate_series(h0, h1)) AS hr FROM span) g
      |  LEFT JOIN counts ON g.hr = counts.hr),
      |gstats AS (
      |  SELECT count(*) AS n, SUM(x) AS s, SUM(x * x) AS s2 FROM series),
      |lags AS (SELECT unnest(generate_series(1, 24)) AS lag),
      |paired AS (
      |  SELECT l.lag, CAST(COUNT(*) AS BIGINT) AS m,
      |         CAST(SUM(a.x * b.x) AS BIGINT) AS sxy,
      |         CAST(SUM(a.x) AS BIGINT) AS shead,
      |         CAST(SUM(b.x) AS BIGINT) AS stail
      |  FROM lags l
      |  JOIN series a ON true
      |  JOIN series b ON b.hr = a.hr + l.lag
      |  GROUP BY l.lag)
      |SELECT lag, m, sxy,
      |       round(CAST(n * n * sxy - n * s * (shead + stail) + m * s * s
      |                  AS DOUBLE)
      |             / CAST(n * n * s2 - n * s * s AS DOUBLE), 6) AS acf
      |FROM paired, gstats
      |ORDER BY lag""".stripMargin

  // ---------------------------------------------------------------------
  // q240 — Mann–Whitney U rank-sum test between every pair of sources on
  // doc length (Mann & Whitney 1947): the DISTRIBUTION-FREE "is source A
  // systematically longer than source B" read — the location companion
  // to q177's KS shape test and q182's Spearman ordering test, robust
  // where q241's t assumes finiteness of variance behaves.
  //
  // Scale-right formulation: NEVER rank the pooled corpus. U counts
  // discordant pairs, which is a pure function of the per-VALUE count
  // table: 2·U₁ = Σ_v c₁(v)·(2·C₂(<v) + c₂(v)) — exact int64 (the ½ tie
  // credit rides the doubling, q182's doubled-rank trick), with C₂(<v)
  // one cumulative window over the value-cardinality aggregate (bounded
  // frame — the plan-gate-safe class; values are n_chars, not docs).
  // Tie-corrected normal approximation: var = n₁n₂/12·((N+1) −
  // Σ(t³−t)/(N(N−1))), z = (2U₁ − n₁n₂)/(2√var) — Σ(t³−t) exact int64,
  // z one pinned 6-dp double chain shared with the oracle.
  // ---------------------------------------------------------------------
  def q240MannWhitney(spark: SparkSession, sfDir: String): DataFrame = {
    val cnt = Tables.documents(spark, sfDir)
      .groupBy(col("source"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("c"))
      .cache() // both sides of the tiny pair grid read the one aggregate
    val srcs = cnt.select(col("source")).distinct()
    val pairs = srcs.select(col("source").as("s1"))
      .crossJoin(srcs.select(col("source").as("s2")))
      .filter(col("s1") < col("s2"))
    val pv = cnt.join(broadcast(pairs),
        col("source") === col("s1") || col("source") === col("s2"))
      .groupBy(col("s1"), col("s2"), col("v"))
      .agg(sum(when(col("source") === col("s1"), col("c")).otherwise(0L))
        .as("c1"),
        sum(when(col("source") === col("s2"), col("c")).otherwise(0L))
          .as("c2"))
    val w = Window.partitionBy(col("s1"), col("s2")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    pv.withColumn("cum2", coalesce(sum(col("c2")).over(w), lit(0L)))
      .groupBy(col("s1"), col("s2"))
      .agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
        sum(col("c1") * (lit(2L) * col("cum2") + col("c2"))).as("two_u1"),
        sum((col("c1") + col("c2")) * (col("c1") + col("c2"))
          * (col("c1") + col("c2")) - (col("c1") + col("c2"))).as("ties"))
      .selectExpr("s1", "s2", "n1", "n2", "two_u1", "ties",
        "round(CAST(two_u1 - n1 * n2 AS DOUBLE) / " +
          "(2e0 * sqrt(CAST(n1 AS DOUBLE) * n2 / 12e0 * " +
          "(CAST(n1 + n2 + 1 AS DOUBLE) - CAST(ties AS DOUBLE) / " +
          "(CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1))))), 6) AS z")
      .orderBy("s1", "s2")
  }

  val q240Sql: String =
    """WITH cnt AS (
      |  SELECT source, n_chars AS v, count(*) AS c
      |  FROM documents GROUP BY 1, 2),
      |srcs AS (SELECT DISTINCT source FROM cnt),
      |pairs AS (
      |  SELECT a.source AS s1, b.source AS s2
      |  FROM srcs a JOIN srcs b ON a.source < b.source),
      |pv AS (
      |  SELECT s1, s2, v,
      |         CAST(SUM(CASE WHEN source = s1 THEN c ELSE 0 END) AS BIGINT)
      |           AS c1,
      |         CAST(SUM(CASE WHEN source = s2 THEN c ELSE 0 END) AS BIGINT)
      |           AS c2
      |  FROM cnt JOIN pairs ON source = s1 OR source = s2
      |  GROUP BY s1, s2, v),
      |cum AS (
      |  SELECT *, coalesce(SUM(c2) OVER (PARTITION BY s1, s2 ORDER BY v
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |           AS cum2
      |  FROM pv),
      |stats AS (
      |  SELECT s1, s2, CAST(SUM(c1) AS BIGINT) AS n1,
      |         CAST(SUM(c2) AS BIGINT) AS n2,
      |         CAST(SUM(c1 * (2 * cum2 + c2)) AS BIGINT) AS two_u1,
      |         CAST(SUM((c1 + c2) * (c1 + c2) * (c1 + c2) - (c1 + c2))
      |              AS BIGINT) AS ties
      |  FROM cum GROUP BY s1, s2)
      |SELECT s1, s2, n1, n2, two_u1, ties,
      |       round(CAST(two_u1 - n1 * n2 AS DOUBLE) /
      |             (2e0 * sqrt(CAST(n1 AS DOUBLE) * n2 / 12e0 *
      |              (CAST(n1 + n2 + 1 AS DOUBLE) - CAST(ties AS DOUBLE) /
      |               (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1))))), 6) AS z
      |FROM stats
      |ORDER BY s1, s2""".stripMargin

  // ---------------------------------------------------------------------
  // q241 — Welch's unequal-variance t-test between every pair of sources
  // on doc length (Welch 1947, the test Student's t should almost always
  // be): t = (m̄₁−m̄₂)/√(s₁²/n₁+s₂²/n₂) with Welch–Satterthwaite degrees
  // of freedom — the parametric companion to q240 (location under
  // normal-ish tails) and the significance layer q201's bootstrap CIs
  // bracket empirically.
  //
  // Cross-engine: the per-source sufficient statistics (n, Σx, Σx²) are
  // exact int64 from one corpus aggregate; means, sample variances, t
  // and df all evaluate through ONE shared expression-string chain
  // (q196's discipline) — bit-identical in both engines — and round 6-dp
  // only at the output. The pair grid is a broadcast of the
  // |sources|-row stats frame; no corpus-sized join anywhere.
  // ---------------------------------------------------------------------
  def q241WelchT(spark: SparkSession, sfDir: String): DataFrame = {
    val stats = Tables.documents(spark, sfDir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sx"),
        sum(col("n_chars") * col("n_chars")).as("sxx"))
    val a = stats.select(col("source").as("s1"), col("n").as("n1"),
      col("sx").as("sx1"), col("sxx").as("sxx1"))
    val b = stats.select(col("source").as("s2"), col("n").as("n2"),
      col("sx").as("sx2"), col("sxx").as("sxx2"))
    a.join(broadcast(b), col("s1") < col("s2"))
      .selectExpr("s1", "s2", "n1", "n2",
        s"round(${Relational.welchT}, 6) AS t",
        s"round(${Relational.welchDf}, 6) AS df")
      .orderBy("s1", "s2")
  }

  /** Shared Welch expression strings (q196's discipline: one string, two
    * engines, bit-identical evaluation order). Sample variance via the
    * exact-sufficient-stats form s² = (n·Σx² − (Σx)²) / (n·(n−1)). */
  private[graft] val welchV1 =
    "(CAST(n1 AS DOUBLE) * sxx1 - CAST(sx1 AS DOUBLE) * sx1) / " +
      "(CAST(n1 AS DOUBLE) * (n1 - 1)) / n1"
  private[graft] val welchV2 =
    "(CAST(n2 AS DOUBLE) * sxx2 - CAST(sx2 AS DOUBLE) * sx2) / " +
      "(CAST(n2 AS DOUBLE) * (n2 - 1)) / n2"
  private[graft] val welchT =
    s"(CAST(sx1 AS DOUBLE) / n1 - CAST(sx2 AS DOUBLE) / n2) / " +
      s"sqrt(($welchV1) + ($welchV2))"
  private[graft] val welchDf =
    s"(($welchV1) + ($welchV2)) * (($welchV1) + ($welchV2)) / " +
      s"(($welchV1) * ($welchV1) / (n1 - 1) + ($welchV2) * ($welchV2) / (n2 - 1))"

  // ---------------------------------------------------------------------
  // q243 — Kruskal–Wallis H across ALL sources at once (Kruskal & Wallis
  // 1952, one-way ANOVA on ranks): the omnibus "do any of these k
  // sources differ in length location" gate a pipeline runs BEFORE
  // q240's 190 pairwise tests — one H beats k(k−1)/2 uncontrolled
  // comparisons. Emits per-source mean ranks (the effect direction) plus
  // the tie-corrected H every row carries.
  //
  // Same scale-right machinery as q240: ranks are a pure function of the
  // per-VALUE count table — doubled average rank 2r(v) = 2·C(<v) + T(v)
  // + 1 is an exact int64 (q182's doubled-rank trick), so each source's
  // doubled rank sum 2R_i is exact; the only non-integers are the k
  // per-source terms (2R_i)²/n_i, each 6-dp-DECIMAL-rounded before the
  // order-insensitive decimal sum (q191's pattern), and the final pinned
  // H chain. The cumulative window runs over the value-cardinality
  // aggregate — bounded, gate-safe; no pooled corpus rank anywhere.
  // ---------------------------------------------------------------------
  def q243KruskalWallis(spark: SparkSession, sfDir: String): DataFrame = {
    val cnt = Tables.documents(spark, sfDir)
      .groupBy(col("source"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("c"))
    val perV = cnt.groupBy(col("v"))
      .agg(sum(col("c")).as("t"))
    val wv = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = perV
      .withColumn("cum", coalesce(sum(col("t")).over(wv), lit(0L)))
      .withColumn("two_r", lit(2L) * col("cum") + col("t") + 1L)
    val perSrc = cnt.join(ranked, Seq("v"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_i"), sum(col("c") * col("two_r")).as("two_ri"))
      .withColumn("term", expr(
        "CAST(round(CAST(two_ri AS DOUBLE) * two_ri / n_i, 6) " +
          "AS DECIMAL(25,6))"))
    val ties = perV.agg(sum(col("t") * col("t") * col("t") - col("t"))
      .as("ties"), sum(col("t")).as("n"))
    val h = perSrc.agg(sum(col("term")).as("sum_terms"),
        count(lit(1)).as("k"))
      .crossJoin(broadcast(ties))
      .selectExpr("k", "n", "ties", s"round($kwH, 6) AS h",
        s"round(($kwH) / (1e0 - CAST(ties AS DOUBLE) / " +
          "(CAST(n AS DOUBLE) * n * n - n)), 6) AS h_tie_corrected")
    perSrc.select(col("source"), col("n_i"), col("two_ri"))
      .withColumn("mean_rank_ppm",
        expr("1000000L * two_ri div (2L * n_i)"))
      .crossJoin(broadcast(h))
      .select(col("source"), col("n_i"), col("two_ri"), col("mean_rank_ppm"),
        col("k"), col("n"), col("ties"), col("h"), col("h_tie_corrected"))
      .orderBy("source")
  }

  /** Shared H chain: H = 3·Σ(2Rᵢ)²/nᵢ / (N(N+1)) − 3(N+1) — the 12/(4·)
    * of the textbook form folded into one constant; sum_terms is the
    * 6-dp decimal sum of the per-source terms. */
  private[graft] val kwH =
    "3e0 * CAST(sum_terms AS DOUBLE) / (CAST(n AS DOUBLE) * (n + 1)) " +
      "- 3e0 * (n + 1)"

  val q243Sql: String =
    s"""WITH cnt AS (
      |  SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS c
      |  FROM documents GROUP BY 1, 2),
      |per_v AS (SELECT v, CAST(SUM(c) AS BIGINT) AS t FROM cnt GROUP BY v),
      |ranked AS (
      |  SELECT v, t,
      |         2 * coalesce(SUM(t) OVER (ORDER BY v
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |           + t + 1 AS two_r
      |  FROM per_v),
      |per_src AS (
      |  SELECT source, CAST(SUM(c) AS BIGINT) AS n_i,
      |         CAST(SUM(c * two_r) AS BIGINT) AS two_ri,
      |         CAST(round(CAST(SUM(c * two_r) AS DOUBLE) * SUM(c * two_r)
      |                    / SUM(c), 6) AS DECIMAL(25,6)) AS term
      |  FROM cnt JOIN ranked USING (v)
      |  GROUP BY source),
      |tstats AS (
      |  SELECT CAST(SUM(t * t * t - t) AS BIGINT) AS ties,
      |         CAST(SUM(t) AS BIGINT) AS n
      |  FROM per_v),
      |hstats AS (
      |  SELECT CAST(SUM(term) AS DECIMAL(25,6)) AS sum_terms,
      |         CAST(COUNT(*) AS BIGINT) AS k
      |  FROM per_src)
      |SELECT source, n_i, two_ri,
      |       1000000 * two_ri // (2 * n_i) AS mean_rank_ppm,
      |       k, n, ties, round($kwH, 6) AS h,
      |       round(($kwH) / (1e0 - CAST(ties AS DOUBLE) /
      |             (CAST(n AS DOUBLE) * n * n - n)), 6) AS h_tie_corrected
      |FROM per_src, tstats, hstats
      |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // q246 — Mann–Kendall trend test + Theil–Sen robust slope over hourly
  // event volume (Mann 1945 / Kendall 1975; Theil 1950 / Sen 1968): the
  // NONPARAMETRIC "is volume trending, and at what rate" read — exactly
  // what q104's OLS is not under the heavy-tailed, outlier-ridden counts
  // an ops feed produces, and the hypothesis-test companion to q202's
  // CUSUM localization. S = Σ sign(x_j − x_i) over ordered pairs and its
  // tie-corrected variance are EXACT integers; z applies the standard
  // ±1 continuity correction as one pinned chain. The Theil–Sen slope
  // is the median of all pairwise slopes — each slope one double
  // division in the same op order in both engines, the median the
  // dyadic two-middles interpolation both engines share (q120's
  // discipline).
  //
  // Shape: the corpus shuffles once into the dense zero-filled grid
  // (q75); the pair self-join is GRID-sized (N(N−1)/2 over hour
  // cardinality — ~260k pairs per month of hours, bounded by time span,
  // never corpus). Past ~1e5 grid cells the O(n²) pair set outgrows its
  // usefulness and the classic O(n log n) merge-count computes the same
  // S — documented swap, same output.
  // ---------------------------------------------------------------------
  def q246MannKendall(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(expr("unix_micros(ts) div 3600000000").as("hr"))
    val counts = ev.groupBy(col("hr")).agg(count(lit(1)).as("c"))
    val span = counts.agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
    val series = span.select(explode(expr("sequence(h0, h1)")).as("hr"))
      .join(counts, Seq("hr"), "left")
      .select(col("hr"), coalesce(col("c"), lit(0L)).as("x"))
      .cache() // both sides of the grid-sized pair join
    val pairs = series.select(col("hr").as("t1"), col("x").as("x1"))
      .join(series.select(col("hr").as("t2"), col("x").as("x2")),
        col("t1") < col("t2"))
      .select(
        signum(col("x2") - col("x1")).cast("long").as("sgn"),
        (col("x2") - col("x1")).cast("double")./(
          (col("t2") - col("t1")).cast("double")).as("slope"))
    val ties = series.groupBy(col("x")).agg(count(lit(1)).as("t"))
      .agg(sum(expr("t * (t - 1) * (2 * t + 5)")).as("tie_term"),
        sum(col("t")).as("n"))
    pairs.agg(sum(col("sgn")).as("s"),
        expr("percentile(slope, 0.5)").as("ts_slope_raw"))
      .crossJoin(broadcast(ties))
      .selectExpr("n", "s", "tie_term",
        // var(S) = (n(n-1)(2n+5) - Σt(t-1)(2t+5)) / 18 — exact int64
        "(n * (n - 1) * (2 * n + 5) - tie_term) div 18 AS var_s",
        "round(CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE) " +
          "WHEN s < 0 THEN CAST(s + 1 AS DOUBLE) ELSE 0.0E0 END " +
          "/ sqrt(CAST((n * (n - 1) * (2 * n + 5) - tie_term) div 18 " +
          "AS DOUBLE)), 6) AS z",
        "round(ts_slope_raw, 6) AS ts_slope")
  }

  val q246Sql: String =
    """WITH ev AS (
      |  SELECT epoch_us(ts) // 3600000000 AS hr FROM events),
      |counts AS (SELECT hr, count(*) AS c FROM ev GROUP BY hr),
      |span AS (SELECT min(hr) AS h0, max(hr) AS h1 FROM counts),
      |series AS (
      |  SELECT g.hr, coalesce(counts.c, 0) AS x
      |  FROM (SELECT unnest(generate_series(h0, h1)) AS hr FROM span) g
      |  LEFT JOIN counts ON g.hr = counts.hr),
      |pairs AS (
      |  SELECT CAST(sign(b.x - a.x) AS BIGINT) AS sgn,
      |         CAST(b.x - a.x AS DOUBLE) / CAST(b.hr - a.hr AS DOUBLE)
      |           AS slope
      |  FROM series a JOIN series b ON a.hr < b.hr),
      |tstats AS (
      |  SELECT CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term,
      |         CAST(SUM(t) AS BIGINT) AS n
      |  FROM (SELECT x, count(*) AS t FROM series GROUP BY x)),
      |pstats AS (
      |  SELECT CAST(SUM(sgn) AS BIGINT) AS s,
      |         quantile_cont(slope, 0.5) AS ts_slope_raw
      |  FROM pairs)
      |SELECT n, s, tie_term,
      |       (n * (n - 1) * (2 * n + 5) - tie_term) // 18 AS var_s,
      |       round(CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE)
      |                  WHEN s < 0 THEN CAST(s + 1 AS DOUBLE)
      |                  ELSE 0.0 END
      |             / sqrt(CAST((n * (n - 1) * (2 * n + 5) - tie_term) // 18
      |                    AS DOUBLE)), 6) AS z,
      |       round(ts_slope_raw, 6) AS ts_slope
      |FROM pstats, tstats""".stripMargin

  // ---------------------------------------------------------------------
  // q247 — Fano factor (index of dispersion) of hourly volume per event
  // type (Fano 1947; Cox–Lewis point-process diagnostics): F =
  // var/mean of the ZERO-FILLED hourly counts — the overdispersion read
  // that must precede any Poisson-assuming alert threshold (a Poisson
  // feed has F = 1; F >> 1 means bursts, F < 1 means pacing), and the
  // per-type companion to q238's lag structure and q246's trend.
  //
  // Exactness: population variance over mean clears to a ratio of two
  // exact int64 forms — F = (N·Σx² − S²)/(N·S) — so the only float is
  // ONE pinned 6-dp division; the mean reports as floor-ppm. int64
  // envelope (q238's discipline): n·sxx and sx·sx hold to ~1e5
  // events/hour over ~1e3-hour spans (sxx ≈ 1e13, n·sxx ≈ 1e16 < 2^63);
  // past that Spark wraps silently where DuckDB promotes to HUGEINT —
  // the DECIMAL(38,0) swap is one cast on both engines (the
  // `overdispersed` comparison n·sxx − sx² > n·sx shares the same
  // envelope). Shape: one
  // corpus shuffle into the (hour, type) counts (q152's grid — silent
  // hours are exactly the dispersion signal), then a |types|-sized
  // aggregate.
  // ---------------------------------------------------------------------
  def q247FanoFactor(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(expr("unix_micros(ts) div 3600000000").as("hr"),
        col("event_type"))
    val counts = ev.groupBy(col("hr"), col("event_type"))
      .agg(count(lit(1)).as("c"))
      .cache() // span + types + the zero-filled series all read it
    val span = counts.agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
    val types = counts.select(col("event_type")).distinct()
    val grid = span.select(explode(expr("sequence(h0, h1)")).as("hr"))
      .crossJoin(types)
      .join(counts, Seq("hr", "event_type"), "left")
      .select(col("event_type"), coalesce(col("c"), lit(0L)).as("x"))
    grid.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"))
      .selectExpr("event_type", "n", "sx", "sxx",
        "1000000L * sx div n AS mean_ppm",
        "round(CAST(n * sxx - sx * sx AS DOUBLE) " +
          "/ CAST(n * sx AS DOUBLE), 6) AS fano",
        "n * sxx - sx * sx > n * sx AS overdispersed")
      .orderBy("event_type")
  }

  val q247Sql: String =
    """WITH ev AS (
      |  SELECT epoch_us(ts) // 3600000000 AS hr, event_type FROM events),
      |counts AS (
      |  SELECT hr, event_type, count(*) AS c FROM ev GROUP BY 1, 2),
      |span AS (SELECT min(hr) AS h0, max(hr) AS h1 FROM counts),
      |grid AS (
      |  SELECT t.event_type, coalesce(counts.c, 0) AS x
      |  FROM (SELECT unnest(generate_series(h0, h1)) AS hr FROM span) g
      |  CROSS JOIN (SELECT DISTINCT event_type FROM counts) t
      |  LEFT JOIN counts ON g.hr = counts.hr
      |                  AND t.event_type = counts.event_type)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |       CAST(SUM(x) AS BIGINT) AS sx,
      |       CAST(SUM(x * x) AS BIGINT) AS sxx,
      |       1000000 * CAST(SUM(x) AS BIGINT) // COUNT(*) AS mean_ppm,
      |       round(CAST(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x) AS DOUBLE)
      |             / CAST(COUNT(*) * SUM(x) AS DOUBLE), 6) AS fano,
      |       COUNT(*) * SUM(x * x) - SUM(x) * SUM(x) > COUNT(*) * SUM(x)
      |         AS overdispersed
      |FROM grid
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q250 — cross-correlation function between event-type pairs at signed
  // lags −6..+6 hours (Box–Jenkins CCF): the LEAD/LAG detector q152's
  // zero-lag Pearson cannot see — "errors lead purchase drops by two
  // hours" is an asymmetric, signed-lag statement, and the CCF peak's
  // SIGN OF LAG is the read an incident pipeline acts on. Completes the
  // identification family: q238 per-series ACF, q237 seasonal indices,
  // q246 trend, q247 dispersion.
  //
  // Cross-engine: q238's N²-multiplied sufficient statistics extended
  // to two series — num_k·N² = N²·Σ a_t·b_{t+k} − N·S_b·Σhead_a −
  // N·S_a·Σtail_b + m·S_a·S_b, den² = (N²Σa²−N·S_a²)(N²Σb²−N·S_b²) —
  // all exact int64, r one pinned 6-dp chain. Shape: one corpus shuffle
  // into the dense (hour, type) grid; the signed-lag pair join runs
  // over grid-sized series with a broadcast 13-row lag table; per-type
  // moment aggregates broadcast back twice (a-side, b-side).
  // ---------------------------------------------------------------------
  def q250Ccf(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(expr("unix_micros(ts) div 3600000000").as("hr"),
        col("event_type"))
    val counts = ev.groupBy(col("hr"), col("event_type"))
      .agg(count(lit(1)).as("c"))
      .cache()
    val span = counts.agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
    val types = counts.select(col("event_type")).distinct()
    val series = span.select(explode(expr("sequence(h0, h1)")).as("hr"))
      .crossJoin(types)
      .join(counts, Seq("hr", "event_type"), "left")
      .select(col("event_type"), col("hr"),
        coalesce(col("c"), lit(0L)).as("x"))
      .cache() // a-side, b-side, and both moment aggregates read it
    val moments = series.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
        sum(col("x") * col("x")).as("s2"))
    val lags = spark.range(-6, 7).select(col("id").as("lag"))
    val a = series.select(col("event_type").as("t1"), col("hr"),
      col("x").as("xa"))
    val b = series.select(col("event_type").as("t2"), col("hr").as("hrb"),
      col("x").as("xb"))
    a.crossJoin(broadcast(lags))
      .join(b, col("hrb") === col("hr") + col("lag") && col("t1") < col("t2"))
      .groupBy(col("t1"), col("t2"), col("lag"))
      .agg(count(lit(1)).as("m"), sum(col("xa") * col("xb")).as("sab"),
        sum(col("xa")).as("sha"), sum(col("xb")).as("stb"))
      .join(broadcast(moments.select(col("event_type").as("t1"),
        col("n"), col("s").as("sa"), col("s2").as("sa2"))), Seq("t1"))
      .join(broadcast(moments.select(col("event_type").as("t2"),
        col("s").as("sb"), col("s2").as("sb2"))), Seq("t2"))
      .selectExpr("t1", "t2", "lag", "m", "sab",
        "round(CAST(n * n * sab - n * sb * sha - n * sa * stb " +
          "+ m * sa * sb AS DOUBLE) / " +
          "(sqrt(CAST(n * n * sa2 - n * sa * sa AS DOUBLE)) * " +
          "sqrt(CAST(n * n * sb2 - n * sb * sb AS DOUBLE))), 6) AS ccf")
      .orderBy("t1", "t2", "lag")
  }

  val q250Sql: String =
    """WITH ev AS (
      |  SELECT epoch_us(ts) // 3600000000 AS hr, event_type FROM events),
      |counts AS (
      |  SELECT hr, event_type, count(*) AS c FROM ev GROUP BY 1, 2),
      |span AS (SELECT min(hr) AS h0, max(hr) AS h1 FROM counts),
      |series AS (
      |  SELECT t.event_type, g.hr, coalesce(counts.c, 0) AS x
      |  FROM (SELECT unnest(generate_series(h0, h1)) AS hr FROM span) g
      |  CROSS JOIN (SELECT DISTINCT event_type FROM counts) t
      |  LEFT JOIN counts ON g.hr = counts.hr
      |                  AND t.event_type = counts.event_type),
      |moments AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |         CAST(SUM(x) AS BIGINT) AS s,
      |         CAST(SUM(x * x) AS BIGINT) AS s2
      |  FROM series GROUP BY event_type),
      |lags AS (SELECT unnest(generate_series(-6, 6)) AS lag),
      |paired AS (
      |  SELECT a.event_type AS t1, b.event_type AS t2, l.lag,
      |         CAST(COUNT(*) AS BIGINT) AS m,
      |         CAST(SUM(a.x * b.x) AS BIGINT) AS sab,
      |         CAST(SUM(a.x) AS BIGINT) AS sha,
      |         CAST(SUM(b.x) AS BIGINT) AS stb
      |  FROM lags l
      |  JOIN series a ON true
      |  JOIN series b ON b.hr = a.hr + l.lag AND a.event_type < b.event_type
      |  GROUP BY 1, 2, 3)
      |SELECT t1, t2, lag, m, sab,
      |       round(CAST(ma.n * ma.n * sab - ma.n * mb.s * sha
      |                  - ma.n * ma.s * stb + m * ma.s * mb.s AS DOUBLE)
      |             / (sqrt(CAST(ma.n * ma.n * ma.s2 - ma.n * ma.s * ma.s
      |                          AS DOUBLE))
      |                * sqrt(CAST(ma.n * ma.n * mb.s2 - ma.n * mb.s * mb.s
      |                            AS DOUBLE))), 6) AS ccf
      |FROM paired
      |JOIN moments ma ON ma.event_type = t1
      |JOIN moments mb ON mb.event_type = t2
      |ORDER BY t1, t2, lag""".stripMargin

  /** The oracle aliases the paired stats to the SAME column names the
    * Spark side uses, so [[welchT]]/[[welchDf]] drop in VERBATIM — one
    * expression string, two engines, nothing to keep in sync. */
  val q241Sql: String =
    s"""WITH stats AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n,
      |         CAST(SUM(n_chars) AS BIGINT) AS sx,
      |         CAST(SUM(n_chars * n_chars) AS BIGINT) AS sxx
      |  FROM documents GROUP BY source),
      |p AS (
      |  SELECT a.source AS s1, b.source AS s2, a.n AS n1, b.n AS n2,
      |         a.sx AS sx1, a.sxx AS sxx1, b.sx AS sx2, b.sxx AS sxx2
      |  FROM stats a JOIN stats b ON a.source < b.source)
      |SELECT s1, s2, n1, n2,
      |       round($welchT, 6) AS t,
      |       round($welchDf, 6) AS df
      |FROM p
      |ORDER BY s1, s2""".stripMargin
}
