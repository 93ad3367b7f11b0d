package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Analytics query suite over the TPC-H-shaped tables.
  *
  * Spark-first: declarative DataFrame plans so Catalyst handles pushdown,
  * pruning and join selection; dimension tables are explicitly
  * `broadcast()`ed; every aggregate is aliased identically to the DuckDB
  * oracle SQL and doubles are rounded in BOTH engines (summation-order ulps).
  */
object Analytics {

  /** TPC-H Q1-shaped pricing summary: single shuffle, map-side combine. */
  def q1Agg(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.filter(to_date(col("l_shipdate")) <= lit("1998-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val q1AggSql: String =
    """SELECT l_returnflag, l_linestatus,
      | round(sum(l_quantity),2) AS sum_qty,
      | round(sum(l_extendedprice),2) AS sum_base_price,
      | round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc_price,
      | round(avg(l_quantity),4) AS avg_qty,
      | round(avg(l_discount),4) AS avg_disc,
      | count(*) AS count_order
      |FROM lineitem
      |WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
      |GROUP BY 1,2 ORDER BY 1,2""".stripMargin

  /** TPC-H Q3-shaped: fact-fact join + top-k. The filtered customer side
    * is LINEAR in SF (~1/5 of customers), so it is deliberately
    * un-hinted: Catalyst/AQE broadcasts it while it fits (plan-pinned at
    * gate SFs in PlanShapeSpec) and falls back to a shuffle join once a
    * growing customer table outgrows the broadcast limit — a forced
    * `broadcast()` here is the growing-table scale killer the r12
    * verdict flagged. */
  def q3Topk(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
    val ord  = Tables.orders(spark, dir).filter(to_date(col("o_orderdate")) < lit("1998-01-01"))
    val li   = Tables.lineitem(spark, dir).filter(to_date(col("l_shipdate")) > lit("1996-01-01"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  val q3TopkSql: String =
    """SELECT l_orderkey, o_orderdate, o_orderpriority,
      | round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND CAST(o_orderdate AS DATE) < DATE '1998-01-01'
      |  AND CAST(l_shipdate AS DATE) > DATE '1996-01-01'
      |GROUP BY 1,2,3
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  /** TPC-H Q5-shaped 5-way join. nation/region are FIXED-domain dims
    * (25/5 rows) and stay hinted; the FULL customer table is linear in
    * SF so its join is un-hinted — Catalyst/AQE broadcasts it at gate
    * SFs (plan-pinned) and degrades to a key-partitioned shuffle join
    * when customers outgrow the broadcast limit, the shape
    * q_market_share/q_nation_volume always had. */
  def q5Join(spark: SparkSession, dir: String): DataFrame = {
    val region = Tables.region(spark, dir).filter(col("r_name") === "ASIA")
    val nation = Tables.nation(spark, dir)
    val cust   = Tables.customer(spark, dir)
    val ord    = Tables.orders(spark, dir)
    val li     = Tables.lineitem(spark, dir)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("n_name"))
  }

  val q5JoinSql: String =
    """SELECT n_name, round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** TPC-H Q6-shaped selective scan: filters must reach the parquet reader. */
  def q6Filter(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .filter(to_date(col("l_shipdate")) >= lit("1996-01-01"))
      .filter(to_date(col("l_shipdate")) < lit("1997-01-01"))
      .filter(col("l_discount").between(0.05, 0.07))
      .filter(col("l_quantity") < 24)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"),
           count(lit(1)).as("n_rows"))
  }

  val q6FilterSql: String =
    """SELECT round(sum(l_extendedprice*l_discount),2) AS revenue, count(*) AS n_rows
      |FROM lineitem
      |WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
      |  AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24""".stripMargin

  /** Running aggregation per customer (window, single shuffle on custkey). */
  def qWindow(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      .withColumn("order_rank", row_number().over(w))
      .withColumn("running_spend",
        round(sum(col("o_totalprice")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2))
      .orderBy(col("o_custkey"), col("order_rank"))
  }

  val qWindowSql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
      | row_number() OVER w AS order_rank,
      | round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2) AS running_spend
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, order_rank""".stripMargin

  /** Rollup aggregation (market segment × nation hierarchy). */
  def qRollup(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .rollup(col("c_mktsegment"), col("n_name"))
      .agg(count(lit(1)).as("n_cust"), round(sum(col("c_acctbal")), 2).as("total_bal"))
      .select(
        coalesce(col("c_mktsegment"), lit("ALL")).as("mktsegment"),
        coalesce(col("n_name"), lit("ALL")).as("nation"),
        col("n_cust"), col("total_bal"))
      .orderBy(col("mktsegment"), col("nation"))
  }

  val qRollupSql: String =
    """SELECT COALESCE(c_mktsegment,'ALL') AS mktsegment,
      | COALESCE(n_name,'ALL') AS nation,
      | count(*) AS n_cust, round(sum(c_acctbal),2) AS total_bal
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY ROLLUP(c_mktsegment, n_name)
      |ORDER BY 1,2""".stripMargin

  /** Anti join: orders with no deeply-discounted lineitem. */
  def qSemi(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).filter(col("l_discount") > 0.08)
    Tables.orders(spark, dir)
      .join(li, col("o_orderkey") === col("l_orderkey"), "left_anti")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("total_price"))
      .orderBy(col("o_orderstatus"))
  }

  val qSemiSql: String =
    """SELECT o_orderstatus, count(*) AS n_orders, round(sum(o_totalprice),2) AS total_price
      |FROM orders o
      |WHERE NOT EXISTS (SELECT 1 FROM lineitem l
      |  WHERE l.l_orderkey = o.o_orderkey AND l.l_discount > 0.08)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Semi join: customers having at least one large order. */
  def qExists(spark: SparkSession, dir: String): DataFrame = {
    val bigOrders = Tables.orders(spark, dir).filter(col("o_totalprice") > 50000)
    Tables.customer(spark, dir)
      .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  val qExistsSql: String =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 50000)
      |ORDER BY c_custkey""".stripMargin

  /** Sessionization: 30-minute-gap sessions per user (one shuffle + sort).
    *
    * `total_value_e4` is the session value sum scaled to integral 1e-4 units,
    * rounded PER ELEMENT before the sum (sum of BIGINTs is order-independent
    * and exact in both engines; rounding after a double sum can still flip
    * the last unit on a .5 boundary under a different summation order). */
  def eventsSessionize(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
             col("ts").cast("long") - col("prev_ts").cast("long") > 1800, 1).otherwise(0))
      .withColumn("session_id",
        sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        sum(round(col("value") * 10000).cast("long")).as("total_value_e4"))
      .orderBy(col("user_id"), col("session_id"))
  }

  val eventsSessionizeSql: String =
    """WITH flagged AS (
      |  SELECT user_id, ts, event_id, value,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR date_diff('second', lag(ts) OVER w, ts) > 1800
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sess AS (
      |  SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM flagged
      |)
      |SELECT user_id, session_id, count(*) AS n_events,
      |  min(ts) AS session_start, max(ts) AS session_end,
      |  CAST(sum(CAST(round(value * 10000, 0) AS BIGINT)) AS BIGINT) AS total_value_e4
      |FROM sess GROUP BY 1,2 ORDER BY 1,2""".stripMargin

  /** Sessionization via Spark's native `session_window` — ONE aggregation
    * (partial-merge of session state map-side) instead of eventsSessionize's
    * two analytic-window passes over a per-user sort. Semantics: a new
    * session starts when the gap is ≥ 30 min at full timestamp precision
    * (the built-in's [start, last+gap) convention), vs the ordinal variant's
    * truncated-seconds > 1800 — both are gate queries, each with its own
    * exact oracle. Sessions are keyed by start time, not ordinal. */
  def eventsSessionizeNative(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sess"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        sum(round(col("value") * 10000).cast("long")).as("total_value_e4"))
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), col("total_value_e4"))
      .orderBy(col("user_id"), col("session_start"))
  }

  val eventsSessionizeNativeSql: String =
    """WITH flagged AS (
      |  SELECT user_id, ts, event_id, value,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sess AS (
      |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM flagged
      |)
      |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(round(value * 10000, 0) AS BIGINT)) AS BIGINT) AS total_value_e4
      |FROM sess GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin

  /** Tumbling-window aggregation (batch twin of the streaming windowed agg). */
  def eventsTumble(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("total_value"))
      .orderBy(col("hour"), col("event_type"))
  }

  val eventsTumbleSql: String =
    """SELECT date_trunc('hour', ts) AS hour, event_type,
      | count(*) AS n_events, round(sum(value),4) AS total_value
      |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin

  /** Hopping (sliding) window aggregation: 1-hour windows every 30 minutes —
    * each event lands in two windows (built-in `window()` with slide). */
  def eventsHop(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("total_value"))
      .select(col("win.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))
      .orderBy(col("window_start"), col("event_type"))
  }

  val eventsHopSql: String =
    """WITH slotted AS (
      |  SELECT unnest([time_bucket(INTERVAL 30 MINUTE, ts),
      |                 time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE]) AS window_start,
      |         event_type, value
      |  FROM events
      |)
      |SELECT window_start, event_type, count(*) AS n_events,
      |       round(sum(value), 4) AS total_value
      |FROM slotted GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Exact interpolated percentiles of document length per language. */
  def qPercentiles(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        expr("percentile(n_chars, array(0.5D, 0.9D, 0.99D))").as("ps"),
        round(avg(col("n_chars")), 2).as("avg_chars"))
      .select(col("lang"), col("n_docs"),
        round(element_at(col("ps"), 1), 1).as("p50"),
        round(element_at(col("ps"), 2), 1).as("p90"),
        round(element_at(col("ps"), 3), 1).as("p99"),
        col("avg_chars"))
      .orderBy(col("lang"))
  }

  val qPercentilesSql: String =
    """SELECT lang, count(*) AS n_docs,
      | round(quantile_cont(n_chars, 0.5), 1) AS p50,
      | round(quantile_cont(n_chars, 0.9), 1) AS p90,
      | round(quantile_cont(n_chars, 0.99), 1) AS p99,
      | round(avg(n_chars), 2) AS avg_chars
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  /** Sketch twin of q_percentiles: approx_percentile (positional quantile
    * sketch). Exact `percentile` buffers every value per group — at 100 TB
    * per-group value lists don't fit; the sketch is mergeable map-side with
    * bounded memory, which is the only shape that scales. Rows-only gate
    * (sketch outputs are engine-specific by definition); the spec pins it
    * to the exact operator within the sketch's accuracy bound. */
  def qPercentilesApprox(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        expr("approx_percentile(n_chars, array(0.5D, 0.9D, 0.99D), 10000)").as("ps"))
      .select(col("lang"), col("n_docs"),
        element_at(col("ps"), 1).cast("double").as("p50"),
        element_at(col("ps"), 2).cast("double").as("p90"),
        element_at(col("ps"), 3).cast("double").as("p99"))
      .orderBy(col("lang"))
  }

  /** Sketch twin of ft_stats' n_users: HyperLogLog++ distinct counting.
    * Exact count_distinct shuffles every (group, user) pair; the HLL
    * sketch is a fixed-size mergeable buffer per group — the 100 TB path
    * for cardinality. Rows-only (sketch estimate is engine-specific);
    * spec pins the estimate to the exact count within the configured
    * relative error. */
  def ftStatsApprox(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        approx_count_distinct(col("user_id"), rsd = 0.02).as("n_users_approx"))
      .orderBy(col("event_type"))

  /** Funnel analysis: users progressing view → click → purchase in event-
    * time order. Each stage is a tiny per-user aggregate (first qualifying
    * timestamp given the previous stage's), chained by per-user joins —
    * every step shuffles by user_id only, and AQE broadcasts the shrinking
    * stage frontiers at real scale. */
  def eventsFunnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("ts") >= col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("ts") >= col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    v.agg(count(lit(1)).as("n_view")).crossJoin(
      c.agg(count(lit(1)).as("n_view_click"))).crossJoin(
      p.agg(count(lit(1)).as("n_view_click_purchase")))
  }

  val eventsFunnelSql: String =
    """WITH v AS (
      |  SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY 1
      |), c AS (
      |  SELECT e.user_id, min(e.ts) AS t2
      |  FROM events e JOIN v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'click' AND e.ts >= v.t1 GROUP BY 1
      |), p AS (
      |  SELECT e.user_id, min(e.ts) AS t3
      |  FROM events e JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts >= c.t2 GROUP BY 1
      |)
      |SELECT (SELECT count(*) FROM v) AS n_view,
      |       (SELECT count(*) FROM c) AS n_view_click,
      |       (SELECT count(*) FROM p) AS n_view_click_purchase""".stripMargin

  /** Weekly cohort retention: users grouped by the week they were first
    * seen, counted in every later week they were active — the standard
    * product-analytics retention triangle. The per-user cohort is one
    * partial-aggregated shuffle; the events↔cohort join is declarative, so
    * Catalyst broadcasts the cohort side at small scale and AQE/stats
    * demote it to a sort-merge join on the already-shuffled user_id when
    * cohorts outgrow the broadcast threshold; the final distinct count
    * shuffles by (cohort, offset). Week offsets are exact day-diffs / 7
    * (both weeks are Monday-truncated), so the gate column is integral in
    * both engines. */
  def eventsRetention(spark: SparkSession, dir: String): DataFrame =
    eventsRetentionOf(Tables.events(spark, dir))

  def eventsRetentionOf(events: DataFrame): DataFrame = {
    val ev = events
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
    val cohorts = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_week"))
    ev.join(cohorts, "user_id")
      .withColumn("week_offset",
        (datediff(col("wk"), col("cohort_week")) / 7).cast("long"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count_distinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  val eventsRetentionSql: String =
    """WITH ev AS (
      |  -- DuckDB date_trunc('week') yields DATE; the driver hash is
      |  -- type-sensitive, so cast back to TIMESTAMP to match Spark
      |  SELECT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk FROM events
      |), cohorts AS (
      |  SELECT user_id, min(wk) AS cohort_week FROM ev GROUP BY 1
      |)
      |SELECT c.cohort_week,
      |  CAST(date_diff('day', c.cohort_week::DATE, e.wk::DATE) / 7 AS BIGINT)
      |    AS week_offset,
      |  count(DISTINCT e.user_id) AS n_users
      |FROM ev e JOIN cohorts c USING (user_id)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Last-touch attribution: every purchase is credited to the SAME USER's
    * most recent click at or before the purchase, as long as that click is
    * within a 1-hour window (older → unattributed) — the standard
    * marketing/product attribution query.
    *
    * Scale shape: this is exactly an as-of join with TTL, so it reuses
    * [[graft.operators.PointInTimeJoin.asof]] — ONE hash shuffle of
    * clicks + purchases on user_id and a per-key sort; the naive
    * range-join + row_number formulation explodes |purchases| × |clicks in
    * window| rows first (the oracle's formulation, fine in DuckDB at gate
    * scale, job-killing at 100 TB). Ties (two clicks at the purchase's
    * exact best timestamp) break to the greatest click event_id via asof's
    * deterministic greatest-feature-struct rule, mirrored in the oracle's
    * per-(user, ts) max(event_id) pre-dedup. */
  def eventsAttribution(spark: SparkSession, dir: String): DataFrame =
    eventsAttributionOf(Tables.events(spark, dir))

  def eventsAttributionOf(ev: DataFrame): DataFrame = {
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"),
        round(col("value") * 10000).cast("long").as("value_e4"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("cid"))
    PointInTimeJoin.asof(purch, clicks,
        keys = Seq("user_id"), entityTs = "ts", featureTs = "ts",
        featureCols = Seq("cid"), maxAgeSec = Some(3600L), outPrefix = "click_")
      .select(col("event_id"), col("user_id"), col("ts"), col("value_e4"),
        col("click_ts"), col("click_cid").as("click_event_id"),
        when(col("click_ts").isNotNull, 1).otherwise(0).as("attributed"))
      .orderBy(col("event_id"))
  }

  /** FIRST-touch attribution — the campaign-credit twin of
    * [[eventsAttribution]]: each purchase credits the same user's EARLIEST
    * click within the trailing hour (last-touch credits the latest; both
    * models ship in every analytics suite and they answer different
    * questions: discovery vs closing). Expressed as a FORWARD as-of join
    * from the window start: earliest click ≥ ts−1h bounded 1h ahead IS
    * "earliest in [ts−1h, ts]" — so the one-shuffle union-sort machinery
    * is reused with the window direction flipped, and the range-join +
    * row_number explosion stays in the oracle where it belongs. */
  def eventsAttributionFirst(spark: SparkSession, dir: String): DataFrame =
    eventsAttributionFirstOf(Tables.events(spark, dir))

  def eventsAttributionFirstOf(ev: DataFrame): DataFrame = {
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"),
        round(col("value") * 10000).cast("long").as("value_e4"))
      .withColumn("win_start", col("ts") - expr("INTERVAL 1 HOUR"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("cid"))
    PointInTimeJoin.asofForward(purch, clicks,
        keys = Seq("user_id"), entityTs = "win_start", featureTs = "ts",
        featureCols = Seq("cid"), maxAgeSec = Some(3600L), outPrefix = "click_")
      .select(col("event_id"), col("user_id"), col("ts"), col("value_e4"),
        col("click_ts"), col("click_cid").as("click_event_id"),
        when(col("click_ts").isNotNull, 1).otherwise(0).as("attributed"))
      .orderBy(col("event_id"))
  }

  val eventsAttributionFirstSql: String =
    """WITH clicks AS (
      |  SELECT user_id, ts, max(event_id) AS click_event_id
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2
      |), purch AS (
      |  SELECT event_id, user_id, ts,
      |    CAST(round(value * 10000, 0) AS BIGINT) AS value_e4
      |  FROM events WHERE event_type = 'purchase'
      |), j AS (
      |  SELECT p.event_id, p.user_id, p.ts, p.value_e4,
      |    c.ts AS click_ts, c.click_event_id,
      |    row_number() OVER (PARTITION BY p.event_id
      |      ORDER BY c.ts ASC NULLS LAST) AS rn
      |  FROM purch p LEFT JOIN clicks c
      |    ON c.user_id = p.user_id AND c.ts <= p.ts
      |   AND c.ts >= p.ts - INTERVAL 1 HOUR
      |)
      |SELECT event_id, user_id, ts, value_e4, click_ts, click_event_id,
      |  CASE WHEN click_ts IS NOT NULL THEN 1 ELSE 0 END AS attributed
      |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin

  val eventsAttributionSql: String =
    """WITH clicks AS (
      |  SELECT user_id, ts, max(event_id) AS click_event_id
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2
      |), purch AS (
      |  SELECT event_id, user_id, ts,
      |    CAST(round(value * 10000, 0) AS BIGINT) AS value_e4
      |  FROM events WHERE event_type = 'purchase'
      |), j AS (
      |  SELECT p.event_id, p.user_id, p.ts, p.value_e4,
      |    c.ts AS click_ts, c.click_event_id,
      |    row_number() OVER (PARTITION BY p.event_id
      |      ORDER BY c.ts DESC NULLS LAST) AS rn
      |  FROM purch p LEFT JOIN clicks c
      |    ON c.user_id = p.user_id AND c.ts <= p.ts
      |   AND c.ts >= p.ts - INTERVAL 1 HOUR
      |)
      |SELECT event_id, user_id, ts, value_e4, click_ts, click_event_id,
      |  CASE WHEN click_ts IS NOT NULL THEN 1 ELSE 0 END AS attributed
      |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin

  /** Time-decay MULTI-touch attribution — the third standard model beside
    * last-touch ([[eventsAttribution]]) and first-touch: every touch in
    * the trailing week gets credit, halving per day of age. Exact
    * integer weights by construction: day-grain ages make the decay
    * DYADIC (weight = 2^(6−offset_days) per touch), so per-conversion
    * shares are plain integer bp divisions both engines replay — no
    * exp(), no floats (the reporting-grade day-grain model; sub-day
    * ordering is out of scope at this grain and last/first-touch cover
    * it).
    *
    * Scale shape — multi-touch WITHOUT a range join: touches collapse to
    * (user, day, type, n) in their FIRST exchange (the corpus-sized
    * aggregate), each conversion explodes exactly 7 day-offsets, and
    * candidates come from the (user, day) EQUI-join — fan-out is a
    * constant 7 per conversion, never |touches-in-window| rows of a
    * per-pair range predicate. */
  def eventsAttributionDecay(spark: SparkSession, dir: String): DataFrame =
    eventsAttributionDecayOf(Tables.events(spark, dir))

  def eventsAttributionDecayOf(ev: DataFrame): DataFrame = {
    val dayOf = floor(unix_micros(col("ts")) / lit(86400000000L)).cast("long")
    val touches = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), dayOf.as("day"), col("event_type"))
      .groupBy(col("user_id"), col("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val convs = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("conv_id"), col("user_id"), dayOf.as("cday"))
      .select(col("conv_id"), col("user_id"), col("cday"),
        explode(sequence(lit(0L), lit(6L))).as("off"))
      .select(col("conv_id"), col("user_id"), (col("cday") - col("off")).as("day"),
        col("off"))
    val weighted = convs.join(touches, Seq("user_id", "day"))
      .select(col("conv_id"), col("event_type"),
        (col("n") * expr("shiftleft(CAST(1 AS BIGINT), CAST(6 - off AS INT))"))
          .as("w"))
      .groupBy(col("conv_id"), col("event_type"))
      .agg(sum(col("w")).as("w_type"))
    val totals = weighted.groupBy(col("conv_id"))
      .agg(sum(col("w_type")).as("w_all"))
    weighted.join(totals, "conv_id")
      .select(col("conv_id"), col("event_type"),
        expr("w_type * 10000 DIV w_all").as("share_bp"))
      .groupBy(col("event_type"))
      .agg(countDistinct(col("conv_id")).as("n_convs"),
        sum(col("share_bp")).as("credit_bp_sum"))
      .orderBy(col("event_type"))
  }

  val eventsAttributionDecaySql: String =
    """WITH touches AS (
      |  SELECT user_id, CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
      |    event_type, CAST(count(*) AS BIGINT) AS n
      |  FROM events WHERE event_type <> 'purchase' GROUP BY 1, 2, 3
      |), convs AS (
      |  SELECT event_id AS conv_id, user_id,
      |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) - t.off AS day, t.off
      |  FROM events, unnest(range(0, 7)) AS t(off)
      |  WHERE event_type = 'purchase'
      |), weighted AS (
      |  SELECT c.conv_id, tc.event_type,
      |    CAST(sum(tc.n * (1::BIGINT << CAST(6 - c.off AS INT))) AS BIGINT)
      |      AS w_type
      |  FROM convs c JOIN touches tc
      |    ON c.user_id = tc.user_id AND c.day = tc.day
      |  GROUP BY 1, 2
      |), totals AS (
      |  SELECT conv_id, CAST(sum(w_type) AS BIGINT) AS w_all
      |  FROM weighted GROUP BY 1
      |)
      |SELECT w.event_type, CAST(count(DISTINCT w.conv_id) AS BIGINT) AS n_convs,
      |  CAST(sum(w.w_type * 10000 // t.w_all) AS BIGINT) AS credit_bp_sum
      |FROM weighted w JOIN totals t ON w.conv_id = t.conv_id
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Multiple distinct aggregates in one pass (Catalyst plans this with an
    * Expand — each distinct column gets its own duplicate-elimination
    * stream inside a single shuffle). */
  def qDistinctAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"))
      .agg(
        count_distinct(col("o_custkey")).as("n_cust"),
        count_distinct(col("o_orderpriority")).as("n_prio"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderstatus"))

  val qDistinctAggSql: String =
    """SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_cust,
      | count(DISTINCT o_orderpriority) AS n_prio, count(*) AS n_orders
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** Correlated scalar subquery: orders 1.5× above their customer's average
    * order value. Catalyst decorrelates this into an aggregate + join — the
    * declarative form stays one shuffle on o_custkey. */
  def qScalarSubquery(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("orders_sq")
    spark.sql(
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders_sq o
        |WHERE o_totalprice > 1.5 * (
        |  SELECT avg(o2.o_totalprice) FROM orders_sq o2
        |  WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin)
  }

  val qScalarSubquerySql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders o
      |WHERE o_totalprice > 1.5 * (
      |  SELECT avg(o2.o_totalprice) FROM orders o2
      |  WHERE o2.o_custkey = o.o_custkey)
      |ORDER BY o_orderkey""".stripMargin

  /** Pivot: order counts per status pivoted by the five priority classes.
    * Values are enumerated, so the pivot is a single pass of conditional
    * aggregates (no second distinct-values job) — the enumerated form is
    * also what keeps it expressible as portable SQL. */
  def qPivot(spark: SparkSession, dir: String): DataFrame = {
    val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"))
      .pivot("o_orderpriority", prios)
      .agg(count(lit(1)))
      .select(col("o_orderstatus").as("status") +:
        prios.zipWithIndex.map { case (p, i) =>
          coalesce(col(s"`$p`"), lit(0L)).as(s"prio_$i") }: _*)
      .orderBy(col("status"))
  }

  val qPivotSql: String =
    """SELECT o_orderstatus AS status,
      | count(*) FILTER (o_orderpriority = '1-URGENT') AS prio_0,
      | count(*) FILTER (o_orderpriority = '2-HIGH') AS prio_1,
      | count(*) FILTER (o_orderpriority = '3-MEDIUM') AS prio_2,
      | count(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS prio_3,
      | count(*) FILTER (o_orderpriority = '5-LOW') AS prio_4
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** Full outer join: per-nation customer vs supplier counts, nations with
    * only one side preserved. */
  def qFullOuter(spark: SparkSession, dir: String): DataFrame = {
    val custs = Tables.customer(spark, dir)
      .groupBy(col("c_nationkey").as("nationkey")).agg(count(lit(1)).as("n_cust"))
    val supps = Tables.supplier(spark, dir)
      .groupBy(col("s_nationkey").as("nationkey")).agg(count(lit(1)).as("n_supp"))
    custs.join(supps, Seq("nationkey"), "full_outer")
      .select(col("nationkey"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
      .orderBy(col("nationkey"))
  }

  val qFullOuterSql: String =
    """SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
      | coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
      |FROM (SELECT c_nationkey AS nationkey, count(*) AS n_cust FROM customer GROUP BY 1) c
      |FULL OUTER JOIN (SELECT s_nationkey AS nationkey, count(*) AS n_supp FROM supplier GROUP BY 1) s
      |USING (nationkey)
      |ORDER BY nationkey""".stripMargin

  /** Top-N per group (2 largest orders per customer). */
  def qTopnGroup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .orderBy(col("o_custkey"), col("rn"))
  }

  val qTopnGroupSql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) WHERE rn <= 2 ORDER BY o_custkey, rn""".stripMargin

  /** TPC-H Q13-shaped customer distribution: how many customers placed k
    * qualifying orders, including the zero-order customers the left join
    * preserves.
    *
    * Scale shape: the fact table is pre-aggregated to one row per custkey
    * (map-side combine) BEFORE joining the customer dim — the textbook
    * LEFT JOIN ... GROUP BY c_custkey formulation shuffles every order row
    * into the join first, paying |orders| network where this plan pays
    * |custkeys|. The qualifying filter prunes at the scan (only references
    * the orders side). */
  def qCustdist(spark: SparkSession, dir: String): DataFrame = {
    val ocnt = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("cnt"))
    Tables.customer(spark, dir)
      .join(ocnt, col("c_custkey") === col("o_custkey"), "left")
      .select(coalesce(col("cnt"), lit(0L)).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  val qCustdistSql: String =
    """SELECT c_count, count(*) AS custdist FROM (
      |  SELECT coalesce(o.cnt, 0) AS c_count
      |  FROM customer c LEFT JOIN (
      |    SELECT o_custkey, count(*) AS cnt FROM orders
      |    WHERE o_orderpriority <> '1-URGENT' GROUP BY 1) o
      |  ON c.c_custkey = o.o_custkey)
      |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** Equi-width histogram of order totals (10 × 50k bins): the profiling
    * aggregation every column-stats / data-quality pass runs. One shuffle
    * with map-side combine on the bin key; the price sum rides the gate as
    * integral cents (round PER ROW, then integer sum — order-independent
    * and exact cross-engine, per the e4-gate discipline). */
  def qHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(floor(col("o_totalprice") / 50000.0).cast("long").as("bin"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_price_e2"))
      .select((col("bin") * 50000L).as("bin_lo"), col("n_orders"), col("sum_price_e2"))
      .orderBy(col("bin_lo"))

  val qHistogramSql: String =
    """SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) * 50000 AS bin_lo,
      | count(*) AS n_orders,
      | CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS sum_price_e2
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** Event-type transition matrix (first-order Markov counts): for every
    * consecutive event pair within a user's timeline, count (from → to)
    * and its share of the from-state's outgoing transitions — the
    * product-analytics "what happens next" query and the input to
    * Markov-chain attribution models.
    *
    * Scale shape: ONE shuffle on user_id feeds the lead() window (same
    * partitioning the sessionize family rides), then the (from, to) count
    * partial-aggregates; the per-from total is a 25-row window over the
    * aggregated result, not a second pass over events. prob_e4 is a
    * per-row round of a ratio of two exact integers — identical IEEE
    * division cross-engine. Ordering within a user breaks ts ties by
    * event_id, so the transition relation is deterministic. */
  def eventsTransitions(spark: SparkSession, dir: String): DataFrame =
    eventsTransitionsOf(Tables.events(spark, dir))

  def eventsTransitionsOf(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wTot = Window.partitionBy(col("from_type"))
    ev.select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_trans"))
      .withColumn("prob_e4",
        round(col("n_trans") * lit(10000.0) / sum(col("n_trans")).over(wTot)).cast("long"))
      .orderBy(col("from_type"), col("to_type"))
  }

  val eventsTransitionsSql: String =
    """WITH nxt AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      |  FROM events
      |), cnt AS (
      |  SELECT from_type, to_type, count(*) AS n_trans
      |  FROM nxt WHERE to_type IS NOT NULL GROUP BY 1, 2
      |)
      |SELECT from_type, to_type, n_trans,
      |  CAST(round(n_trans * 10000.0 / sum(n_trans) OVER (PARTITION BY from_type), 0)
      |    AS BIGINT) AS prob_e4
      |FROM cnt ORDER BY 1, 2""".stripMargin

  /** Time-based RANGE window frame: each order's trailing-90-day spend for
    * the same customer — the sliding-balance query ROWS frames can't
    * express (peers at one timestamp must aggregate together, gaps must
    * not count phantom rows). Ordered by integer epoch seconds so both
    * engines bound the frame with exact integer arithmetic; the spend
    * rides the gate as per-row-rounded integral cents. One shuffle on
    * o_custkey; the frame is computed in a single sort pass per
    * partition. */
  def qRangeFrame(spark: SparkSession, dir: String): DataFrame =
    qRangeFrameOf(Tables.orders(spark, dir))

  def qRangeFrameOf(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("epoch_s"))
      .rangeBetween(-7776000L, 0L) // 90 days of seconds
    orders
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_orderdate").cast("long").as("epoch_s"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .withColumn("spend_90d_e2", sum(col("cents")).over(w))
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("spend_90d_e2"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  val qRangeFrameSql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate,
      | CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) OVER (
      |   PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
      |   RANGE BETWEEN 7776000 PRECEDING AND CURRENT ROW) AS BIGINT) AS spend_90d_e2
      |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Set operations (INTERSECT / EXCEPT): year-over-year customer cohorts —
    * retained (both years), churned (1995 only), acquired (1996 only).
    * Spark plans DISTINCT set ops as aggregates + left-semi/anti joins on
    * already-deduplicated keysets, so the wide side shuffles |custkeys|,
    * never |orders|. */
  def qSetops(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_custkey"), year(col("o_orderdate")).as("y"))
    def ys(yy: Int) = o.filter(col("y") === yy).select(col("o_custkey")).distinct()
    val retained = ys(1995).intersect(ys(1996))
      .select(lit("retained").as("cohort"), col("o_custkey"))
    val churned = ys(1995).except(ys(1996))
      .select(lit("churned").as("cohort"), col("o_custkey"))
    val acquired = ys(1996).except(ys(1995))
      .select(lit("acquired").as("cohort"), col("o_custkey"))
    retained.union(churned).union(acquired)
      .groupBy(col("cohort")).agg(count(lit(1)).as("n_customers"))
      .orderBy(col("cohort"))
  }

  val qSetopsSql: String =
    """WITH y95 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
      | y96 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996),
      | tagged AS (
      |   SELECT 'retained' AS cohort, o_custkey FROM (SELECT o_custkey FROM y95 INTERSECT SELECT o_custkey FROM y96)
      |   UNION ALL
      |   SELECT 'churned', o_custkey FROM (SELECT o_custkey FROM y95 EXCEPT SELECT o_custkey FROM y96)
      |   UNION ALL
      |   SELECT 'acquired', o_custkey FROM (SELECT o_custkey FROM y96 EXCEPT SELECT o_custkey FROM y95))
      |SELECT cohort, count(*) AS n_customers FROM tagged GROUP BY 1 ORDER BY 1""".stripMargin

  /** CUBE over (market segment, nation) — completes the grouping trio with
    * q_rollup / q_grouping_sets: all four subtotal combinations in one
    * Expand-planned pass (one shuffle). */
  def qCube(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .cube(col("c_mktsegment"), col("n_name"))
      .agg(count(lit(1)).as("n_cust"), round(sum(col("c_acctbal")), 2).as("total_bal"))
      .select(
        coalesce(col("c_mktsegment"), lit("ALL")).as("mktsegment"),
        coalesce(col("n_name"), lit("ALL")).as("nation"),
        col("n_cust"), col("total_bal"))
      .orderBy(col("mktsegment"), col("nation"))

  val qCubeSql: String =
    """SELECT COALESCE(c_mktsegment,'ALL') AS mktsegment,
      | COALESCE(n_name,'ALL') AS nation,
      | count(*) AS n_cust, round(sum(c_acctbal),2) AS total_bal
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY CUBE(c_mktsegment, n_name)
      |ORDER BY 1,2""".stripMargin

  /** Ordered string aggregation: per region the sorted CSV of its nations.
    * Deterministic cross-engine by sorting INSIDE the aggregate
    * (array_sort(collect_list) ↔ string_agg ORDER BY) instead of relying
    * on input order, which neither engine guarantees after a shuffle. */
  def qStringAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.nation(spark, dir)
      .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"))
      .agg(array_join(array_sort(collect_list(col("n_name"))), ",").as("nations_csv"),
        count(lit(1)).as("n_nations"))
      .orderBy(col("region"))

  val qStringAggSql: String =
    """SELECT r_name AS region,
      | string_agg(n_name, ',' ORDER BY n_name) AS nations_csv,
      | count(*) AS n_nations
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Daily-volume anomaly detection per event type: z-score each day's
    * event count against that type's distribution, flag |z| > 2 — the
    * monitoring/data-quality scan every ingestion pipeline runs.
    *
    * Cross-engine discipline: library stddev implementations differ
    * (Welford vs naïve accumulation → different ulps), so the variance is
    * computed EXPLICITLY from exact integer sums — Σn as BIGINT, Σn² in
    * DECIMAL(38)/HUGEINT (a BIGINT n² would ANSI-abort past 3e9
    * events/day) — with the identical double expression tree in both
    * engines; sqrt is correctly-rounded, so the 4dp gate rounding is
    * deterministic. Plan: one shuffle to daily counts (map-side combined),
    * stats ride a window over the tiny aggregate. */
  def eventsAnomaly(spark: SparkSession, dir: String): DataFrame =
    eventsAnomalyOf(Tables.events(spark, dir))

  def eventsAnomalyOf(ev: DataFrame): DataFrame = {
    val daily = ev.groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy(col("event_type"))
    val s  = sum(col("n_events")).over(w).cast("double")
    val ss = sum(col("n_events").cast("decimal(38,0)") * col("n_events")).over(w)
      .cast("double")
    val nd = count(lit(1)).over(w).cast("double")
    val z = (col("n_events") - s / nd) /
      sqrt(greatest(ss / nd - (s / nd) * (s / nd), lit(1e-12)))
    daily
      .withColumn("z", round(z, 4))
      .withColumn("is_anomaly", when(abs(col("z")) > 2.0, 1).otherwise(0))
      .select(col("event_type"), col("day"), col("n_events"), col("z"),
        col("is_anomaly"))
      .orderBy(col("event_type"), col("day"))
  }

  val eventsAnomalySql: String =
    """WITH d AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
      |    count(*) AS n_events
      |  FROM events GROUP BY 1, 2
      |), st AS (
      |  SELECT event_type, day, n_events,
      |    CAST(sum(n_events) OVER w AS DOUBLE) AS s,
      |    CAST(sum(n_events::HUGEINT * n_events) OVER w AS DOUBLE) AS ss,
      |    CAST(count(*) OVER w AS DOUBLE) AS nd
      |  FROM d WINDOW w AS (PARTITION BY event_type)
      |), zz AS (
      |  SELECT event_type, day, n_events,
      |    round((n_events - s/nd) / sqrt(greatest(ss/nd - (s/nd)*(s/nd), 1e-12)), 4) AS z
      |  FROM st
      |)
      |SELECT event_type, day, n_events, z,
      |  CASE WHEN abs(z) > 2.0 THEN 1 ELSE 0 END AS is_anomaly
      |FROM zz ORDER BY event_type, day""".stripMargin

  /** Top-10 most-travelled 3-step event-type paths across all user
    * timelines — the path-mining counterpart of `events_transitions`
    * (which counts single hops). Two lead()s ride ONE user_id shuffle —
    * the same partitioning the sessionize/transitions family uses — then
    * the (step1, step2, step3) trigram counts partial-aggregate to at most
    * |types|³ = 125 rows before the top-k sort. Ordering is total
    * (count desc, then the path lexically), so LIMIT is deterministic
    * cross-engine. */
  /** RFM segmentation: per-user recency (days since last event vs corpus
    * "now"), frequency (event count), monetary (purchase cents), each
    * quartile-bucketed — the standard customer-segmentation scan.
    *
    * Scale shape: the naive formulation ranks users with ntile() over a
    * GLOBAL order — a single-partition window sort of every user. Here
    * quartile THRESHOLDS come from one mergeable percentile aggregate
    * (3 doubles per dimension), broadcast back over the per-user grain as
    * three comparisons — two aggregate passes, no global sort, the
    * corpus_dsir discipline. The threshold branch references the per-user
    * aggregate a second time, but AQE's exchange reuse dedups it at
    * runtime (spec-pinned: the adaptive plan carries a ReusedExchange, so
    * the fact table materializes ONE user_id shuffle). All gate columns
    * are exact integers; the threshold doubles are interpolations of
    * exact integers (identical IEEE arithmetic in both engines — the
    * q_percentiles-proven class). */
  def eventsRfm(spark: SparkSession, dir: String): DataFrame =
    eventsRfmOf(Tables.events(spark, dir))

  def eventsRfmOf(ev: DataFrame): DataFrame = {
    val per = ev.groupBy(col("user_id")).agg(
      max(unix_micros(col("ts"))).as("last_us"),
      count(lit(1)).as("frequency"),
      coalesce(sum(when(col("event_type") === "purchase",
        round(col("value") * 100).cast("long"))), lit(0L)).as("monetary_e2"))
    val mx = ev.agg(max(unix_micros(col("ts"))).as("mx_us"))
    val r = per.crossJoin(broadcast(mx))
      .withColumn("recency_days",
        floor((col("mx_us") - col("last_us")) / lit(86400000000L)).cast("long"))
    val th = r.agg(
      expr("percentile(recency_days, array(0.25D, 0.5D, 0.75D))").as("rq"),
      expr("percentile(frequency, array(0.25D, 0.5D, 0.75D))").as("fq"),
      expr("percentile(monetary_e2, array(0.25D, 0.5D, 0.75D))").as("mq"))
    def bucket(v: org.apache.spark.sql.Column,
               qs: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      (lit(1) + (v > element_at(qs, 1)).cast("int")
        + (v > element_at(qs, 2)).cast("int")
        + (v > element_at(qs, 3)).cast("int")).cast("long")
    r.crossJoin(broadcast(th))
      .select(col("user_id"), col("recency_days"), col("frequency"),
        col("monetary_e2"),
        bucket(col("recency_days"), col("rq")).as("r_q"),
        bucket(col("frequency"), col("fq")).as("f_q"),
        bucket(col("monetary_e2"), col("mq")).as("m_q"))
      .withColumn("segment",
        (col("r_q") * 100 + col("f_q") * 10 + col("m_q")).cast("long"))
      .orderBy(col("user_id"))
  }

  val eventsRfmSql: String =
    """WITH per AS (
      |  SELECT user_id, max(epoch_us(ts)) AS last_us, count(*) AS frequency,
      |    coalesce(sum(CASE WHEN event_type = 'purchase'
      |      THEN CAST(round(value * 100, 0) AS BIGINT) END), 0) AS monetary_e2
      |  FROM events GROUP BY 1
      |), mx AS (SELECT max(epoch_us(ts)) AS mx_us FROM events),
      |r AS (
      |  SELECT p.user_id, p.frequency, CAST(p.monetary_e2 AS BIGINT) AS monetary_e2,
      |    CAST(floor((m.mx_us - p.last_us) / 86400000000) AS BIGINT) AS recency_days
      |  FROM per p CROSS JOIN mx m
      |), th AS (
      |  SELECT quantile_cont(recency_days, [0.25, 0.5, 0.75]) AS rq,
      |    quantile_cont(frequency, [0.25, 0.5, 0.75]) AS fq,
      |    quantile_cont(monetary_e2, [0.25, 0.5, 0.75]) AS mq
      |  FROM r
      |)
      |SELECT user_id, recency_days, frequency, monetary_e2,
      |  CAST(1 + (recency_days > rq[1])::INT + (recency_days > rq[2])::INT
      |    + (recency_days > rq[3])::INT AS BIGINT) AS r_q,
      |  CAST(1 + (frequency > fq[1])::INT + (frequency > fq[2])::INT
      |    + (frequency > fq[3])::INT AS BIGINT) AS f_q,
      |  CAST(1 + (monetary_e2 > mq[1])::INT + (monetary_e2 > mq[2])::INT
      |    + (monetary_e2 > mq[3])::INT AS BIGINT) AS m_q,
      |  CAST((1 + (recency_days > rq[1])::INT + (recency_days > rq[2])::INT
      |    + (recency_days > rq[3])::INT) * 100
      |   + (1 + (frequency > fq[1])::INT + (frequency > fq[2])::INT
      |    + (frequency > fq[3])::INT) * 10
      |   + (1 + (monetary_e2 > mq[1])::INT + (monetary_e2 > mq[2])::INT
      |    + (monetary_e2 > mq[3])::INT) AS BIGINT) AS segment
      |FROM r CROSS JOIN th ORDER BY user_id""".stripMargin

  /** The distribution-ranking window functions not covered elsewhere —
    * ntile / percent_rank / cume_dist — over a BOUNDED partition
    * (customers within their market segment), never a global order: the
    * per-segment sort is the same shuffle any per-group analytic pays,
    * and segments are balanced, so no partition outgrows its executor.
    * Order is total ((c_acctbal, c_custkey)), so every rank is
    * deterministic; the two ratio columns round to 6dp on both sides. */
  def qRankFuncs(spark: SparkSession, dir: String): DataFrame = {
    // order on the integral cents + custkey: total (custkey unique), so
    // percent_rank/cume_dist see no peer groups and stay engine-exact
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("acctbal_e2"), col("c_custkey"))
    Tables.customer(spark, dir)
      .select(col("c_mktsegment"), col("c_custkey"),
        round(col("c_acctbal") * 100).cast("long").as("acctbal_e2"))
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .withColumn("pct_rank", round(percent_rank().over(w), 6))
      .withColumn("cume", round(cume_dist().over(w), 6))
      .orderBy(col("c_mktsegment"), col("c_custkey"))
  }

  val qRankFuncsSql: String =
    """SELECT c_mktsegment, c_custkey,
      |  e2 AS acctbal_e2,
      |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
      |  round(percent_rank() OVER w, 6) AS pct_rank,
      |  round(cume_dist() OVER w, 6) AS cume
      |FROM (SELECT c_mktsegment, c_custkey,
      |        CAST(round(c_acctbal * 100, 0) AS BIGINT) AS e2 FROM customer)
      |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY e2, c_custkey)
      |ORDER BY c_mktsegment, c_custkey""".stripMargin

  def eventsTopPaths(spark: SparkSession, dir: String): DataFrame =
    eventsTopPathsOf(Tables.events(spark, dir))

  def eventsTopPathsOf(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    ev.select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("step2", lead(col("event_type"), 1).over(w))
      .withColumn("step3", lead(col("event_type"), 2).over(w))
      .filter(col("step3").isNotNull)
      .groupBy(col("event_type").as("step1"), col("step2"), col("step3"))
      .agg(count(lit(1)).as("n_paths"))
      .orderBy(col("n_paths").desc, col("step1"), col("step2"), col("step3"))
      .limit(10)
  }

  val eventsTopPathsSql: String =
    """WITH seq AS (
      |  SELECT event_type AS step1,
      |    lead(event_type, 1) OVER w AS step2,
      |    lead(event_type, 2) OVER w AS step3
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |)
      |SELECT step1, step2, step3, count(*) AS n_paths
      |FROM seq WHERE step3 IS NOT NULL
      |GROUP BY 1, 2, 3
      |ORDER BY n_paths DESC, 1, 2, 3
      |LIMIT 10""".stripMargin

  /** TPC-H-Q2-shaped argmin join: the cheapest observed supplier per part
    * (ties → lowest suppkey), parts filtered to p_size ≤ 15. The plan
    * shape is the point, twice over:
    *  1. the FACT side is pruned before any aggregate — only ~30% of
    *     parts survive p_size ≤ 15, so a keys-only broadcast semi-join at
    *     the lineitem scan cuts the aggregate's input ~3× (the
    *     q_market_share discipline; at 100× the unpruned aggregate
    *     carries 3× the rows the query keeps);
    *  2. the argmin-with-tie-break is ONE lexicographic struct-min —
    *     min(struct(price, suppkey)) per part — NOT a (part, supp)
    *     aggregate + per-part window: the per-part minimum price over raw
    *     rows equals the minimum of per-supplier minima, and among rows
    *     at that price the struct order picks the lowest suppkey, so the
    *     whole query is one map-side-combining exchange with no sort and
    *     no window (the window form paid a second exchange + sort to
    *     re-cluster (part, supp) rows by part — measured 2× slower).
    * Dimension joins broadcast; prices ride the gate as per-row integral
    * cents so min() is exact integer math in both engines. */
  def qArgminJoin(spark: SparkSession, dir: String): DataFrame =
    qArgminJoinOf(Tables.lineitem(spark, dir), Tables.part(spark, dir),
      Tables.supplier(spark, dir))

  def qArgminJoinOf(lineitem: DataFrame, part: DataFrame,
                    supplier: DataFrame): DataFrame = {
    // part/supplier sides are SF-LINEAR: un-hinted, so Catalyst picks
    // broadcast from file-size stats at gate SFs and degrades to a
    // key-partitioned join once the dims outgrow the limit (the r12
    // forced-broadcast-of-a-growing-table class, closed suite-wide)
    val wantedParts = part.filter(col("p_size") <= 15).select(col("p_partkey"))
    val li = lineitem
      .join(wantedParts, col("l_partkey") === col("p_partkey"), "left_semi")
      .select(col("l_partkey"), col("l_suppkey"),
        round(col("l_extendedprice") * 100).cast("long").as("price_e2"))
    val chosen = li
      .groupBy(col("l_partkey"))
      .agg(min(struct(col("price_e2"), col("l_suppkey"))).as("b"))
      .select(col("l_partkey"), col("b.price_e2").as("best_e2"),
        col("b.l_suppkey").as("s_suppkey"))
    chosen
      .join(part.filter(col("p_size") <= 15),
        col("l_partkey") === col("p_partkey"))
      .join(supplier, "s_suppkey")
      .select(col("p_partkey"), col("p_brand"), col("s_name"), col("best_e2"))
      .orderBy(col("p_partkey"))
  }

  val qArgminJoinSql: String =
    """WITH li AS (
      |  SELECT l_partkey, l_suppkey,
      |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS price_e2
      |  FROM lineitem
      |), offers AS (
      |  SELECT l_partkey, l_suppkey, min(price_e2) AS offer_e2
      |  FROM li GROUP BY 1, 2
      |), best AS (
      |  SELECT l_partkey, min(offer_e2) AS best_e2 FROM offers GROUP BY 1
      |), chosen AS (
      |  SELECT o.l_partkey, b.best_e2, min(o.l_suppkey) AS s_suppkey
      |  FROM offers o JOIN best b
      |    ON o.l_partkey = b.l_partkey AND o.offer_e2 = b.best_e2
      |  GROUP BY 1, 2
      |)
      |SELECT p_partkey, p_brand, s_name, best_e2
      |FROM chosen c
      |JOIN part p ON c.l_partkey = p.p_partkey AND p.p_size <= 15
      |JOIN supplier s ON c.s_suppkey = s.s_suppkey
      |ORDER BY p_partkey""".stripMargin

  /** Rolling active-user counts: DAU and trailing-7-day WAU per day — the
    * product-analytics headline metric. `count(distinct)` cannot ride a
    * window frame, so the WAU uses the contribution-days expansion: each
    * (user, active-day) pair — already deduplicated, so the explode
    * multiplies the per-(user,day) GRAIN by 7, never raw events — posts
    * the user to the 7 days it keeps them active, then one distinct-agg
    * per day counts them. Days with no events inside a window contribute
    * nothing (no phantom rows), matching the RANGE-frame discipline of
    * q_range_frame. Output keyed by integer epoch-day for exact
    * cross-engine day arithmetic. */
  def eventsActiveUsers(spark: SparkSession, dir: String): DataFrame =
    eventsActiveUsersOf(Tables.events(spark, dir))

  def eventsActiveUsersOf(ev: DataFrame): DataFrame = {
    val userDays = ev
      .select(col("user_id"),
        floor(unix_micros(col("ts")) / lit(86400000000L)).cast("long").as("day"))
      .distinct()
    val dau = userDays.groupBy(col("day"))
      .agg(count(lit(1)).as("dau")) // userDays is distinct at (user, day)
    val wau = userDays
      .select(col("user_id"), explode(sequence(col("day"), col("day") + 6)).as("day"))
      .groupBy(col("day"))
      .agg(count_distinct(col("user_id")).as("wau"))
    // inner join: report only days with activity (a day that appears in a
    // trailing window but had no events itself is not a reporting day)
    dau.join(wau, "day")
      .select(col("day"), col("dau"), col("wau"))
      .orderBy(col("day"))
  }

  val eventsActiveUsersSql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id,
      |    CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day
      |  FROM events
      |), dau AS (
      |  SELECT day, count(*) AS dau FROM ud GROUP BY 1
      |), contrib AS (
      |  SELECT user_id, day + i AS day
      |  FROM ud, unnest(range(0, 7)) AS t(i)
      |), wau AS (
      |  SELECT day, count(DISTINCT user_id) AS wau FROM contrib GROUP BY 1
      |)
      |SELECT d.day, d.dau, w.wau
      |FROM dau d JOIN wau w ON d.day = w.day
      |ORDER BY d.day""".stripMargin

  /** DAU/MAU stickiness: per active day, the distinct users that day, the
    * distinct users over the trailing 30 days, and their ratio in basis
    * points — the engagement-health headline next to `events_active_users`'
    * DAU/WAU. Same contribution-days expansion (count-distinct cannot ride
    * a window frame): each deduped (user, day) posts to its 30 trailing
    * contribution days, one distinct-agg per day — grain×30, never raw
    * events×30. The ratio is exact integer basis points (dau·10⁴ div mau;
    * mau ≥ dau > 0 on every reported day, so no div-by-zero and no float
    * in the gate). */
  def eventsStickiness(spark: SparkSession, dir: String): DataFrame =
    eventsStickinessOf(Tables.events(spark, dir))

  def eventsStickinessOf(ev: DataFrame): DataFrame = {
    val userDays = ev
      .select(col("user_id"),
        floor(unix_micros(col("ts")) / lit(86400000000L)).cast("long").as("day"))
      .distinct()
    val dau = userDays.groupBy(col("day"))
      .agg(count(lit(1)).as("dau")) // distinct at (user, day) already
    val mau = userDays
      .select(col("user_id"), explode(sequence(col("day"), col("day") + 29)).as("day"))
      .groupBy(col("day"))
      .agg(count_distinct(col("user_id")).as("mau"))
    dau.join(mau, "day") // inner: only days with activity report
      .select(col("day"), col("dau"), col("mau"),
        expr("dau * 10000 DIV mau").as("stickiness_bp"))
      .orderBy(col("day"))
  }

  val eventsStickinessSql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id,
      |    CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day
      |  FROM events
      |), dau AS (
      |  SELECT day, count(*) AS dau FROM ud GROUP BY 1
      |), contrib AS (
      |  SELECT user_id, day + i AS day
      |  FROM ud, unnest(range(0, 30)) AS t(i)
      |), mau AS (
      |  SELECT day, count(DISTINCT user_id) AS mau FROM contrib GROUP BY 1
      |)
      |SELECT d.day, CAST(d.dau AS BIGINT) AS dau, CAST(m.mau AS BIGINT) AS mau,
      |  CAST(d.dau * 10000 // m.mau AS BIGINT) AS stickiness_bp
      |FROM dau d JOIN mau m ON d.day = m.day
      |ORDER BY d.day""".stripMargin

  /** Per-event-type daily-volume trend: closed-form OLS of daily event
    * counts over the day index — the capacity-forecast / traffic-health
    * headline ("is checkout volume growing or decaying, and how fast").
    * Zero days COUNT: the grid is densified to the corpus' full [min, max]
    * day span per type (a type that stops firing must trend down, which
    * per-active-day aggregation would hide).
    *
    * All gate columns are exact integers: with x = day − min_day and
    * y = count, the normal equations need only the five partial-
    * aggregatable sums (n, Σx, Σy, Σxy, Σx²); slope and intercept come
    * out as integer micro-units via the cross-engine-safe truncating
    * division (`DIV` ≡ DuckDB `//`, both toward zero — verified on
    * negatives, and slopes DO go negative). den > 0 whenever the span has
    * ≥2 days (x values distinct); a 1-day span yields NULL in both
    * engines. Overflow headroom: num ≤ n·Σxy ~ span²·total; at a 10-year
    * span with 1e10 events/day that is ~1e20 — past BIGINT, so the
    * production form for decade-scale backfills centers x first (halves
    * the exponent); at any realistic gate/rollout span the raw form is
    * exact and cheaper.
    *
    * Plan: one (event_type, day) partial-aggregated count (the only
    * fact-sized exchange), a 2-value span broadcast, grid explode at
    * types×days grain, then a per-type scalar fold. */
  def eventsTrend(spark: SparkSession, dir: String): DataFrame =
    eventsTrendOf(Tables.events(spark, dir))

  /** The densified (event_type, day, x, y) grid both trend ops fold:
    * per-(type, day) counts (the one fact exchange), zero-filled over the
    * corpus-wide [min, max] span. */
  private def trendDense(ev: DataFrame): DataFrame = {
    val daily = ev
      .select(col("event_type"),
        floor(unix_micros(col("ts")) / lit(86400000000L)).cast("long").as("day"))
      .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("y"))
    val span = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    daily.select(col("event_type")).distinct()
      .crossJoin(broadcast(span))
      .select(col("event_type"), col("d0"),
        explode(sequence(col("d0"), col("d1"))).as("day"))
      .join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"), (col("day") - col("d0")).as("x"),
        coalesce(col("y"), lit(0L)).as("y"))
  }

  /** OLS coefficients per type over the dense grid (grid-sized fold). */
  private def trendCoefs(dense: DataFrame): DataFrame =
    dense.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), sum(col("x")).as("sx"),
        sum(col("y")).as("total_events"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("event_type"), col("n_days"), col("total_events"),
        expr("(n_days * sxy - sx * total_events) * 1000000 DIV " +
          "(n_days * sxx - sx * sx)").as("slope_e6"),
        expr("(total_events * 1000000 - ((n_days * sxy - sx * total_events) " +
          "* 1000000 DIV (n_days * sxx - sx * sx)) * sx) DIV n_days")
          .as("icept_e6"))

  def eventsTrendOf(ev: DataFrame): DataFrame =
    trendCoefs(trendDense(ev)).orderBy(col("event_type"))

  /** The trend CTE chain (daily → span → grid → dense → sums) and the
    * OLS coefficient arithmetic as composable constants — consumers
    * (eventsForecastSql) embed THESE instead of regex-stripping the
    * finished query, so a threshold/formula edit propagates everywhere. */
  private[operators] val trendSumsCtesSql: String =
    """daily AS (
      |  SELECT event_type,
      |    CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
      |    CAST(count(*) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2
      |), span AS (
      |  SELECT min(day) AS d0, max(day) AS d1 FROM daily
      |), grid AS (
      |  SELECT d0, unnest(range(d0, d1 + 1)) AS day FROM span
      |), dense AS (
      |  SELECT t.event_type, g.day - g.d0 AS x, coalesce(d.y, 0) AS y
      |  FROM (SELECT DISTINCT event_type FROM daily) t
      |  CROSS JOIN grid g
      |  LEFT JOIN daily d ON d.event_type = t.event_type AND d.day = g.day
      |), sums AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS total_events,
      |    CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
      |  FROM dense GROUP BY 1
      |)""".stripMargin

  private[operators] val trendSlopeE6Sql: String =
    "(n_days * sxy - sx * total_events) * 1000000 // (n_days * sxx - sx * sx)"

  private[operators] val trendIceptE6Sql: String =
    s"(total_events * 1000000 - ($trendSlopeE6Sql) * sx) // n_days"

  val eventsTrendSql: String =
    s"""WITH $trendSumsCtesSql
      |SELECT event_type, n_days, total_events,
      |  CAST($trendSlopeE6Sql AS BIGINT) AS slope_e6,
      |  CAST($trendIceptE6Sql AS BIGINT) AS icept_e6
      |FROM sums ORDER BY event_type""".stripMargin

  /** Trend-adjusted anomaly days: the days whose event volume sits far off
    * the type's own OLS fit — [[eventsTrend]]'s residual consumer, and the
    * answer to why plain z-scores ([[eventsAnomaly]]) mis-flag trending
    * series (under steady growth every recent day is a "high" outlier
    * against the flat mean; against the fitted line only genuine spikes
    * and outages remain). Flag rule: n·r² > 4·SSE, i.e. |residual| above
    * 2× the root-mean-square residual (the reporting threshold; 3× flags
    * almost nothing on a 30-day gate series), as an exact integer
    * cross-multiplication — no division, no float, no σ rounding:
    * predicted counts are (icept_e6 + slope_e6·x) DIV 1e6 (the
    * cross-engine truncating div) so residuals are exact BIGINTs.
    * Overflow headroom: n·r² at count scale y caps at span·y² — fine
    * through ~1e6 events/day·10-year spans; beyond that the production
    * form folds residuals in 1e3 units.
    *
    * Plan: ONE extra grid-sized pass over [[eventsTrend]]'s machinery —
    * the dense grid is pinned (grid-grain, types×span rows — tiny), the
    * coefficient and SSE folds are partial aggregates OF it, and both
    * join back broadcast. */
  def eventsTrendAnomaly(spark: SparkSession, dir: String): DataFrame =
    eventsTrendAnomalyOf(Tables.events(spark, dir))

  def eventsTrendAnomalyOf(ev: DataFrame): DataFrame = {
    val dense = trendDense(ev)
      .localCheckpoint() // consumed by coef fold + residual scan; grid-grain
    val coefs = trendCoefs(dense).select(
      col("event_type"), col("slope_e6"), col("icept_e6"))
    val resid = dense.join(broadcast(coefs), "event_type")
      .withColumn("pred", expr("(icept_e6 + slope_e6 * x) DIV 1000000"))
      .withColumn("r", col("y") - col("pred"))
    val sse = resid.groupBy(col("event_type"))
      .agg(sum(col("r") * col("r")).as("sse"), count(lit(1)).as("n"))
    resid.join(broadcast(sse), "event_type")
      .filter(col("n") * col("r") * col("r") > lit(4L) * col("sse"))
      .select(col("event_type"), col("day"), col("y"), col("pred"), col("r"))
      .orderBy(col("event_type"), col("day"))
  }

  val eventsTrendAnomalySql: String =
    """WITH daily AS (
      |  SELECT event_type,
      |    CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
      |    CAST(count(*) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2
      |), span AS (
      |  SELECT min(day) AS d0, max(day) AS d1 FROM daily
      |), grid AS (
      |  SELECT d0, unnest(range(d0, d1 + 1)) AS day FROM span
      |), dense AS (
      |  SELECT t.event_type, g.day, g.day - g.d0 AS x, coalesce(d.y, 0) AS y
      |  FROM (SELECT DISTINCT event_type FROM daily) t
      |  CROSS JOIN grid g
      |  LEFT JOIN daily d ON d.event_type = t.event_type AND d.day = g.day
      |), sums AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
      |  FROM dense GROUP BY 1
      |), coefs AS (
      |  SELECT event_type,
      |    (n_days * sxy - sx * sy) * 1000000 // (n_days * sxx - sx * sx) AS slope_e6,
      |    (sy * 1000000 - ((n_days * sxy - sx * sy) * 1000000 //
      |      (n_days * sxx - sx * sx)) * sx) // n_days AS icept_e6
      |  FROM sums
      |), resid AS (
      |  SELECT d.event_type, d.day, d.y,
      |    CAST((c.icept_e6 + c.slope_e6 * d.x) // 1000000 AS BIGINT) AS pred,
      |    d.y - CAST((c.icept_e6 + c.slope_e6 * d.x) // 1000000 AS BIGINT) AS r
      |  FROM dense d JOIN coefs c USING (event_type)
      |), sse AS (
      |  SELECT event_type, CAST(sum(r * r) AS BIGINT) AS sse,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM resid GROUP BY 1
      |)
      |SELECT r.event_type, r.day, r.y, r.pred, CAST(r.r AS BIGINT) AS r
      |FROM resid r JOIN sse s USING (event_type)
      |WHERE s.n * r.r * r.r > 4 * s.sse
      |ORDER BY r.event_type, r.day""".stripMargin

  /** Inter-arrival-time statistics per event type: the latency/health scan
    * of every event pipeline (is the click stream stalling?). One user_id
    * shuffle orders each user's timeline (lag over the sessionize family's
    * partitioning); gaps are exact integer SECONDS (µs difference integer-
    * divided, so both engines interpolate percentiles over identical
    * integers — the q_percentiles-proven pattern). Same-user gaps only:
    * cross-user deltas are meaningless. */
  def eventsInterArrival(spark: SparkSession, dir: String): DataFrame =
    eventsInterArrivalOf(Tables.events(spark, dir))

  def eventsInterArrivalOf(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    ev.select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .filter(col("prev_ts").isNotNull)
      .withColumn("gap_s",
        floor((unix_micros(col("ts")) - unix_micros(col("prev_ts"))) / lit(1000000L))
          .cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("gap_s")).as("sum_gap_s"),
        expr("percentile(gap_s, array(0.5D, 0.9D))").as("ps"),
        max(col("gap_s")).as("max_gap_s"))
      .select(col("event_type"), col("n_gaps"), col("sum_gap_s"),
        round(element_at(col("ps"), 1), 1).as("p50_gap_s"),
        round(element_at(col("ps"), 2), 1).as("p90_gap_s"),
        col("max_gap_s"))
      .orderBy(col("event_type"))
  }

  val eventsInterArrivalSql: String =
    """WITH g AS (
      |  SELECT event_type,
      |    CAST(floor((epoch_us(ts) - epoch_us(lag(ts) OVER w)) / 1000000) AS BIGINT)
      |      AS gap_s
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |)
      |SELECT event_type, count(*) AS n_gaps,
      |  CAST(sum(gap_s) AS BIGINT) AS sum_gap_s,
      |  round(quantile_cont(gap_s, 0.5), 1) AS p50_gap_s,
      |  round(quantile_cont(gap_s, 0.9), 1) AS p90_gap_s,
      |  CAST(max(gap_s) AS BIGINT) AS max_gap_s
      |FROM g WHERE gap_s IS NOT NULL
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Cohort lifetime-value triangle: purchase revenue by (first-purchase
    * cohort, age-since-first-purchase) — THE subscription/retention
    * revenue report. Day grain here because the gate corpus spans one
    * month (month-grain is the same plan with a different trunc). The
    * cohort label is a min-over-user-partition window; the (cohort, age)
    * rollup then re-groups what that one user_id exchange produced.
    * Revenue is per-row integral cents (2-dp data contract), so every
    * engine sums BIGINTs; the age is a whole-day difference of two DATE
    * casts — exact integers. n_users is a per-(cohort, age) distinct
    * count — the expand-based two-phase distinct, not a second scan. */
  def eventsCohortLtv(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    Tables.events(spark, dir).filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        round(col("value") * 100).cast("long").as("v_e2"))
      .withColumn("cohort_day", min(col("ts")).over(w).cast("date"))
      .groupBy(col("cohort_day"),
        datediff(col("ts").cast("date"), col("cohort_day"))
          .cast("long").as("age_days"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_purchases"),
        sum(col("v_e2")).as("revenue_e2"))
      .orderBy(col("cohort_day"), col("age_days"))
  }

  val eventsCohortLtvSql: String =
    """WITH p AS (
      |  SELECT user_id, ts, CAST(round(value * 100, 0) AS BIGINT) AS v_e2,
      |    CAST(min(ts) OVER (PARTITION BY user_id) AS DATE) AS cohort_day
      |  FROM events WHERE event_type = 'purchase'
      |)
      |SELECT cohort_day,
      |  CAST(datediff('day', cohort_day, CAST(ts AS DATE)) AS BIGINT) AS age_days,
      |  count(DISTINCT user_id) AS n_users, count(*) AS n_purchases,
      |  CAST(sum(v_e2) AS BIGINT) AS revenue_e2
      |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Activity streaks per user — the gaps-and-islands shape (longest run
    * of consecutive active days): island id = day number minus the
    * per-user day rank, constant exactly while days are consecutive.
    * The product-analytics "streak" metric next to DAU/retention, all
    * exact integer math.
    *
    * Scale shape: everything runs at the deduplicated (user, day) grain —
    * the distinct is the only pass over raw events. After it, ONE
    * user-keyed exchange serves the rank window AND both downstream
    * aggregates: hashpartitioning(user) satisfies the (user, grp) and
    * (user) clusterings (partition keys ⊆ grouping keys), so neither
    * groupBy re-shuffles. Day-grain rows per user are bounded by the
    * calendar, so no window partition can go quadratic. */
  def eventsStreaks(spark: SparkSession, dir: String): DataFrame = {
    val days = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val wd = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val isl = days.withColumn("grp",
      datediff(col("day"), lit(java.sql.Date.valueOf("1970-01-01")))
        - row_number().over(wd))
    isl.groupBy(col("user_id"), col("grp")).agg(count(lit(1)).as("len"))
      .groupBy(col("user_id"))
      .agg(sum(col("len")).as("n_active_days"),
        count(lit(1)).as("n_streaks"),
        max(col("len")).as("longest_streak"))
      .orderBy(col("user_id"))
  }

  val eventsStreaksSql: String =
    """WITH d AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
      |), i AS (
      |  SELECT user_id, day,
      |    datediff('day', DATE '1970-01-01', day)
      |      - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
      |  FROM d
      |), s AS (
      |  SELECT user_id, grp, count(*) AS len FROM i GROUP BY 1, 2
      |)
      |SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
      |  CAST(count(*) AS BIGINT) AS n_streaks,
      |  CAST(max(len) AS BIGINT) AS longest_streak
      |FROM s GROUP BY 1 ORDER BY 1""".stripMargin

  /** Schema-on-read JSON property extraction — the semi-structured
    * column every event pipeline carries (`props` holds JSON payloads):
    * `from_json` with an explicit schema parses once per row into a
    * typed struct (malformed documents become NULL, counted as the
    * parse-health signal `n_parsed`), then ordinary integer aggregates
    * roll up per event type. The declared-schema form beats
    * get_json_object-per-field (one parse, N fields) and beats schema
    * inference (deterministic plan, no sampling pass).
    *
    * Scale: projection narrows to (event_type, props) at the scan; the
    * parse is row-local; the only exchange is the partial-aggregated
    * ≤|event_types| rollup. The DuckDB oracle extracts the same field by
    * anchored regex — engine-independent ground truth for the JSON
    * path. */
  def eventsPropsAgg(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .select(col("event_type"),
        expr("from_json(props, 'k BIGINT').k").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        count(col("k")).as("n_parsed"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy(col("event_type"))
  }

  val eventsPropsAggSql: String =
    """WITH p AS (
      |  SELECT event_type,
      |    -- whitespace-tolerant, anchored to a member position ([{,]) and
      |    -- to the member terminator ([,}]): a '"k":' inside a nested
      |    -- string value cannot match, and the whole-unquoted-integer
      |    -- requirement mirrors from_json's k BIGINT (quoted "12" and
      |    -- fractional 2.5 both parse to NULL in BOTH engines)
      |    TRY_CAST(regexp_extract(props, '[{,]\s*"k":\s*(-?[0-9]+)\s*[,}]', 1) AS BIGINT) AS k
      |  FROM events
      |)
      |SELECT event_type, count(*) AS n_events,
      |  CAST(count(k) AS BIGINT) AS n_parsed,
      |  CAST(sum(k) AS BIGINT) AS sum_k,
      |  CAST(min(k) AS BIGINT) AS min_k,
      |  CAST(max(k) AS BIGINT) AS max_k
      |FROM p GROUP BY 1 ORDER BY 1""".stripMargin

  /** STRICT-window funnel — [[eventsFunnel]] with per-stage deadlines
    * (the unbounded chain answers "did they ever"; marketing funnels ask
    * "did they within the window": click within 1 h of the FIRST view,
    * purchase within 24 h of that click — late conversions don't count).
    * Each stage is one [[PointInTimeJoin.asofForward]] union-sort pass
    * (earliest qualifying event ≥ the previous stage's instant, bounded
    * by the stage window), so the whole strict funnel is two user_id
    * exchanges on top of the first-view aggregate — the oracle's
    * range-join + min formulation stays in DuckDB. One summary row with
    * exact-integer stage counts and conversion bps. */
  def eventsFunnelStrict(spark: SparkSession, dir: String): DataFrame =
    eventsFunnelStrictOf(Tables.events(spark, dir))

  def eventsFunnelStrictOf(ev: DataFrame): DataFrame = {
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("cid"))
    val s2 = graft.operators.PointInTimeJoin.asofForward(v, clicks,
        keys = Seq("user_id"), entityTs = "t1", featureTs = "ts",
        featureCols = Seq("cid"), maxAgeSec = Some(3600L), outPrefix = "c_")
      .withColumn("t2", col("c_ts"))
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("pid"))
    val s3 = graft.operators.PointInTimeJoin.asofForward(
        s2.filter(col("t2").isNotNull), purch,
        keys = Seq("user_id"), entityTs = "t2", featureTs = "ts",
        featureCols = Seq("pid"), maxAgeSec = Some(86400L), outPrefix = "p_")
    v.agg(count(lit(1)).as("n_view"))
      .crossJoin(s2.agg(sum(when(col("t2").isNotNull, 1L).otherwise(0L)).as("n_click_1h")))
      .crossJoin(s3.agg(sum(when(col("p_ts").isNotNull, 1L).otherwise(0L)).as("n_purchase_24h")))
      .select(col("n_view"), col("n_click_1h"), col("n_purchase_24h"),
        expr("n_click_1h * 10000 DIV greatest(n_view, 1)").as("click_bp"),
        expr("n_purchase_24h * 10000 DIV greatest(n_click_1h, 1)").as("purchase_bp"))
  }

  val eventsFunnelStrictSql: String =
    """WITH v AS (
      |  SELECT user_id, min(ts) AS t1 FROM events
      |  WHERE event_type = 'view' GROUP BY 1
      |), s2 AS (
      |  SELECT v.user_id, min(e.ts) AS t2
      |  FROM v JOIN events e ON e.user_id = v.user_id
      |  WHERE e.event_type = 'click' AND e.ts >= v.t1
      |    AND epoch_us(e.ts) <= epoch_us(v.t1) + 3600000000
      |  GROUP BY 1
      |), s3 AS (
      |  SELECT s2.user_id, min(e.ts) AS t3
      |  FROM s2 JOIN events e ON e.user_id = s2.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts >= s2.t2
      |    AND epoch_us(e.ts) <= epoch_us(s2.t2) + 86400000000
      |  GROUP BY 1
      |)
      |SELECT (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_view,
      |  (SELECT CAST(count(*) AS BIGINT) FROM s2) AS n_click_1h,
      |  (SELECT CAST(count(*) AS BIGINT) FROM s3) AS n_purchase_24h,
      |  CAST((SELECT count(*) FROM s2) * 10000
      |    // greatest((SELECT count(*) FROM v), 1) AS BIGINT) AS click_bp,
      |  CAST((SELECT count(*) FROM s3) * 10000
      |    // greatest((SELECT count(*) FROM s2), 1) AS BIGINT) AS purchase_bp""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_funnel_strict" -> (eventsFunnelStrict _),
    "events_props_agg"  -> (eventsPropsAgg _),
    "events_streaks"    -> (eventsStreaks _),
    "q1_agg"            -> (q1Agg _),
    "q3_topk"           -> (q3Topk _),
    "q5_join"           -> (q5Join _),
    "q6_filter"         -> (q6Filter _),
    "q_window"          -> (qWindow _),
    "q_rollup"          -> (qRollup _),
    "q_semi"            -> (qSemi _),
    "q_exists"          -> (qExists _),
    "events_sessionize" -> (eventsSessionize _),
    "events_sessionize_native" -> (eventsSessionizeNative _),
    "events_tumble"     -> (eventsTumble _),
    "q_percentiles"     -> (qPercentiles _),
    "q_percentiles_approx" -> (qPercentilesApprox _),
    "ft_stats_approx"   -> (ftStatsApprox _),
    "q_topn_group"      -> (qTopnGroup _),
    "events_funnel"     -> (eventsFunnel _),
    "events_retention"  -> (eventsRetention _),
    "q_distinct_agg"    -> (qDistinctAgg _),
    "q_scalar_subquery" -> (qScalarSubquery _),
    "q_pivot"           -> (qPivot _),
    "q_full_outer"      -> (qFullOuter _),
    "events_hop"        -> (eventsHop _),
    "events_attribution" -> (eventsAttribution _),
    "events_attribution_first" -> (eventsAttributionFirst _),
    "events_attribution_decay" -> (eventsAttributionDecay _),
    "q_custdist"        -> (qCustdist _),
    "q_histogram"       -> (qHistogram _),
    "events_transitions" -> (eventsTransitions _),
    "q_range_frame"     -> (qRangeFrame _),
    "q_setops"          -> (qSetops _),
    "q_cube"            -> (qCube _),
    "q_string_agg"      -> (qStringAgg _),
    "events_anomaly"    -> (eventsAnomaly _),
    "events_top_paths"  -> (eventsTopPaths _),
    "q_argmin_join"     -> (qArgminJoin _),
    "events_active_users" -> (eventsActiveUsers _),
    "events_stickiness" -> (eventsStickiness _),
    "events_trend"      -> (eventsTrend _),
    "events_trend_anomaly" -> (eventsTrendAnomaly _),
    "events_inter_arrival" -> (eventsInterArrival _),
    "events_cohort_ltv" -> (eventsCohortLtv _),
    "events_rfm"        -> (eventsRfm _),
    "q_rank_funcs"      -> (qRankFuncs _))

  val oracle: Map[String, String] = Map(
    "events_funnel_strict" -> eventsFunnelStrictSql,
    "events_props_agg"  -> eventsPropsAggSql,
    "events_streaks"    -> eventsStreaksSql,
    "q1_agg"            -> q1AggSql,
    "q3_topk"           -> q3TopkSql,
    "q5_join"           -> q5JoinSql,
    "q6_filter"         -> q6FilterSql,
    "q_window"          -> qWindowSql,
    "q_rollup"          -> qRollupSql,
    "q_semi"            -> qSemiSql,
    "q_exists"          -> qExistsSql,
    "events_sessionize" -> eventsSessionizeSql,
    "events_sessionize_native" -> eventsSessionizeNativeSql,
    "events_tumble"     -> eventsTumbleSql,
    "q_percentiles"     -> qPercentilesSql,
    "q_topn_group"      -> qTopnGroupSql,
    "events_funnel"     -> eventsFunnelSql,
    "events_retention"  -> eventsRetentionSql,
    "q_distinct_agg"    -> qDistinctAggSql,
    "q_scalar_subquery" -> qScalarSubquerySql,
    "q_pivot"           -> qPivotSql,
    "q_full_outer"      -> qFullOuterSql,
    "events_hop"        -> eventsHopSql,
    "events_attribution" -> eventsAttributionSql,
    "events_attribution_first" -> eventsAttributionFirstSql,
    "events_attribution_decay" -> eventsAttributionDecaySql,
    "q_custdist"        -> qCustdistSql,
    "q_histogram"       -> qHistogramSql,
    "events_transitions" -> eventsTransitionsSql,
    "q_range_frame"     -> qRangeFrameSql,
    "q_setops"          -> qSetopsSql,
    "q_cube"            -> qCubeSql,
    "q_string_agg"      -> qStringAggSql,
    "events_anomaly"    -> eventsAnomalySql,
    "events_top_paths"  -> eventsTopPathsSql,
    "q_argmin_join"     -> qArgminJoinSql,
    "events_active_users" -> eventsActiveUsersSql,
    "events_stickiness" -> eventsStickinessSql,
    "events_trend"      -> eventsTrendSql,
    "events_trend_anomaly" -> eventsTrendAnomalySql,
    "events_inter_arrival" -> eventsInterArrivalSql,
    "events_cohort_ltv" -> eventsCohortLtvSql,
    "events_rfm"        -> eventsRfmSql,
    "q_rank_funcs"      -> qRankFuncsSql)
}
