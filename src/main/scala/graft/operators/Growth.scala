package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Growth-accounting analytics over the events stream — the user-state
  * ledger every product-analytics suite keeps next to the volume metrics
  * ([[Analytics.eventsActiveUsers]] counts heads; this module explains the
  * DELTA: which heads are new, which came back, which left). Reference
  * semantics: feast-java-old keeps per-entity serving stats only
  * (core/src/main/java/feast/core/model); the growth ledger is part of the
  * pipeline-analytics surface this build adds beyond the reference.
  *
  * Everything is exact integers on the epoch-day grid (day =
  * epoch_us DIV 86.4e9, the repo's cross-engine day bucketing), so both
  * engines replay bit-for-bit with no calendar or float discipline.
  */
object Growth {

  private val DayUs = 86400000000L

  /** Growth accounting (the new / retained / resurrected / churned ledger):
    * classify every (user, active-day) against the user's PREVIOUS active
    * day — first day ever = new, yesterday active = retained, active before
    * but not yesterday = resurrected — and count churn on day d as users
    * active on d−1 with no activity on d (derived from the same window via
    * lead, charged to d). Identity n_active = n_new + n_retained +
    * n_resurrected holds by construction and ships as a free cross-check;
    * net_growth = n_new + n_resurrected − n_churned is the number the
    * growth team actually watches.
    *
    * Plan: raw events collapse to the distinct (user, day) grain FIRST
    * (partial-aggregatable — the only fact-sized exchange, combine-heavy
    * since a user's day has many events), the lag/lead window rides that
    * grain's user_id partitioning, per-day counts are a second
    * entity-day-sized exchange, and the dense [min,max] day grid (zero
    * days must show: an all-churn day has no active rows) joins against a
    * 2-value span broadcast. No events rescan past the first aggregate. */
  def eventsLifecycle(spark: SparkSession, dir: String): DataFrame =
    eventsLifecycleOf(Tables.events(spark, dir))

  def eventsLifecycleOf(ev: DataFrame): DataFrame = {
    val days = ev
      .select(col("user_id"),
        floor(unix_micros(col("ts")) / lit(DayUs)).cast("long").as("day"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val classified = days
      .withColumn("prev_day", lag(col("day"), 1).over(w))
      .withColumn("next_day", lead(col("day"), 1).over(w))
    val span = classified.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))

    val perDay = classified.groupBy(col("day")).agg(
      count(lit(1)).as("n_active"),
      sum(when(col("prev_day").isNull, 1L).otherwise(0L)).as("n_new"),
      sum(when(col("prev_day") === col("day") - 1, 1L).otherwise(0L)).as("n_retained"),
      sum(when(col("prev_day").isNotNull && col("prev_day") < col("day") - 1, 1L)
        .otherwise(0L)).as("n_resurrected"))
    // A user active on d churns on d+1 iff the next active day is absent or
    // beyond d+1; charge it to day d+1 (grid-clipped: churn past the last
    // observed day is unobservable and both engines exclude it alike).
    val churn = classified
      .filter(col("next_day").isNull || col("next_day") > col("day") + 1)
      .groupBy((col("day") + 1).as("day")).agg(count(lit(1)).as("n_churned"))

    span.select(explode(sequence(col("d0"), col("d1"))).as("day"))
      .join(perDay, Seq("day"), "left")
      .join(churn, Seq("day"), "left")
      .select(col("day"),
        coalesce(col("n_active"), lit(0L)).as("n_active"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"),
        coalesce(col("n_resurrected"), lit(0L)).as("n_resurrected"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"))
      .withColumn("net_growth",
        col("n_new") + col("n_resurrected") - col("n_churned"))
      .orderBy(col("day"))
  }

  val eventsLifecycleSql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id,
      |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
      |  FROM events
      |), cls AS (
      |  SELECT user_id, day,
      |    lag(day) OVER (PARTITION BY user_id ORDER BY day) AS prev_day,
      |    lead(day) OVER (PARTITION BY user_id ORDER BY day) AS next_day
      |  FROM ud
      |), span AS (
      |  SELECT min(day) AS d0, max(day) AS d1 FROM cls
      |), grid AS (
      |  SELECT unnest(range(d0, d1 + 1)) AS day FROM span
      |), per_day AS (
      |  SELECT day, CAST(count(*) AS BIGINT) AS n_active,
      |    CAST(sum(CASE WHEN prev_day IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
      |    CAST(sum(CASE WHEN prev_day = day - 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
      |    CAST(sum(CASE WHEN prev_day IS NOT NULL AND prev_day < day - 1
      |             THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
      |  FROM cls GROUP BY 1
      |), churn AS (
      |  SELECT day + 1 AS day, CAST(count(*) AS BIGINT) AS n_churned
      |  FROM cls WHERE next_day IS NULL OR next_day > day + 1 GROUP BY 1
      |)
      |SELECT g.day, coalesce(p.n_active, 0) AS n_active,
      |  coalesce(p.n_new, 0) AS n_new,
      |  coalesce(p.n_retained, 0) AS n_retained,
      |  coalesce(p.n_resurrected, 0) AS n_resurrected,
      |  coalesce(c.n_churned, 0) AS n_churned,
      |  coalesce(p.n_new, 0) + coalesce(p.n_resurrected, 0)
      |    - coalesce(c.n_churned, 0) AS net_growth
      |FROM grid g LEFT JOIN per_day p ON g.day = p.day
      |LEFT JOIN churn c ON g.day = c.day
      |ORDER BY g.day""".stripMargin

  /** Day-of-week seasonality profile per event type — the weekly-rhythm
    * complement of [[Analytics.eventsTrend]]'s secular slope (a capacity
    * plan needs both: growth says how much, seasonality says when).
    * dow is computed arithmetically on the epoch-day index
    * ((day + 3) mod 7, 0 = Monday — 1970-01-01 was a Thursday), NOT via
    * calendar functions, so both engines agree by construction; shares are
    * exact integer basis points of the type's total (share_bp), and idx_bp
    * rescales so a perfectly flat week reads 10000 per dow (n·7·10⁴ DIV
    * total) — the over/under-index number a dashboard shows. All 7 dows
    * emit per type (zero-filled): a type that never fires on weekends must
    * show its zeros.
    *
    * Plan: one partial-aggregated (event_type, dow) count — the only
    * fact-sized exchange, ≤ types×7 output rows — then a broadcast-sized
    * dense cross with the dow grid and a per-type window total. */
  def eventsSeasonality(spark: SparkSession, dir: String): DataFrame =
    eventsSeasonalityOf(Tables.events(spark, dir))

  def eventsSeasonalityOf(ev: DataFrame): DataFrame = {
    val counts = ev
      .select(col("event_type"),
        pmod(floor(unix_micros(col("ts")) / lit(DayUs)) + 3, lit(7))
          .cast("long").as("dow"))
      .groupBy(col("event_type"), col("dow")).agg(count(lit(1)).as("n"))
    val dense = counts.select(col("event_type")).distinct()
      .crossJoin(dowGrid(counts))
      .join(counts, Seq("event_type", "dow"), "left")
      .select(col("event_type"), col("dow"), coalesce(col("n"), lit(0L)).as("n"))
    val w = Window.partitionBy(col("event_type"))
    dense
      .withColumn("total", sum(col("n")).over(w))
      .select(col("event_type"), col("dow"), col("n"),
        expr("n * 10000 DIV total").as("share_bp"),
        expr("n * 70000 DIV total").as("idx_bp"))
      .orderBy(col("event_type"), col("dow"))
  }

  /** The 7-row dow grid (0..6) as a cross-joinable constant. */
  private def dowGrid(df: DataFrame): DataFrame =
    df.sparkSession.range(0, 7).select(col("id").cast("long").as("dow"))

  val eventsSeasonalitySql: String =
    """WITH counts AS (
      |  SELECT event_type,
      |    CAST((epoch_us(ts) // 86400000000 + 3) % 7 AS BIGINT) AS dow,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2
      |), dense AS (
      |  SELECT t.event_type, g.dow, coalesce(c.n, 0) AS n
      |  FROM (SELECT DISTINCT event_type FROM counts) t
      |  CROSS JOIN (SELECT unnest(range(0, 7)) AS dow) g
      |  LEFT JOIN counts c ON c.event_type = t.event_type AND c.dow = g.dow
      |), tot AS (
      |  SELECT event_type, dow, n,
      |    CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS total
      |  FROM dense
      |)
      |SELECT event_type, dow, n,
      |  CAST(n * 10000 // total AS BIGINT) AS share_bp,
      |  CAST(n * 70000 // total AS BIGINT) AS idx_bp
      |FROM tot ORDER BY event_type, dow""".stripMargin

  /** Next-day volume forecast per event type — the op the trend and
    * seasonality signals exist FOR, composed: the OLS fit
    * ([[Analytics.eventsTrend]]) extrapolated one day past the observed
    * span (x = n_days on the same 0-based day index), then scaled by the
    * next day's dow index from [[eventsSeasonality]] (a Monday-peaked
    * type forecast for a Sunday must come in under its trend line).
    * pred_trend = max(0, (icept_e6 + slope_e6·n_days) DIV 1e6) — the
    * clamp because a decaying fit extrapolates negative; pred_adj =
    * pred_trend·idx_bp DIV 1e4. Exact integer end to end: both inputs
    * are already engine-exact integer gates, and the composition is two
    * truncating DIVs, so the forecast needs no margin discipline.
    *
    * Plan: the trend fold and the dow profile each pay their one
    * fact-sized partial-aggregated exchange (no new fact pass — these ARE
    * the two upstream ops), then everything joins at types-sized grain
    * with the 2-value span broadcast. */
  def eventsForecast(spark: SparkSession, dir: String): DataFrame =
    eventsForecastOf(Tables.events(spark, dir))

  def eventsForecastOf(ev: DataFrame): DataFrame = {
    val coefs = Analytics.eventsTrendOf(ev)
      .select(col("event_type"), col("n_days"), col("slope_e6"), col("icept_e6"))
    val span = ev
      .agg(max(floor(unix_micros(col("ts")) / lit(DayUs)).cast("long")).as("d1"))
    val season = eventsSeasonalityOf(ev)
      .select(col("event_type"), col("dow"), col("idx_bp"))
    coefs.crossJoin(broadcast(span))
      .withColumn("next_day", col("d1") + 1)
      .withColumn("dow", pmod(col("next_day") + 3, lit(7)).cast("long"))
      .join(season, Seq("event_type", "dow"))
      .select(col("event_type"), col("next_day"), col("dow"), col("slope_e6"),
        expr("greatest(0, (icept_e6 + slope_e6 * n_days) DIV 1000000)")
          .as("pred_trend"),
        expr("greatest(0, (icept_e6 + slope_e6 * n_days) DIV 1000000) " +
          "* idx_bp DIV 10000").as("pred_adj"))
      .orderBy(col("event_type"))
  }

  val eventsForecastSql: String = {
    // the trend CTE chain and coefficient arithmetic are the SHARED
    // constants Analytics owns — composed, not regex-stripped, so a
    // formula edit there cannot silently leave this copy stale
    s"""WITH ${Analytics.trendSumsCtesSql}, coefs AS (
      |  SELECT event_type, n_days,
      |    CAST(${Analytics.trendSlopeE6Sql} AS BIGINT) AS slope_e6,
      |    CAST(${Analytics.trendIceptE6Sql} AS BIGINT) AS icept_e6
      |  FROM sums
      |), scounts AS (
      |  SELECT event_type,
      |    CAST((epoch_us(ts) // 86400000000 + 3) % 7 AS BIGINT) AS dow,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2
      |), sdense AS (
      |  SELECT t.event_type, g.dow, coalesce(c.n, 0) AS n
      |  FROM (SELECT DISTINCT event_type FROM scounts) t
      |  CROSS JOIN (SELECT unnest(range(0, 7)) AS dow) g
      |  LEFT JOIN scounts c ON c.event_type = t.event_type AND c.dow = g.dow
      |), season AS (
      |  SELECT event_type, dow,
      |    CAST(n * 70000 // (sum(n) OVER (PARTITION BY event_type)) AS BIGINT)
      |      AS idx_bp
      |  FROM sdense
      |), sp AS (
      |  SELECT CAST(max(epoch_us(ts) // 86400000000) AS BIGINT) AS d1 FROM events
      |)
      |SELECT c.event_type, sp.d1 + 1 AS next_day,
      |  CAST((sp.d1 + 1 + 3) % 7 AS BIGINT) AS dow, c.slope_e6,
      |  CAST(greatest(0, (c.icept_e6 + c.slope_e6 * c.n_days) // 1000000)
      |    AS BIGINT) AS pred_trend,
      |  CAST(greatest(0, (c.icept_e6 + c.slope_e6 * c.n_days) // 1000000)
      |    * s.idx_bp // 10000 AS BIGINT) AS pred_adj
      |FROM coefs c CROSS JOIN sp
      |JOIN season s ON s.event_type = c.event_type
      |  AND s.dow = (sp.d1 + 1 + 3) % 7
      |ORDER BY c.event_type""".stripMargin
  }

  /** A/B experiment readout over a DETERMINISTIC hash split — the
    * experimentation primitive (assignment must be a pure function of the
    * user id so every pipeline, engine and re-run lands each user in the
    * same arm; random assignment is unjoinable and unauditable): arm =
    * [[TextAnalysis.idHash]](user_id) mod 2 (the overflow-free mod-p
    * affine mix, one-line DuckDB mirror), conversion = the user had ≥1
    * purchase. One summary row: per-arm user/converter counts, conversion
    * in exact bp, and the A−B lift in bp (negative when B wins —
    * differences of truncating-DIV bps, engine-exact; significance
    * testing needs only these four cells and stays in the consumer's
    * hands). Plan: one user_id partial-aggregated rollup (the only
    * fact-sized exchange), then a 2-row conditional-aggregate pivot. */
  def eventsAbLift(spark: SparkSession, dir: String): DataFrame =
    eventsAbLiftOf(Tables.events(spark, dir))

  def eventsAbLiftOf(ev: DataFrame): DataFrame = {
    val users = ev
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
      .withColumn("arm", pmod(TextAnalysis.idHash(col("user_id")), lit(2)).cast("long"))
    users.agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 0, col("conv")).otherwise(0L)).as("conv_a"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("arm") === 1, col("conv")).otherwise(0L)).as("conv_b"))
      .select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
        expr("conv_a * 10000 DIV greatest(n_a, 1)").as("conv_a_bp"),
        expr("conv_b * 10000 DIV greatest(n_b, 1)").as("conv_b_bp"))
      .withColumn("lift_bp", col("conv_a_bp") - col("conv_b_bp"))
  }

  val eventsAbLiftSql: String = {
    val arm = s"(${TextAnalysis.idHashSql("user_id")} % 2)"
    s"""WITH u AS (
      |  SELECT user_id, CAST($arm AS BIGINT) AS arm,
      |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      |  FROM events GROUP BY 1, 2
      |), cells AS (
      |  SELECT
      |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
      |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |    CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS conv_b
      |  FROM u
      |)
      |SELECT n_a, conv_a, n_b, conv_b,
      |  CAST(conv_a * 10000 // greatest(n_a, 1) AS BIGINT) AS conv_a_bp,
      |  CAST(conv_b * 10000 // greatest(n_b, 1) AS BIGINT) AS conv_b_bp,
      |  CAST(conv_a * 10000 // greatest(n_a, 1)
      |    - conv_b * 10000 // greatest(n_b, 1) AS BIGINT) AS lift_bp
      |FROM cells""".stripMargin
  }

  /** Error-budget burn — the SRE view of the event stream (error share
    * per day and over the trailing 7-day window; the trailing form is
    * what pages: a single bad hour hides in a daily ratio): per day on
    * the DENSE [min,max] grid, error/total counts, err_bp, and the
    * 7-day trailing err7_bp — the frame is calendar-true because the
    * grid is dense (a zero-traffic day still occupies its frame slot;
    * over sparse day rows a ROWS frame would silently span months).
    * Exact integers; one (day) partial-aggregated fact exchange, then
    * day-grain frames. */
  def eventsErrorBudget(spark: SparkSession, dir: String): DataFrame =
    eventsErrorBudgetOf(Tables.events(spark, dir))

  def eventsErrorBudgetOf(ev: DataFrame): DataFrame =
    errorBudgetFrame(ev
      .select(floor(unix_micros(col("ts")) / lit(DayUs)).cast("long").as("day"),
        when(col("event_type") === "error", 1L).otherwise(0L).as("is_err"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_events"), sum(col("is_err")).as("n_errors")))

  /** The dense-grid + trailing-frame finisher over day-grain counts
    * (day, n_events, n_errors): a silent day emits no count row, and the
    * grid here restores it. Input is calendar-bounded (one row per
    * active day), so the unpartitioned frame is safe at any corpus
    * scale. */
  private def errorBudgetFrame(daily: DataFrame): DataFrame = {
    val span = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val dense = span.select(explode(sequence(col("d0"), col("d1"))).as("day"))
      .join(daily, Seq("day"), "left")
      .select(col("day"), coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(col("n_errors"), lit(0L)).as("n_errors"))
    val w7 = Window.orderBy(col("day")).rowsBetween(-6, 0)
    dense
      .withColumn("ev7", sum(col("n_events")).over(w7))
      .withColumn("er7", sum(col("n_errors")).over(w7))
      .select(col("day"), col("n_events"), col("n_errors"),
        expr("n_errors * 10000 DIV greatest(n_events, 1)").as("err_bp"),
        expr("er7 * 10000 DIV greatest(ev7, 1)").as("err7_bp"))
      .orderBy(col("day"))
  }

  val eventsErrorBudgetSql: String =
    """WITH daily AS (
      |  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
      |    CAST(count(*) AS BIGINT) AS n_events,
      |    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_errors
      |  FROM events GROUP BY 1
      |), span AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily
      |), dense AS (
      |  SELECT g.day, coalesce(d.n_events, 0) AS n_events,
      |    coalesce(d.n_errors, 0) AS n_errors
      |  FROM (SELECT unnest(range(d0, d1 + 1)) AS day FROM span) g
      |  LEFT JOIN daily d ON g.day = d.day
      |), f AS (
      |  SELECT day, n_events, n_errors,
      |    CAST(sum(n_events) OVER (ORDER BY day
      |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS ev7,
      |    CAST(sum(n_errors) OVER (ORDER BY day
      |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS er7
      |  FROM dense
      |)
      |SELECT day, n_events, n_errors,
      |  CAST(n_errors * 10000 // greatest(n_events, 1) AS BIGINT) AS err_bp,
      |  CAST(er7 * 10000 // greatest(ev7, 1) AS BIGINT) AS err7_bp
      |FROM f ORDER BY day""".stripMargin

  /** Session conversion rate per day — the session-grain product metric
    * ([[Analytics.eventsFunnel]] is user-grain; product teams report "what
    * fraction of SESSIONS converted today"): sessions are the 30-min-gap
    * ordinal windows ([[Analytics.eventsSessionize]]'s rule verbatim),
    * a session converts when it contains a purchase, the day is the
    * session START's epoch day (a session straddling midnight counts
    * once, where it began). Exact truncating-DIV bp; one user_id window
    * exchange for sessionization, then day-grain counts. */
  def eventsSessionConversion(spark: SparkSession, dir: String): DataFrame =
    eventsSessionConversionOf(Tables.events(spark, dir))

  def eventsSessionConversionOf(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val sess = ev
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          col("ts").cast("long") - col("prev_ts").cast("long") > 1800, 1).otherwise(0))
      .withColumn("session_id",
        sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts")).as("session_start"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("converted"))
    sess
      .select(floor(unix_micros(col("session_start")) / lit(DayUs)).cast("long").as("day"),
        col("converted"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("converted")).as("n_converted"))
      .withColumn("conv_bp", expr("n_converted * 10000 DIV n_sessions"))
      .orderBy(col("day"))
  }

  val eventsSessionConversionSql: String =
    """WITH flagged AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR date_diff('second', lag(ts) OVER w, ts) > 1800
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sess AS (
      |  SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM flagged
      |), per_sess AS (
      |  SELECT user_id, session_id, min(ts) AS session_start,
      |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
      |  FROM sess GROUP BY 1, 2
      |), daily AS (
      |  SELECT CAST(epoch_us(session_start) // 86400000000 AS BIGINT) AS day,
      |    CAST(count(*) AS BIGINT) AS n_sessions,
      |    CAST(sum(converted) AS BIGINT) AS n_converted
      |  FROM per_sess GROUP BY 1
      |)
      |SELECT day, n_sessions, n_converted,
      |  CAST(n_converted * 10000 // n_sessions AS BIGINT) AS conv_bp
      |FROM daily ORDER BY day""".stripMargin

  /** Activity heatmap — the (dow × hour) matrix every analytics dashboard
    * opens with ([[eventsSeasonality]] is its dow marginal; the hour axis
    * is what capacity planning and on-call staffing actually read): per
    * (dow, hour) cell, event count and share bp of the corpus, dense over
    * all 168 cells. Both axes are ARITHMETIC on the epoch microsecond
    * (dow = (day+3) mod 7 with 0=Monday, hour = µs-of-day DIV 3.6e9) —
    * no calendar functions, engine-exact. One partial-aggregated
    * fact exchange to ≤168 rows. */
  def eventsHeatmap(spark: SparkSession, dir: String): DataFrame =
    eventsHeatmapOf(Tables.events(spark, dir))

  def eventsHeatmapOf(ev: DataFrame): DataFrame = {
    val counts = ev
      .select(pmod(floor(unix_micros(col("ts")) / lit(DayUs)) + 3, lit(7))
          .cast("long").as("dow"),
        expr(s"pmod(unix_micros(ts), ${DayUs}L) DIV 3600000000").as("hour"))
      .groupBy(col("dow"), col("hour")).agg(count(lit(1)).as("n"))
    val spark = ev.sparkSession
    val grid = spark.range(0, 7).selectExpr("id AS dow")
      .crossJoin(spark.range(0, 24).selectExpr("id AS hour"))
    val tot = counts.agg(sum(col("n")).as("total"))
    grid.join(counts, Seq("dow", "hour"), "left")
      .crossJoin(broadcast(tot))
      .select(col("dow"), col("hour"), coalesce(col("n"), lit(0L)).as("n"),
        expr("coalesce(n, 0) * 10000 DIV greatest(total, 1)").as("share_bp"))
      .orderBy(col("dow"), col("hour"))
  }

  val eventsHeatmapSql: String =
    """WITH counts AS (
      |  SELECT CAST((epoch_us(ts) // 86400000000 + 3) % 7 AS BIGINT) AS dow,
      |    CAST((epoch_us(ts) % 86400000000) // 3600000000 AS BIGINT) AS hour,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2
      |), grid AS (
      |  SELECT d.dow, h.hour
      |  FROM (SELECT unnest(range(0, 7)) AS dow) d,
      |       (SELECT unnest(range(0, 24)) AS hour) h
      |), tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM counts)
      |SELECT g.dow, g.hour, coalesce(c.n, 0) AS n,
      |  CAST(coalesce(c.n, 0) * 10000 // greatest(t.total, 1) AS BIGINT)
      |    AS share_bp
      |FROM grid g LEFT JOIN counts c ON g.dow = c.dow AND g.hour = c.hour
      |CROSS JOIN tot t ORDER BY g.dow, g.hour""".stripMargin

  /** Sample-ratio-mismatch check — the assignment-integrity guard every
    * experimentation platform runs BEFORE reading a lift number (a biased
    * split silently invalidates `events_ab_lift`; SRM is the standard
    * detector). Per assignment rule, arm user counts and the one-df
    * chi-square statistic against the claimed 50/50 split, which for two
    * cells collapses to χ² = (n_a − n_b)²/(n_a + n_b) — computed in exact
    * integer e4 units via split long division (quotient·1e4 + scaled
    * remainder), overflow-free to ~3·10⁹ users per arm delta, engine-
    * portable with no doubles anywhere. Two rules ship: the production
    * hash split (healthy by construction — the statistic hovers near 0)
    * and a deliberately 5/16-biased variant proving the detector FIRES
    * (flag threshold 3.8415 = the 95% critical value, e4-scaled).
    * Cost: one distinct-user aggregate, then two arm-count aggregates
    * over the user grain — all map-side combining, output 2 rows. */
  def eventsAbSrm(spark: SparkSession, dir: String): DataFrame =
    eventsAbSrmOf(Tables.events(spark, dir))

  def eventsAbSrmOf(ev: DataFrame): DataFrame = {
    val users = ev.select(col("user_id")).distinct()
      .withColumn("h", TextAnalysis.idHash(col("user_id")))
    def cell(name: String, armA: Column): DataFrame = users
      .agg(sum(when(armA, 1L).otherwise(0L)).as("n_a"),
        sum(when(armA, 0L).otherwise(1L)).as("n_b"))
      .select(lit(name).as("assignment"), col("n_a"), col("n_b"),
        (col("n_a") - col("n_b")).as("delta"))
      .withColumn("srm_stat_e4", expr(
        """(delta * delta DIV greatest(n_a + n_b, 1)) * 10000
          | + (delta * delta % greatest(n_a + n_b, 1)) * 10000
          |   DIV greatest(n_a + n_b, 1)""".stripMargin.replace("\n", " ")))
      .withColumn("srm_flag", (col("srm_stat_e4") > 38414L).cast("long"))
    cell("hash_mod2", pmod(col("h"), lit(2)) === 0)
      .unionByName(cell("skewed_5_16", pmod(col("h"), lit(16)) < 5))
      .orderBy(col("assignment"))
  }

  val eventsAbSrmSql: String = {
    val h = TextAnalysis.idHashSql("user_id")
    def cell(name: String, armA: String) =
      s"""SELECT '$name' AS assignment,
        |    CAST(sum(CASE WHEN $armA THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN $armA THEN 0 ELSE 1 END) AS BIGINT) AS n_b
        |  FROM u""".stripMargin
    s"""WITH u AS (
      |  SELECT user_id, $h AS h FROM (SELECT DISTINCT user_id FROM events)
      |), cells AS (
      |  ${cell("hash_mod2", "h % 2 = 0")}
      |  UNION ALL
      |  ${cell("skewed_5_16", "h % 16 < 5")}
      |)
      |SELECT assignment, n_a, n_b, n_a - n_b AS delta,
      |  CAST(((n_a - n_b) * (n_a - n_b) // greatest(n_a + n_b, 1)) * 10000
      |    + ((n_a - n_b) * (n_a - n_b) % greatest(n_a + n_b, 1)) * 10000
      |      // greatest(n_a + n_b, 1) AS BIGINT) AS srm_stat_e4,
      |  CAST(CASE WHEN ((n_a - n_b) * (n_a - n_b) // greatest(n_a + n_b, 1)) * 10000
      |    + ((n_a - n_b) * (n_a - n_b) % greatest(n_a + n_b, 1)) * 10000
      |      // greatest(n_a + n_b, 1) > 38414 THEN 1 ELSE 0 END AS BIGINT) AS srm_flag
      |FROM cells ORDER BY assignment""".stripMargin
  }

  /** Per-user automation/bot signals — the traffic-hygiene stage every
    * web-corpus curation and product-analytics pipeline runs before
    * trusting its counts (bot sessions inflate DAU, poison funnels, and
    * at corpus scale fill the crawl with machine-generated text). Two
    * orthogonal signatures, both exact integers:
    *  - burstiness: max events in any 1-minute tumbling bucket (humans
    *    rarely exceed a handful; scripted clients spike);
    *  - cadence regularity: the MODAL second-truncated inter-arrival gap
    *    and its share of all gaps (fixed-interval polling pushes the
    *    share toward 10000 bp; organic traffic on this corpus measures
    *    ≤ ~420 bp — the thresholds sit far above the organic band, so
    *    the gate's flag column is honestly all-zero and the spec proves
    *    firing on planted bots).
    * flag = burst ≥ 10 OR (n ≥ 20 AND modal share ≥ 2500 bp).
    * Plan: the lag window rides the per-user sort, gap counts collapse to
    * (user, delta) grain, the modal pick is ONE lexicographic struct-max
    * per user (no second window), burst is a (user, minute) pre-aggregate
    * — three user-grain aggregates joined at entity size. */
  def eventsBotFlag(spark: SparkSession, dir: String): DataFrame =
    eventsBotFlagOf(Tables.events(spark, dir))

  def eventsBotFlagOf(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gaps = ev.select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("user_id"),
        expr("(unix_micros(ts) - unix_micros(prev)) DIV 1000000").as("delta_s"))
    // modal gap with a deterministic tie-break (highest count, then
    // smallest delta) as one struct-max — the q_argmin_join discipline
    val modal = gaps.groupBy(col("user_id"), col("delta_s"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("user_id"))
      .agg(sum(col("c")).as("n_gaps"),
        max(struct(col("c"), (-col("delta_s")).as("nd"))).as("m"))
      .select(col("user_id"), col("n_gaps"), col("m.c").as("modal_n"),
        (-col("m.nd")).as("modal_delta_s"))
    val burst = ev
      .select(col("user_id"),
        expr("unix_micros(ts) DIV 60000000").as("minute"))
      .groupBy(col("user_id"), col("minute")).agg(count(lit(1)).as("c"))
      .groupBy(col("user_id")).agg(max(col("c")).as("burst_max"))
    ev.groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
      .join(burst, Seq("user_id"))
      .join(modal, Seq("user_id"), "left")
      .select(col("user_id"), col("n_events"), col("burst_max"),
        coalesce(col("modal_delta_s"), lit(0L)).as("modal_delta_s"),
        coalesce(expr("modal_n * 10000 DIV greatest(n_gaps, 1)"), lit(0L))
          .as("modal_share_bp"))
      .withColumn("bot_flag",
        (col("burst_max") >= 10L ||
          (col("n_events") >= 20L && col("modal_share_bp") >= 2500L))
          .cast("long"))
      .orderBy(col("user_id"))
  }

  val eventsBotFlagSql: String =
    """WITH d AS (
      |  SELECT user_id, ts,
      |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM events
      |), g AS (
      |  SELECT user_id,
      |    CAST((epoch_us(ts) - epoch_us(prev)) // 1000000 AS BIGINT) AS delta_s
      |  FROM d WHERE prev IS NOT NULL
      |), c AS (
      |  SELECT user_id, delta_s, count(*) AS c FROM g GROUP BY 1, 2
      |), m AS (
      |  SELECT user_id, n_gaps, c AS modal_n, delta_s AS modal_delta_s FROM (
      |    SELECT user_id, delta_s, c,
      |      CAST(sum(c) OVER (PARTITION BY user_id) AS BIGINT) AS n_gaps,
      |      row_number() OVER (PARTITION BY user_id ORDER BY c DESC, delta_s ASC) AS rn
      |    FROM c
      |  ) WHERE rn = 1
      |), b AS (
      |  SELECT user_id, CAST(max(c) AS BIGINT) AS burst_max FROM (
      |    SELECT user_id, epoch_us(ts) // 60000000 AS minute, count(*) AS c
      |    FROM events GROUP BY 1, 2
      |  ) GROUP BY 1
      |), n AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events FROM events GROUP BY 1
      |)
      |SELECT n.user_id, n.n_events, b.burst_max,
      |  coalesce(m.modal_delta_s, 0) AS modal_delta_s,
      |  CAST(coalesce(m.modal_n * 10000 // greatest(m.n_gaps, 1), 0) AS BIGINT)
      |    AS modal_share_bp,
      |  CAST(CASE WHEN b.burst_max >= 10
      |         OR (n.n_events >= 20
      |             AND coalesce(m.modal_n * 10000 // greatest(m.n_gaps, 1), 0) >= 2500)
      |       THEN 1 ELSE 0 END AS BIGINT) AS bot_flag
      |FROM n JOIN b ON n.user_id = b.user_id
      |LEFT JOIN m ON n.user_id = m.user_id
      |ORDER BY n.user_id""".stripMargin

  /** CUPED variance-reduced A/B lift (Deng et al., WSDM'13 "Improving the
    * Sensitivity of Online Controlled Experiments by Utilizing Pre-
    * Experiment Data") — the adjustment every mature experimentation
    * platform applies before reading a lift: Y_cuped = Y − θ(X − X̄) with
    * X a PRE-experiment covariate (here: the user's event count in the
    * first 15 days) and Y the experiment-period conversion, θ =
    * cov(X,Y)/var(X). Pre-period behavior is unaffected by treatment, so
    * the adjustment removes the covariate's share of the variance without
    * biasing the lift — the same experiment resolves effects ~1/(1−ρ²)
    * smaller. Arm-mean algebra collapses the per-user adjustment:
    * cuped_lift = (ȳ_B − ȳ_A) − θ(x̄_B − x̄_A), so the whole statistic is
    * ONE user-grain aggregate over the same hash-arm split as
    * [[eventsAbLift]] (A/A by construction on this corpus: true lift ≈ 0;
    * the gate checks the machinery, not a planted effect).
    *
    * Exactness: θ and the lifts are e6-scaled truncating-DIV integers
    * over exact integer moment sums (x ≥ 0 event counts, y ∈ {0,1});
    * DuckDB `//` and Spark `DIV` both truncate toward zero, so negative
    * covariances replay bit-for-bit. Moment products bound the gate form
    * to ~n·x²·1e6 < 2⁶³ (holds through sf10-class corpora); the
    * planetary-scale production body is [[eventsCupedCenteredOf]] —
    * first-pass broadcast mean, centered double moments, no overflow
    * bound — θ need not be bit-exact there, only the GATE demands hash
    * portability (spec pins the two θs within 1e-6 of each other on both
    * gate corpora).
    *
    * Plan: one fact pass collapses to user grain (partial-aggregated),
    * the 1-row split-day broadcast rides a crossJoin, the moment
    * aggregate is one reduction to a single row — no second fact scan. */
  def eventsCuped(spark: SparkSession, dir: String): DataFrame =
    eventsCupedOf(Tables.events(spark, dir))

  /** The user-grain (x, y, arm) frame both the gate and the moment audit
    * aggregate over (x = pre-period event count, y = experiment-period
    * conversion, arm = hash split). */
  private def cupedUsers(ev: DataFrame): DataFrame = {
    val days = ev.select(col("user_id"), col("event_type"),
      floor(unix_micros(col("ts")) / lit(DayUs)).cast("long").as("day"))
    val split = days.agg((min(col("day")) + lit(15L)).as("split_day"))
    days.crossJoin(broadcast(split))
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("day") < col("split_day"), 1L).otherwise(0L)).as("x"),
        max(when(col("day") >= col("split_day") &&
          col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
      .withColumn("arm", pmod(TextAnalysis.idHash(col("user_id")), lit(2)).cast("long"))
  }

  /** The raw integer moments of the CUPED statistic, collected — the
    * audit surface for the docstring's overflow-headroom claim (ANSI mode
    * ABORTS on Long overflow, so the claimed sf10-class bound is spec-
    * enforced on the gate corpora rather than trusted). */
  private[graft] case class CupedMoments(n: Long, sx: Long, sy: Long,
                                         sxx: Long, sxy: Long)
  private[graft] def eventsCupedMoments(ev: DataFrame): CupedMoments = {
    val r = cupedUsers(ev).agg(
      count(lit(1)).as("n"),
      coalesce(sum(col("x")), lit(0L)).as("sx"),
      coalesce(sum(col("y")), lit(0L)).as("sy"),
      coalesce(sum(col("x") * col("x")), lit(0L)).as("sxx"),
      coalesce(sum(col("x") * col("y")), lit(0L)).as("sxy")).head()
    CupedMoments(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
  }

  /** The PRODUCTION CUPED body: centered double moments over a first-pass
    * broadcast mean — θ = Σ(x−x̄)(y−ȳ) / Σ(x−x̄)², the numerically stable
    * textbook form. The gate path ([[eventsCupedOf]]) keeps its e6-integer
    * uncentered algebra because the DRIVER HASH demands bit-portable
    * arithmetic, but that form's Long moment products (n·Σx², (Σx)²) grow
    * quadratically in corpus scale and ANSI-abort past ~10⁹ users×events —
    * the headroom spec fails loudly three decades before that. This body
    * has no such bound: centering keeps every addend near zero, double
    * sums never overflow, and precision loss is O(n·ε) of the already-
    * centered magnitudes. Same single user-grain frame, same arm split;
    * the mean pass is one extra narrow aggregate (collected — 2 doubles —
    * and folded back in as literals, the broadcast-mean discipline).
    * Returns doubles; spec pins |θ_centered − θ_e6/1e6| ≤ 1e-6 on both
    * gate corpora. */
  def eventsCupedCenteredOf(ev: DataFrame): DataFrame = {
    val users = cupedUsers(ev)
    val m = users.agg(
      coalesce(avg(col("x")), lit(0.0)).as("mx"),
      coalesce(avg(col("y")), lit(0.0)).as("my")).head()
    val (mx, my) = (m.getDouble(0), m.getDouble(1))
    users.agg(
        coalesce(sum((col("x") - mx) * (col("x") - mx)), lit(0.0)).as("sxx_c"),
        coalesce(sum((col("x") - mx) * (col("y") - my)), lit(0.0)).as("sxy_c"),
        coalesce(sum(when(col("arm") === 0, 1L).otherwise(0L)), lit(0L)).as("n_a"),
        coalesce(sum(when(col("arm") === 1, 1L).otherwise(0L)), lit(0L)).as("n_b"),
        coalesce(sum(when(col("arm") === 0, col("y")).otherwise(0L)), lit(0L)).as("conv_a"),
        coalesce(sum(when(col("arm") === 1, col("y")).otherwise(0L)), lit(0L)).as("conv_b"),
        coalesce(sum(when(col("arm") === 0, col("x")).otherwise(0L)), lit(0L)).as("px_a"),
        coalesce(sum(when(col("arm") === 1, col("x")).otherwise(0L)), lit(0L)).as("px_b"))
      .withColumn("theta",
        col("sxy_c") / greatest(col("sxx_c"), lit(1e-12)))
      .withColumn("lift",
        col("conv_b") / greatest(col("n_b"), lit(1L)) -
          col("conv_a") / greatest(col("n_a"), lit(1L)))
      .withColumn("dx",
        col("px_b") / greatest(col("n_b"), lit(1L)) -
          col("px_a") / greatest(col("n_a"), lit(1L)))
      .withColumn("cuped_lift", col("lift") - col("theta") * col("dx"))
      .select(col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
        col("theta"), col("lift"), col("dx"), col("cuped_lift"))
  }

  def eventsCupedOf(ev: DataFrame): DataFrame = {
    val users = cupedUsers(ev)
    users.agg(
        count(lit(1)).as("n"),
        coalesce(sum(col("x")), lit(0L)).as("sx"),
        coalesce(sum(col("y")), lit(0L)).as("sy"),
        coalesce(sum(col("x") * col("x")), lit(0L)).as("sxx"),
        coalesce(sum(col("x") * col("y")), lit(0L)).as("sxy"),
        coalesce(sum(when(col("arm") === 0, 1L).otherwise(0L)), lit(0L)).as("n_a"),
        coalesce(sum(when(col("arm") === 1, 1L).otherwise(0L)), lit(0L)).as("n_b"),
        coalesce(sum(when(col("arm") === 0, col("y")).otherwise(0L)), lit(0L)).as("conv_a"),
        coalesce(sum(when(col("arm") === 1, col("y")).otherwise(0L)), lit(0L)).as("conv_b"),
        coalesce(sum(when(col("arm") === 0, col("x")).otherwise(0L)), lit(0L)).as("px_a"),
        coalesce(sum(when(col("arm") === 1, col("x")).otherwise(0L)), lit(0L)).as("px_b"))
      .withColumn("theta_e6",
        expr("(n * sxy - sx * sy) * 1000000 DIV greatest(n * sxx - sx * sx, 1)"))
      .withColumn("lift_e6",
        expr("conv_b * 1000000 DIV greatest(n_b, 1) - conv_a * 1000000 DIV greatest(n_a, 1)"))
      .withColumn("dx_e6",
        expr("px_b * 1000000 DIV greatest(n_b, 1) - px_a * 1000000 DIV greatest(n_a, 1)"))
      .withColumn("cuped_lift_e6", expr("lift_e6 - theta_e6 * dx_e6 DIV 1000000"))
      .select(col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
        col("theta_e6"), col("lift_e6"), col("dx_e6"), col("cuped_lift_e6"))
  }

  val eventsCupedSql: String = {
    val arm = s"(${TextAnalysis.idHashSql("user_id")} % 2)"
    s"""WITH d AS (
      |  SELECT user_id, event_type,
      |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
      |  FROM events
      |), sp AS (SELECT min(day) + 15 AS split_day FROM d
      |), u AS (
      |  SELECT user_id, CAST($arm AS BIGINT) AS arm,
      |    CAST(sum(CASE WHEN day < split_day THEN 1 ELSE 0 END) AS BIGINT) AS x,
      |    CAST(max(CASE WHEN day >= split_day AND event_type = 'purchase'
      |      THEN 1 ELSE 0 END) AS BIGINT) AS y
      |  FROM d CROSS JOIN sp GROUP BY 1, 2
      |), g AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(x * y) AS BIGINT) AS sxy,
      |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |    CAST(sum(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT) AS conv_a,
      |    CAST(sum(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT) AS conv_b,
      |    CAST(sum(CASE WHEN arm = 0 THEN x ELSE 0 END) AS BIGINT) AS px_a,
      |    CAST(sum(CASE WHEN arm = 1 THEN x ELSE 0 END) AS BIGINT) AS px_b
      |  FROM u
      |), t AS (
      |  SELECT *,
      |    CAST((n * sxy - sx * sy) * 1000000
      |      // greatest(n * sxx - sx * sx, 1) AS BIGINT) AS theta_e6,
      |    CAST(conv_b * 1000000 // greatest(n_b, 1)
      |      - conv_a * 1000000 // greatest(n_a, 1) AS BIGINT) AS lift_e6,
      |    CAST(px_b * 1000000 // greatest(n_b, 1)
      |      - px_a * 1000000 // greatest(n_a, 1) AS BIGINT) AS dx_e6
      |  FROM g
      |)
      |SELECT n_a, n_b, conv_a, conv_b, theta_e6, lift_e6, dx_e6,
      |  CAST(lift_e6 - theta_e6 * dx_e6 // 1000000 AS BIGINT) AS cuped_lift_e6
      |FROM t""".stripMargin
  }

  /** Power-user curve (the "L28" activity-frequency histogram): for each
    * possible active-day count k in the trailing 28-day window, how many
    * users were active exactly k days — the smile-shaped distribution
    * every engagement review opens with (a heavy right mode = habit, a
    * left-packed curve = drive-by traffic). [[eventsStickiness]] reports
    * the DAU/MAU ratio (one number); this is the full distribution that
    * ratio summarizes away. Window = the last 28 calendar days ending at
    * the corpus max day (dense k grid 1..28, zero-count ks included —
    * the shape IS the deliverable, holes would lie).
    *
    * Plan: one fact pass collapses to distinct (user, day) within the
    * window (partial-aggregated on the user exchange), per-user day
    * counts ride the same exchange, the k histogram is a ≤28-row
    * aggregate joined onto the static k grid — nothing after the first
    * exchange is corpus-sized. Exact integers throughout. */
  def eventsPowerCurve(spark: SparkSession, dir: String): DataFrame =
    eventsPowerCurveOf(Tables.events(spark, dir))

  def eventsPowerCurveOf(ev: DataFrame): DataFrame = {
    val days = ev.select(col("user_id"),
      floor(unix_micros(col("ts")) / lit(DayUs)).cast("long").as("day"))
    val mx = days.agg(max(col("day")).as("d1"))
    val perUser = days.crossJoin(broadcast(mx))
      .filter(col("day") > col("d1") - lit(28L))
      .select(col("user_id"), col("day")).distinct()
      .groupBy(col("user_id")).agg(count(lit(1)).as("k"))
    val hist = perUser.groupBy(col("k")).agg(count(lit(1)).as("n_users"))
    val spark = ev.sparkSession
    import spark.implicits._
    val grid = (1L to 28L).toDF("k")
    grid.join(hist, Seq("k"), "left")
      .select(col("k"), coalesce(col("n_users"), lit(0L)).as("n_users"))
      .orderBy(col("k"))
  }

  val eventsPowerCurveSql: String =
    """WITH d AS (
      |  SELECT user_id, CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
      |  FROM events
      |), mx AS (SELECT max(day) AS d1 FROM d
      |), pu AS (
      |  SELECT user_id, CAST(count(DISTINCT day) AS BIGINT) AS k
      |  FROM d CROSS JOIN mx WHERE day > d1 - 28 GROUP BY 1
      |), h AS (SELECT k, CAST(count(*) AS BIGINT) AS n_users FROM pu GROUP BY 1)
      |SELECT g.k, coalesce(h.n_users, 0) AS n_users
      |FROM (SELECT unnest(range(1, 29)) AS k) g
      |LEFT JOIN h ON g.k = h.k ORDER BY g.k""".stripMargin

  val MarkovIters = 12

  /** Markov removal-effect attribution (Anderl et al., IJRM'16 — the
    * data-driven attribution model beside the positional rules of
    * events_attribution/_first/_decay): model journeys as a first-order
    * Markov chain over channel states with absorbing CONV/NULL, score a
    * channel by its REMOVAL EFFECT — how much absorption probability
    * P(CONV | START) drops when every transition into the channel is
    * redirected to NULL. Positional rules can't see a channel that never
    * touches last/first position but feeds the converting paths; removal
    * effect does.
    *
    * Journey = each user's events ordered by (ts, event_id), truncated at
    * the FIRST purchase (→ CONV); non-converting journeys absorb in NULL.
    * Transition probabilities are e6 truncating-DIV integers; absorption
    * is the [[MarkovIters]]-step fixed iteration a_i(s) = Σ p(s→t)·
    * a_{i−1}(t) DIV 1e6 from a_0 = {CONV: 1e6} with absorbing self-loops
    * — a DEFINED statistic both engines replay bit-for-bit (the pagerank
    * fixed-iteration discipline), monotone in i so truncation never
    * oscillates.
    *
    * Plan: the fact-sized work is ONE user-window pass to transition
    * counts (state-pair grain, ≤ (channels+3)² rows); the 5-scenario ×
    * 12-step iteration runs on the DRIVER over the collected matrix —
    * the channel alphabet is bounded by product instrumentation (the
    * k×dim centroid-training collect class, never corpus-sized), where
    * the graph ops iterate distributed because entity domains grow. The
    * oracle re-derives journeys AND unrolls all scenarios' iterations as
    * CTE chains — a fully independent replay. */
  /** The corpus event_type contract the markov ORACLE is pinned to. The
    * oracle unrolls one removal-scenario CTE chain PER channel, so its
    * channel list is baked into the SQL text at build time, while the
    * Spark side derives channels from the data — two sources that could
    * silently diverge if the corpus schema drifted. The gate path
    * therefore passes this list into [[eventsAttributionMarkovOf]], which
    * fails loudly AT THE OPERATOR (named error, zero extra scans — the
    * alphabet is already on the driver) instead of as an unexplained
    * row-set mismatch at the gate. Generic callers (specs, the hostile-
    * alphabet probe) pass no contract and keep the data-driven alphabet. */
  private[graft] val MarkovChannels = Seq("click", "error", "signup", "view")

  def eventsAttributionMarkov(spark: SparkSession, dir: String): DataFrame =
    eventsAttributionMarkovOf(Tables.events(spark, dir), Some(MarkovChannels))

  def eventsAttributionMarkovOf(ev: DataFrame,
      oracleChannels: Option[Seq[String]] = None): DataFrame = {
    val spark = ev.sparkSession
    import spark.implicits._
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val seq0 = ev.select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("rn", row_number().over(w))
    val firstP = seq0.filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(min(col("rn")).as("prn"))
    val w2 = Window.partitionBy(col("user_id")).orderBy(col("rn"))
    val jny = seq0.join(firstP, Seq("user_id"), "left")
      .filter(col("prn").isNull || col("rn") <= col("prn"))
      .withColumn("state",
        when(col("event_type") === "purchase", lit("CONV")).otherwise(col("event_type")))
      .withColumn("prev", lag(col("state"), 1).over(w2))
      .withColumn("nxt", lead(col("state"), 1).over(w2))
    val transitions = jny
      .select(coalesce(col("prev"), lit("START")).as("src"), col("state").as("dst"))
      .unionAll(jny.filter(col("nxt").isNull && col("state") =!= "CONV")
        .select(col("state").as("src"), lit("NULL").as("dst")))
    val counts = transitions.groupBy(col("src"), col("dst")).agg(count(lit(1)).as("cnt"))
    val tots = counts.groupBy(col("src")).agg(sum(col("cnt")).as("tot"))
    // state-pair grain: ≤ (channels+3)² rows — bounded driver traffic
    val tr = counts.join(tots, "src")
      .select(col("src"), col("dst"), expr("cnt * 1000000 DIV tot").as("p_e6"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val channels = tr.flatMap(t => Seq(t._1, t._2))
      .filterNot(Set("START", "CONV", "NULL")).distinct.sorted
    // the oracle emits one removal row per channel in ITS baked-in list;
    // the row sets can only match if the derived alphabet is identical.
    // An EMPTY derived alphabet is exempt: the empty-corpus contract is
    // "emit zero rows, never crash" (EmptyCorpusSpec), and there is no
    // drift to flag when there is no data
    oracleChannels.foreach { oc =>
      require(channels.isEmpty || channels.toSeq == oc.sorted,
        s"markov oracle channel contract violated: " +
          s"derived=${channels.mkString(",")} oracle=${oc.sorted.mkString(",")}")
    }
    // Int-indexed primitive-array absorption: the naive String-Map form
    // (re-grouping a redirected edge list per scenario) is O(C·E) in
    // ALLOCATION, which a hostile 500-channel alphabet turns into ~500 s
    // of driver time (ScaleProbe markov: 498 s → 2 s with this form).
    // Semantics are bit-identical: redirecting an edge into NULL
    // multiplies it by a(NULL) = 0 and removing a source drops its rows,
    // so a removal scenario is the SAME edge walk with src/dst == removed
    // skipped — per-edge truncating division then summation, exactly the
    // grouped form's arithmetic (Long addition is associative).
    val states = (tr.flatMap(t => Seq(t._1, t._2)) ++ Seq("START", "CONV", "NULL"))
      .distinct.zipWithIndex.toMap
    val eSrc = tr.map(t => states(t._1))
    val eDst = tr.map(t => states(t._2))
    val eP = tr.map(_._3)
    val (iStart, iConv, iNull) = (states("START"), states("CONV"), states("NULL"))
    def absorb(removed: Int): Long = {
      var a = new Array[Long](states.size)
      a(iConv) = 1000000L
      for (_ <- 1 to MarkovIters) {
        val nxt = new Array[Long](states.size)
        var i = 0
        while (i < eSrc.length) {
          if (eSrc(i) != removed && eDst(i) != removed)
            nxt(eSrc(i)) += eP(i) * a(eDst(i)) / 1000000L
          i += 1
        }
        nxt(iConv) = 1000000L
        nxt(iNull) = 0L
        a = nxt
      }
      a(iStart)
    }
    val base = absorb(removed = -1)
    val effects = channels.map(c => (c, base - absorb(states(c))))
    val totEff = math.max(effects.map(_._2).sum, 1L)
    effects.toSeq.toDF("channel", "removal_e6")
      .withColumn("base_conv_e6", lit(base))
      .withColumn("share_bp", expr(s"removal_e6 * 10000 DIV ${totEff}L"))
      .orderBy(col("channel"))
  }

  val eventsAttributionMarkovSql: String = {
    val channels = MarkovChannels
    def iterChain(sc: String, trCte: String): String = {
      val steps = (1 to MarkovIters).map { i =>
        s"""a_${sc}_$i AS (
           |  SELECT t.src AS state,
           |    CAST(sum(t.p_e6 * a.a_e6 // 1000000) AS BIGINT) AS a_e6
           |  FROM $trCte t JOIN a_${sc}_${i - 1} a ON t.dst = a.state
           |  GROUP BY 1
           |)""".stripMargin
      }.mkString(",\n")
      s"""a_${sc}_0(state, a_e6) AS (
         |  SELECT 'CONV', CAST(1000000 AS BIGINT)
         |  UNION ALL SELECT 'NULL', CAST(0 AS BIGINT)
         |),
         |$steps""".stripMargin
    }
    val removalCtes = channels.map { c =>
      s"""tr_$c AS (
         |  SELECT src, CASE WHEN dst = '$c' THEN 'NULL' ELSE dst END AS dst,
         |    CAST(sum(p_e6) AS BIGINT) AS p_e6
         |  FROM tr WHERE src <> '$c' GROUP BY 1, 2
         |),
         |${iterChain(c, s"tr_$c")}""".stripMargin
    }.mkString(",\n")
    val effectRows = channels.map { c =>
      s"""SELECT '$c' AS channel,
         |  (SELECT coalesce((SELECT a_e6 FROM a_base_$MarkovIters WHERE state = 'START'), 0))
         |  - (SELECT coalesce((SELECT a_e6 FROM a_${c}_$MarkovIters WHERE state = 'START'), 0))
         |  AS removal_e6""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH seq0 AS (
       |  SELECT user_id, event_type,
       |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
       |  FROM events
       |), fp AS (
       |  SELECT user_id, min(rn) AS prn FROM seq0
       |  WHERE event_type = 'purchase' GROUP BY 1
       |), jny AS (
       |  SELECT s.user_id, s.rn,
       |    CASE WHEN s.event_type = 'purchase' THEN 'CONV' ELSE s.event_type END AS state,
       |    lag(CASE WHEN s.event_type = 'purchase' THEN 'CONV' ELSE s.event_type END)
       |      OVER w AS prev,
       |    lead(CASE WHEN s.event_type = 'purchase' THEN 'CONV' ELSE s.event_type END)
       |      OVER w AS nxt
       |  FROM seq0 s LEFT JOIN fp USING (user_id)
       |  WHERE fp.prn IS NULL OR s.rn <= fp.prn
       |  WINDOW w AS (PARTITION BY s.user_id ORDER BY s.rn)
       |), trans AS (
       |  SELECT coalesce(prev, 'START') AS src, state AS dst FROM jny
       |  UNION ALL
       |  SELECT state AS src, 'NULL' AS dst FROM jny
       |  WHERE nxt IS NULL AND state <> 'CONV'
       |), cnts AS (
       |  SELECT src, dst, CAST(count(*) AS BIGINT) AS cnt FROM trans GROUP BY 1, 2
       |), tots AS (SELECT src, CAST(sum(cnt) AS BIGINT) AS tot FROM cnts GROUP BY 1
       |), tr AS MATERIALIZED (
       |  SELECT c.src, c.dst, CAST(c.cnt * 1000000 // t.tot AS BIGINT) AS p_e6
       |  FROM cnts c JOIN tots t USING (src)
       |  UNION ALL SELECT 'CONV', 'CONV', CAST(1000000 AS BIGINT)
       |  UNION ALL SELECT 'NULL', 'NULL', CAST(0 AS BIGINT)
       |),
       |${iterChain("base", "tr")},
       |$removalCtes,
       |eff AS (
       |$effectRows
       |), teff AS (SELECT greatest(CAST(sum(removal_e6) AS BIGINT), 1) AS tot FROM eff)
       |SELECT e.channel, e.removal_e6,
       |  (SELECT coalesce((SELECT a_e6 FROM a_base_$MarkovIters WHERE state = 'START'), 0))
       |    AS base_conv_e6,
       |  CAST(e.removal_e6 * 10000 // t.tot AS BIGINT) AS share_bp
       |FROM eff e CROSS JOIN teff t ORDER BY e.channel""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_attribution_markov" -> (eventsAttributionMarkov _),
    "events_power_curve" -> (eventsPowerCurve _),
    "events_cuped" -> (eventsCuped _),
    "events_bot_flag" -> (eventsBotFlag _),
    "events_ab_srm"  -> (eventsAbSrm _),
    "events_heatmap" -> (eventsHeatmap _),
    "events_session_conversion" -> (eventsSessionConversion _),
    "events_error_budget" -> (eventsErrorBudget _),
    "events_lifecycle"   -> (eventsLifecycle _),
    "events_seasonality" -> (eventsSeasonality _),
    "events_forecast"    -> (eventsForecast _),
    "events_ab_lift"     -> (eventsAbLift _))

  val oracle: Map[String, String] = Map(
    "events_attribution_markov" -> eventsAttributionMarkovSql,
    "events_power_curve" -> eventsPowerCurveSql,
    "events_cuped" -> eventsCupedSql,
    "events_bot_flag" -> eventsBotFlagSql,
    "events_ab_srm"  -> eventsAbSrmSql,
    "events_heatmap" -> eventsHeatmapSql,
    "events_session_conversion" -> eventsSessionConversionSql,
    "events_error_budget" -> eventsErrorBudgetSql,
    "events_lifecycle"   -> eventsLifecycleSql,
    "events_seasonality" -> eventsSeasonalitySql,
    "events_forecast"    -> eventsForecastSql,
    "events_ab_lift"     -> eventsAbLiftSql)
}
