package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Registry
import graft.sources.Tables

/** Feature-store query surface (reference semantics re-expressed on Spark):
  * materialization (latest value), ingestion dedup, point-in-time retrieval
  * with TTL, online-serving statuses, feature statistics.
  *
  * Entity/feature split of the `events` table: `purchase` events play the
  * entity dataframe (the "training examples"); the remaining events are the
  * feature stream.
  */
object FeatureOps {

  private def entityRows(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("entity_ts"), col("event_id").as("row_id"))

  private def featureRows(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("ts"), col("value"))

  /** Materialization: latest feature row per entity key. */
  def ftLatest(spark: SparkSession, dir: String): DataFrame =
    LatestValue.latest(Tables.events(spark, dir),
        keys = Seq("user_id"), orderCols = Seq("ts", "event_id"),
        valueCols = Seq("ts", "event_id", "event_type", "value"))
      .orderBy(col("user_id"))

  val ftLatestSql: String =
    """SELECT user_id, ts, event_id, event_type, value FROM (
      |  SELECT user_id, ts, event_id, event_type, value,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin

  /** Materialization over an ingestion window [start, end). */
  def ftLatestRange(spark: SparkSession, dir: String): DataFrame =
    LatestValue.latest(
        Tables.events(spark, dir)
          .filter(col("ts") >= lit("2024-01-10 00:00:00") && col("ts") < lit("2024-01-20 00:00:00")),
        keys = Seq("user_id"), orderCols = Seq("ts", "event_id"),
        valueCols = Seq("ts", "event_id", "event_type", "value"))
      .orderBy(col("user_id"))

  val ftLatestRangeSql: String =
    """SELECT user_id, ts, event_id, event_type, value FROM (
      |  SELECT user_id, ts, event_id, event_type, value,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events
      |  WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00')
      |WHERE rn = 1 ORDER BY user_id""".stripMargin

  /** Ingestion dedup: one row per (entity, event_ts), greatest sequence wins. */
  def ftIngestDedup(spark: SparkSession, dir: String): DataFrame =
    LatestValue.dedup(Tables.events(spark, dir),
        keys = Seq("user_id"), eventTs = "ts", tiebreak = Seq("event_id"),
        valueCols = Seq("event_id", "event_type", "value"))
      .orderBy(col("user_id"), col("ts"))

  val ftIngestDedupSql: String =
    """SELECT user_id, ts, event_id, event_type, value FROM (
      |  SELECT user_id, ts, event_id, event_type, value,
      |    row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
      |  FROM events) WHERE rn = 1 ORDER BY user_id, ts""".stripMargin

  /** SCD2-style validity-interval materialization: the full feature
    * TIMELINE per entity key — each ingested value (after the same
    * (key, ts) dedup as `ft_ingest_dedup`) is valid from its event ts
    * until the key's next ingested value; the current value carries a
    * null `valid_to`. The interval form is how warehouses persist
    * point-in-time correctness for audit/backfill (an as-of lookup
    * becomes `valid_from <= t < valid_to`).
    *
    * One exchange: a dedup-then-rewindow formulation pays TWO (the dedup
    * ranks within (key, ts), the interval lead() needs (key) — a
    * (key, ts) hash partitioning does not satisfy a (key) requirement).
    * Instead ONE user_id window sorted by (ts, event_id) yields both:
    * a row is its ts-group's keeper iff the next row's ts differs (last
    * in ascending event_id order = the greatest-sequence ingest-dedup
    * rule), and that same next ts IS the keeper's valid_to (plan-pinned
    * to a single data exchange). */
  def ftTimeline(spark: SparkSession, dir: String): DataFrame =
    ftTimelineOf(
      Tables.events(spark, dir).select(col("user_id"), col("ts"),
        col("event_id"), col("value")),
      keys = Seq("user_id"), tsCol = "ts", tiebreak = Seq("event_id"),
      valueCols = Seq("event_id", "value"))

  /** Generalized timeline form over any keyed, timestamped frame — the
    * registry-driven facade path (`FeatureStore.getFeatureTimeline`) calls
    * this with a table's declared entities / event-ts / created-ts.
    * Output: keys, valid_from, valid_to, valueCols; same single-exchange
    * plan as the gate query (the ONE (keys) window yields both the
    * (keys, ts) dedup keeper and the interval bound). */
  def ftTimelineOf(df: DataFrame, keys: Seq[String], tsCol: String,
      tiebreak: Seq[String], valueCols: Seq[String]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol) +: tiebreak.map(col): _*)
    df.withColumn("__next_ts", lead(col(tsCol), 1).over(w))
      .filter(col("__next_ts").isNull || col("__next_ts") =!= col(tsCol))
      .select(keys.map(col) ++ Seq(col(tsCol).as("valid_from"),
        col("__next_ts").as("valid_to")) ++ valueCols.map(col): _*)
      .orderBy(keys.map(col) :+ col("valid_from"): _*)
  }

  val ftTimelineSql: String =
    """WITH d AS (
      |  SELECT user_id, ts, event_id, value FROM (
      |    SELECT user_id, ts, event_id, value,
      |      row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
      |    FROM events) WHERE rn = 1
      |)
      |SELECT user_id, ts AS valid_from,
      |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to,
      |  event_id, value
      |FROM d ORDER BY user_id, valid_from""".stripMargin

  /** Point-in-time join, unbounded lookback. */
  def pitJoin(spark: SparkSession, dir: String): DataFrame =
    PointInTimeJoin.asof(
        entityRows(spark, dir), featureRows(spark, dir),
        keys = Seq("user_id"), entityTs = "entity_ts", featureTs = "ts",
        featureCols = Seq("value"), maxAgeSec = None, outPrefix = "feat_")
      .orderBy(col("row_id"))

  private def pitOracle(maxAgeCond: String): String =
    s"""WITH entity AS (
      |  SELECT user_id, ts AS entity_ts, event_id AS row_id
      |  FROM events WHERE event_type = 'purchase'
      |), feat AS (
      |  SELECT user_id, ts AS feat_ts, max(value) AS feat_value
      |  FROM events WHERE event_type <> 'purchase' GROUP BY 1, 2
      |), joined AS (
      |  SELECT e.row_id, e.user_id, e.entity_ts, f.feat_ts, f.feat_value,
      |    row_number() OVER (PARTITION BY e.row_id ORDER BY f.feat_ts DESC) AS rn
      |  FROM entity e LEFT JOIN feat f
      |    ON e.user_id = f.user_id AND f.feat_ts <= e.entity_ts $maxAgeCond
      |)
      |SELECT row_id, user_id, entity_ts, feat_ts, feat_value
      |FROM joined WHERE rn = 1 ORDER BY row_id""".stripMargin

  val pitJoinSql: String = pitOracle("")

  /** Point-in-time join with a 2-day TTL (max_age). */
  def pitJoinMaxage(spark: SparkSession, dir: String): DataFrame =
    PointInTimeJoin.asof(
        entityRows(spark, dir), featureRows(spark, dir),
        keys = Seq("user_id"), entityTs = "entity_ts", featureTs = "ts",
        featureCols = Seq("value"), maxAgeSec = Some(2L * 86400), outPrefix = "feat_")
      .orderBy(col("row_id"))

  val pitJoinMaxageSql: String =
    pitOracle("AND f.feat_ts >= e.entity_ts - INTERVAL 172800 SECOND")

  /** Forward as-of join: each purchase labeled with the NEXT feature event
    * (earliest featureTs ≥ entityTs) — the "what happened next" direction
    * [[PointInTimeJoin.asofForward]] adds over the reference's
    * backward-only retrieval. */
  def pitJoinForward(spark: SparkSession, dir: String): DataFrame =
    PointInTimeJoin.asofForward(
        entityRows(spark, dir), featureRows(spark, dir),
        keys = Seq("user_id"), entityTs = "entity_ts", featureTs = "ts",
        featureCols = Seq("value"), maxAgeSec = None, outPrefix = "feat_")
      .orderBy(col("row_id"))

  val pitJoinForwardSql: String =
    """WITH entity AS (
      |  SELECT user_id, ts AS entity_ts, event_id AS row_id
      |  FROM events WHERE event_type = 'purchase'
      |), feat AS (
      |  SELECT user_id, ts AS feat_ts, max(value) AS feat_value
      |  FROM events WHERE event_type <> 'purchase' GROUP BY 1, 2
      |), joined AS (
      |  SELECT e.row_id, e.user_id, e.entity_ts, f.feat_ts, f.feat_value,
      |    row_number() OVER (PARTITION BY e.row_id ORDER BY f.feat_ts ASC) AS rn
      |  FROM entity e LEFT JOIN feat f
      |    ON e.user_id = f.user_id AND f.feat_ts >= e.entity_ts
      |)
      |SELECT row_id, user_id, entity_ts, feat_ts, feat_value
      |FROM joined WHERE rn = 1 ORDER BY row_id""".stripMargin

  /** Nearest as-of join: the temporally closest feature on either side,
    * ties to the backward match. */
  def pitJoinNearest(spark: SparkSession, dir: String): DataFrame =
    PointInTimeJoin.asofNearest(
        entityRows(spark, dir), featureRows(spark, dir),
        keys = Seq("user_id"), entityTs = "entity_ts", featureTs = "ts",
        featureCols = Seq("value"), maxAgeSec = None, outPrefix = "feat_")
      .orderBy(col("row_id"))

  val pitJoinNearestSql: String =
    """WITH entity AS (
      |  SELECT user_id, ts AS entity_ts, event_id AS row_id
      |  FROM events WHERE event_type = 'purchase'
      |), feat AS (
      |  SELECT user_id, ts AS feat_ts, max(value) AS feat_value
      |  FROM events WHERE event_type <> 'purchase' GROUP BY 1, 2
      |), joined AS (
      |  SELECT e.row_id, e.user_id, e.entity_ts, f.feat_ts, f.feat_value,
      |    row_number() OVER (PARTITION BY e.row_id ORDER BY
      |      abs(epoch_us(f.feat_ts) - epoch_us(e.entity_ts)) ASC,
      |      (f.feat_ts > e.entity_ts) ASC) AS rn
      |  FROM entity e LEFT JOIN feat f ON e.user_id = f.user_id
      |)
      |SELECT row_id, user_id, entity_ts, feat_ts, feat_value
      |FROM joined WHERE rn = 1 ORDER BY row_id""".stripMargin

  /** Composite-key point-in-time join: features keyed on
    * (user_id, event_type); each purchase asks for the latest 'click'. */
  def pitJoinComposite(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val entity = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), lit("click").as("event_type"),
        col("ts").as("entity_ts"), col("event_id").as("row_id"))
    val feats = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("event_type"), col("ts"), col("value"))
    PointInTimeJoin.asof(entity, feats,
        keys = Seq("user_id", "event_type"), entityTs = "entity_ts",
        featureTs = "ts", featureCols = Seq("value"),
        maxAgeSec = None, outPrefix = "click_")
      .orderBy(col("row_id"))
  }

  val pitJoinCompositeSql: String =
    """WITH entity AS (
      |  SELECT user_id, 'click' AS event_type, ts AS entity_ts, event_id AS row_id
      |  FROM events WHERE event_type = 'purchase'
      |), feat AS (
      |  SELECT user_id, event_type, ts AS fts, max(value) AS fval
      |  FROM events WHERE event_type <> 'purchase' GROUP BY 1, 2, 3
      |), joined AS (
      |  SELECT e.row_id, e.user_id, e.event_type, e.entity_ts, f.fts, f.fval,
      |    row_number() OVER (PARTITION BY e.row_id ORDER BY f.fts DESC) AS rn
      |  FROM entity e LEFT JOIN feat f
      |    ON e.user_id = f.user_id AND e.event_type = f.event_type
      |       AND f.fts <= e.entity_ts
      |)
      |SELECT row_id, user_id, event_type, entity_ts,
      |       fts AS click_ts, fval AS click_value
      |FROM joined WHERE rn = 1 ORDER BY row_id""".stripMargin

  /** Point-in-time join of two feature tables in one retrieval. */
  def pitJoinMulti(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("value"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("value"))
    val step1 = PointInTimeJoin.asof(entityRows(spark, dir), clicks,
      keys = Seq("user_id"), entityTs = "entity_ts", featureTs = "ts",
      featureCols = Seq("value"), maxAgeSec = None, outPrefix = "click_")
    PointInTimeJoin.asof(step1, views,
        keys = Seq("user_id"), entityTs = "entity_ts", featureTs = "ts",
        featureCols = Seq("value"), maxAgeSec = None, outPrefix = "view_")
      .orderBy(col("row_id"))
  }

  val pitJoinMultiSql: String =
    """WITH entity AS (
      |  SELECT user_id, ts AS entity_ts, event_id AS row_id
      |  FROM events WHERE event_type = 'purchase'
      |), clk AS (
      |  SELECT user_id, ts, max(value) AS value
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2
      |), vw AS (
      |  SELECT user_id, ts, max(value) AS value
      |  FROM events WHERE event_type = 'view' GROUP BY 1, 2
      |), jc AS (
      |  SELECT e.row_id, e.user_id, e.entity_ts, c.ts AS click_ts, c.value AS click_value,
      |    row_number() OVER (PARTITION BY e.row_id ORDER BY c.ts DESC) AS rn
      |  FROM entity e LEFT JOIN clk c ON e.user_id = c.user_id AND c.ts <= e.entity_ts
      |), jv AS (
      |  SELECT e.row_id, v.ts AS view_ts, v.value AS view_value,
      |    row_number() OVER (PARTITION BY e.row_id ORDER BY v.ts DESC) AS rn
      |  FROM entity e LEFT JOIN vw v ON e.user_id = v.user_id AND v.ts <= e.entity_ts
      |)
      |SELECT jc.row_id, jc.user_id, jc.entity_ts, jc.click_ts, jc.click_value,
      |       jv.view_ts, jv.view_value
      |FROM jc JOIN jv ON jc.row_id = jv.row_id AND jv.rn = 1
      |WHERE jc.rn = 1 ORDER BY jc.row_id""".stripMargin

  /** Online serving end-to-end through the facade
    * (`FeatureStore.getOnlineFeatures`): latest value per requested key at
    * request time, with the reference's field statuses
    * (OnlineServingServiceV2.getMetadata / checkOutsideMaxAge) under a 4 h
    * max-age table. The store is a read-only [[viewStore]] of the latest
    * event per user, and the collected max(ts) is the serving "now" — the
    * serve_online_odfv discipline. `events.value` is never null in the
    * gate corpora, so the facade's NULL_VALUE branch never fires and the
    * statuses are PRESENT / OUTSIDE_MAX_AGE / NOT_FOUND. */
  def serveOnline(spark: SparkSession, dir: String): DataFrame = {
    val r = new graft.model.Registry
    r.applyEntity(graft.model.Entity("user_id", graft.model.ValueKind.Int64K))
    r.applyTable(graft.model.FeatureTable(
      name = "user_latest", entities = Seq("user_id"),
      features = Seq(graft.model.Feature("value", graft.model.ValueKind.DoubleK)),
      maxAgeSec = Some(4L * 3600), eventTsCol = "ts",
      batchSourcePath = Some(s"$dir/events.parquet"),
      labels = Map("graft.ts_unit" -> "nanos")))
    val fs = new graft.FeatureStore(r, spark)
    val ev = Tables.events(spark, dir)
    val reqTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
    fs.getOnlineFeatures(viewStore(latestEvent(ev)),
        spark.range(0, 20).select(col("id").as("user_id")),
        Seq(graft.model.FeatureRef("user_latest", "value")),
        lit(reqTs).cast("timestamp")) // cast: a null max-ts (empty corpus) must stay TIMESTAMP-typed
      .select(col("user_id"), col("user_latest__value").as("value"),
        col("user_latest__value__status").as("status"))
      .orderBy(col("user_id"))
  }

  /** Latest event per user, tagged with the default project — the store
    * contents the view-store gates serve. */
  private def latestEvent(ev: DataFrame): DataFrame =
    LatestValue.latest(ev, keys = Seq("user_id"),
        orderCols = Seq("ts", "event_id"), valueCols = Seq("ts", "value"))
      .withColumn("__project", lit("default"))

  /** A read-only online store whose snapshot is `contents`, computed on the
    * fly: the gate queries stay deterministic and write nothing, while the
    * read goes through the production facade. */
  private def viewStore(contents: DataFrame): graft.serving.OnlineStore =
    new graft.serving.OnlineStore {
      override def upsert(rows: DataFrame, keys: Seq[String],
                          orderCols: Seq[String], valueCols: Seq[String]): Unit =
        throw new UnsupportedOperationException("read-only view store")
      override def snapshot(s: SparkSession): DataFrame = contents
    }

  val serveOnlineSql: String =
    """WITH req AS (SELECT user_id FROM range(0, 20) t(user_id)),
      |latest AS (
      |  SELECT user_id, ts, value FROM (
      |    SELECT user_id, ts, value,
      |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events) WHERE rn = 1
      |), mx AS (SELECT max(ts) AS req_ts FROM events)
      |SELECT r.user_id,
      |  CASE WHEN l.user_id IS NULL THEN NULL
      |       WHEN l.ts < m.req_ts - INTERVAL 14400 SECOND THEN NULL
      |       ELSE l.value END AS value,
      |  CASE WHEN l.user_id IS NULL THEN 'NOT_FOUND'
      |       WHEN l.ts < m.req_ts - INTERVAL 14400 SECOND THEN 'OUTSIDE_MAX_AGE'
      |       ELSE 'PRESENT' END AS status
      |FROM req r CROSS JOIN mx m LEFT JOIN latest l ON r.user_id = l.user_id
      |ORDER BY r.user_id""".stripMargin

  /** Online ODFV serving end-to-end through the facade (reference:
    * OnlineTransformationService wired into getOnlineFeatures by
    * ServingServiceV2): the request asks for a stored feature AND two
    * on-demand features of Registry.demo's `activity_derived` view, and
    * the facade derives them after the lookup joins with input-propagated
    * statuses. The store is a read-only view (snapshot = latest event per
    * user computed on the fly) so the gate query stays deterministic and
    * writes nothing; the lookup itself is the exact production path —
    * the snapshot semi-filtered by the broadcast request keys, the hits
    * broadcast into the request-preserving left join, and each table's
    * statuses and values emitted in one select.
    * The single-row max(ts) collect fixes the serving "now" (the same
    * driver-side traffic class as the quantizer training loops). */
  def serveOnlineOdfv(spark: SparkSession, dir: String): DataFrame = {
    val reg = Registry.demo(dir)
    val fs = new graft.FeatureStore(reg, spark)
    val ev = Tables.events(spark, dir)
    val reqTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
    fs.getOnlineFeatures(viewStore(latestEvent(ev)),
        spark.range(0, 20).select(col("id").as("user_id")),
        Seq(graft.model.FeatureRef("user_activity", "value"),
          graft.model.FeatureRef("activity_derived", "value_x2"),
          graft.model.FeatureRef("activity_derived", "is_high")),
        lit(reqTs).cast("timestamp")) // cast: a null max-ts (empty corpus) must stay TIMESTAMP-typed
      .orderBy(col("user_id"))
  }

  val serveOnlineOdfvSql: String =
    """WITH req AS (SELECT user_id FROM range(0, 20) t(user_id)),
      |latest AS (
      |  SELECT user_id, ts, value FROM (
      |    SELECT user_id, ts, value,
      |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events) WHERE rn = 1
      |), mx AS (SELECT max(ts) AS req_ts FROM events),
      |served AS (
      |  SELECT r.user_id,
      |    CASE WHEN l.user_id IS NOT NULL
      |           AND l.ts >= m.req_ts - INTERVAL 604800 SECOND
      |         THEN l.value END AS v,
      |    CASE WHEN l.user_id IS NULL THEN 'NOT_FOUND'
      |         WHEN l.ts < m.req_ts - INTERVAL 604800 SECOND THEN 'OUTSIDE_MAX_AGE'
      |         WHEN l.value IS NULL THEN 'NULL_VALUE'
      |         ELSE 'PRESENT' END AS st
      |  FROM req r CROSS JOIN mx m LEFT JOIN latest l ON r.user_id = l.user_id
      |)
      |SELECT user_id,
      |  v AS user_activity__value,
      |  st AS user_activity__value__status,
      |  round(v * 2, 4) AS activity_derived__value_x2,
      |  CASE WHEN st = 'NOT_FOUND' THEN 'NOT_FOUND'
      |       WHEN st = 'OUTSIDE_MAX_AGE' THEN 'OUTSIDE_MAX_AGE'
      |       WHEN round(v * 2, 4) IS NULL THEN 'NULL_VALUE'
      |       ELSE 'PRESENT' END AS activity_derived__value_x2__status,
      |  v > 50 AS activity_derived__is_high,
      |  CASE WHEN st = 'NOT_FOUND' THEN 'NOT_FOUND'
      |       WHEN st = 'OUTSIDE_MAX_AGE' THEN 'OUTSIDE_MAX_AGE'
      |       WHEN (v > 50) IS NULL THEN 'NULL_VALUE'
      |       ELSE 'PRESENT' END AS activity_derived__is_high__status
      |FROM served ORDER BY user_id""".stripMargin

  /** Feature validation statistics per feature group. */
  def ftStats(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        count(col("value")).as("n_nonnull"),
        round(min(col("value")), 4).as("min_v"),
        round(max(col("value")), 4).as("max_v"),
        round(avg(col("value")), 4).as("avg_v"),
        count_distinct(col("user_id")).as("n_users"))
      .orderBy(col("event_type"))

  val ftStatsSql: String =
    """SELECT event_type, count(*) AS n, count(value) AS n_nonnull,
      | round(min(value),4) AS min_v, round(max(value),4) AS max_v,
      | round(avg(value),4) AS avg_v, count(DISTINCT user_id) AS n_users
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** Feature drift: population stability index of `value` per event_type
    * between two ingestion windows (before/after 2024-01-15) — the
    * monitoring check a feature platform runs to catch distribution shift
    * between training and serving data. Fixed decile-width bins (value/10,
    * clamped to [0,9]) keep binning deterministic and engine-portable;
    * counts are smoothed (+0.5) so empty bins don't blow up the log. One
    * aggregation pass: (window, type, bin) counts roll up map-side. */
  def ftDrift(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("win", when(col("ts") < lit("2024-01-15 00:00:00"), "a").otherwise("b"))
      .withColumn("bin", least(greatest(floor(col("value") / 10), lit(0L)), lit(9L)))
    val counts = ev.groupBy(col("event_type"), col("win"), col("bin"))
      .agg(count(lit(1)).as("n"))
    // enumerate the FULL (type × win × bin) frame: a bin absent from one
    // window is exactly what drift looks like — it must contribute a
    // smoothed near-zero probability, not silently drop out (a fully
    // disjoint shift would otherwise produce NO bins and NO output)
    val frame = ev.select(col("event_type")).distinct()
      .crossJoin(spark.range(0, 10).select(col("id").as("bin")))
      .crossJoin(spark.range(0, 2).select(
        when(col("id") === 0, "a").otherwise("b").as("win")))
    val filled = frame.join(counts, Seq("event_type", "win", "bin"), "left")
      .select(col("event_type"), col("win"), col("bin"),
        coalesce(col("n"), lit(0L)).as("n"))
    val totals = filled.groupBy(col("event_type"), col("win"))
      .agg(sum(col("n")).as("total"))
    val p = filled.join(totals, Seq("event_type", "win"))
      .select(col("event_type"), col("bin"), col("win"),
        ((col("n") + 0.5) / (col("total") + 5.0)).as("p"))
    val byBin = p.groupBy(col("event_type"), col("bin"))
      .agg(
        max(when(col("win") === "a", col("p"))).as("pa"),
        max(when(col("win") === "b", col("p"))).as("pb"))
    byBin
      .groupBy(col("event_type"))
      .agg(round(sum((col("pa") - col("pb")) * log(col("pa") / col("pb"))), 4).as("psi"),
        count(lit(1)).as("n_bins"))
      .orderBy(col("event_type"))
  }

  val ftDriftSql: String =
    """WITH ev AS (
      |  SELECT event_type,
      |    CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00' THEN 'a' ELSE 'b' END AS win,
      |    least(greatest(CAST(floor(value / 10) AS BIGINT), 0), 9) AS bin
      |  FROM events
      |), counts AS (
      |  SELECT event_type, win, bin, count(*) AS n FROM ev GROUP BY 1, 2, 3
      |), frame AS (
      |  SELECT t.event_type, w.win, b.bin
      |  FROM (SELECT DISTINCT event_type FROM ev) t
      |  CROSS JOIN (SELECT unnest(['a', 'b']) AS win) w
      |  CROSS JOIN (SELECT unnest(range(0, 10)) AS bin) b
      |), filled AS (
      |  SELECT f.event_type, f.win, f.bin, coalesce(c.n, 0) AS n
      |  FROM frame f LEFT JOIN counts c
      |    ON f.event_type = c.event_type AND f.win = c.win AND f.bin = c.bin
      |), totals AS (
      |  SELECT event_type, win, sum(n) AS total FROM filled GROUP BY 1, 2
      |), p AS (
      |  SELECT c.event_type, c.bin, c.win, (c.n + 0.5) / (t.total + 5.0) AS p
      |  FROM filled c JOIN totals t ON c.event_type = t.event_type AND c.win = t.win
      |), bybin AS (
      |  SELECT event_type, bin,
      |    max(CASE WHEN win = 'a' THEN p END) AS pa,
      |    max(CASE WHEN win = 'b' THEN p END) AS pb
      |  FROM p GROUP BY 1, 2
      |)
      |SELECT event_type, round(sum((pa - pb) * ln(pa / pb)), 4) AS psi,
      |  count(*) AS n_bins
      |FROM bybin GROUP BY 1 ORDER BY 1""".stripMargin

  /** End-to-end facade retrieval: FeatureStore.getHistoricalFeatures driven
    * purely by registry metadata (demo registry's user_activity table over
    * the raw nanos events source, 7-day TTL). */
  /** The demo registry DRIVEN THROUGH THE PERSISTENCE PATH: saved to disk
    * once per corpus and loaded back (Registry.save/load — the reference
    * persists its registry via JPA; here the registry IS data and
    * round-trips through the engine), so the ft_historical gate proves
    * the reloaded registry serves retrieval, not just the in-memory maps.
    * Cached per corpus dir: the gate pays the save+load once per JVM
    * (warmed in Bench like every trained artifact), and the round-trip
    * is lossless (RegistrySpec pins field-level equality). */
  private val reloadedRegistryCache =
    scala.collection.concurrent.TrieMap.empty[String, Registry]
  private[graft] def demoRegistryReloaded(spark: SparkSession, dir: String): Registry =
    reloadedRegistryCache.getOrElseUpdate(dir, {
      val tmp = sys.props("java.io.tmpdir") + "/graft_registry/" +
        dir.replaceAll("[^A-Za-z0-9._]", "_")
      Registry.save(Registry.demo(dir), spark, tmp)
      Registry.load(spark, tmp)
    })

  def ftHistorical(spark: SparkSession, dir: String): DataFrame = {
    val fs = new graft.FeatureStore(demoRegistryReloaded(spark, dir), spark)
    fs.getHistoricalFeatures(entityRows(spark, dir), "entity_ts",
        Seq(graft.model.FeatureRef("user_activity", "value")))
      .orderBy(col("row_id"))
  }

  val ftHistoricalSql: String =
    """WITH entity AS (
      |  SELECT user_id, ts AS entity_ts, event_id AS row_id
      |  FROM events WHERE event_type = 'purchase'
      |), feat AS (
      |  SELECT user_id, ts AS fts, max(value) AS fval
      |  FROM events GROUP BY 1, 2
      |), joined AS (
      |  SELECT e.row_id, e.user_id, e.entity_ts, f.fts, f.fval,
      |    row_number() OVER (PARTITION BY e.row_id ORDER BY f.fts DESC) AS rn
      |  FROM entity e LEFT JOIN feat f
      |    ON e.user_id = f.user_id AND f.fts <= e.entity_ts
      |       AND f.fts >= e.entity_ts - INTERVAL 604800 SECOND
      |)
      |SELECT row_id, user_id, entity_ts,
      |       fts AS user_activity__ts, fval AS user_activity__value
      |FROM joined WHERE rn = 1 ORDER BY row_id""".stripMargin

  /** On-demand feature view over the facade retrieval: derived features
    * (reference's ODFV transformation) computed from the point-in-time
    * result as Catalyst expressions. */
  def ftOdfv(spark: SparkSession, dir: String): DataFrame = {
    val reg = Registry.demo(dir)
    val fs = new graft.FeatureStore(reg, spark)
    val hist = fs.getHistoricalFeatures(entityRows(spark, dir), "entity_ts",
      Seq(graft.model.FeatureRef("user_activity", "value")))
    fs.applyOnDemand(hist, "activity_derived").orderBy(col("row_id"))
  }

  val ftOdfvSql: String =
    """WITH entity AS (
      |  SELECT user_id, ts AS entity_ts, event_id AS row_id
      |  FROM events WHERE event_type = 'purchase'
      |), feat AS (
      |  SELECT user_id, ts AS fts, max(value) AS fval
      |  FROM events GROUP BY 1, 2
      |), joined AS (
      |  SELECT e.row_id, e.user_id, e.entity_ts, f.fts, f.fval,
      |    row_number() OVER (PARTITION BY e.row_id ORDER BY f.fts DESC) AS rn
      |  FROM entity e LEFT JOIN feat f
      |    ON e.user_id = f.user_id AND f.fts <= e.entity_ts
      |       AND f.fts >= e.entity_ts - INTERVAL 604800 SECOND
      |)
      |SELECT row_id, user_id, entity_ts,
      |       fts AS user_activity__ts, fval AS user_activity__value,
      |       round(fval * 2, 4) AS activity_derived__value_x2,
      |       fval > 50 AS activity_derived__is_high
      |FROM joined WHERE rn = 1 ORDER BY row_id""".stripMargin

  /** Registry contents as a DataFrame. The dump is deterministic metadata,
    * so it IS oracle-gateable: the DuckDB side is a literal VALUES table of
    * the demo registry. `batch_source` is reduced to the file basename so
    * the dump (and its oracle) is independent of which sf directory the
    * driver runs against. */
  def registryDump(spark: SparkSession, dir: String): DataFrame =
    Registry.demo(dir).toDF(spark)
      .withColumn("batch_source", regexp_replace(col("batch_source"), ".*/", ""))
      .orderBy(col("table_name"), col("feature"))

  val registryDumpSql: String =
    """SELECT * FROM (VALUES
      |  ('default', 'customer_profile', 'c_custkey', 'c_acctbal', 'DOUBLE',
      |   CAST(0 AS BIGINT), 'customer.parquet'),
      |  ('default', 'customer_profile', 'c_custkey', 'c_mktsegment', 'STRING',
      |   CAST(0 AS BIGINT), 'customer.parquet'),
      |  ('default', 'user_activity', 'user_id', 'event_type', 'STRING',
      |   CAST(604800 AS BIGINT), 'events.parquet'),
      |  ('default', 'user_activity', 'user_id', 'value', 'DOUBLE',
      |   CAST(604800 AS BIGINT), 'events.parquet')
      |) AS t(project, table_name, entities, feature, value_type, max_age_sec, batch_source)
      |ORDER BY table_name, feature""".stripMargin

  /** Feature freshness report: per entity key, the age of its latest
    * feature value against a pinned serving "now" (max event ts — the same
    * deterministic anchor serve_online uses) bucketed into the staleness
    * classes the reference's serving path distinguishes (fresh within 1h /
    * aging within the 4h serve_online max-age / OUTSIDE_MAX_AGE beyond) —
    * the monitoring pass an operator runs to see how stale the online
    * store is BEFORE requests start reading lapsed values
    * (OnlineServingServiceV2.checkOutsideMaxAge is the read-time twin of
    * this table-time audit).
    *
    * Plan: latest-per-key is the max_by single-pass aggregate
    * (partial-aggregatable — one row per key per input partition crosses
    * the network, LatestValue's 100 TB shape), "now" is a one-row
    * broadcast. Age is exact integer seconds (µs div 1e6) so the gate
    * hash is engine-exact. */
  def ftFreshness(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val latest = LatestValue.latest(ev, keys = Seq("user_id"),
      orderCols = Seq("ts", "event_id"), valueCols = Seq("ts"))
    val now = ev.agg(max(col("ts")).as("now_ts"))
    ftFreshnessOf(latest.crossJoin(broadcast(now)), keys = Seq("user_id"),
      tsCol = "ts", nowCol = col("now_ts"), maxAgeSec = Some(14400L))
  }

  /** Generalized freshness form over a latest-per-key frame — the
    * registry-driven facade path (`FeatureStore.getFreshness`) calls this
    * with a table's declared max_age. Buckets follow the serve_online
    * ratio the gate query pins: FRESH inside a quarter of the max_age
    * (4·age < max_age, exact integers), AGING inside it, OUTSIDE_MAX_AGE
    * only when OLDER than now − max_age — the read-time boundary, through
    * the same [[PointInTimeJoin.withinMaxAge]] serving applies (so age ==
    * max_age is AGING, and serves PRESENT). A table with no
    * max_age has no staleness contract: everything reports FRESH. */
  def ftFreshnessOf(latest: DataFrame, keys: Seq[String], tsCol: String,
      nowCol: org.apache.spark.sql.Column, maxAgeSec: Option[Long]): DataFrame = {
    val aged = latest.withColumn("__now", nowCol)
      .withColumn("age_sec",
        expr(s"(unix_micros(__now) - unix_micros($tsCol)) div 1000000"))
    val status = maxAgeSec match {
      case Some(m) =>
        when(col("age_sec") * 4 < m, lit("FRESH"))
          .when(PointInTimeJoin.withinMaxAge(col(tsCol), col("__now"), m), lit("AGING"))
          .otherwise(lit("OUTSIDE_MAX_AGE"))
      case None => lit("FRESH")
    }
    aged.select(keys.map(col) ++ Seq(col("age_sec"), status.as("status")): _*)
      .orderBy(keys.map(col): _*)
  }

  val ftFreshnessSql: String =
    """WITH latest AS (
      |  SELECT user_id, max(ts) AS ts FROM events GROUP BY 1
      |), mx AS (SELECT max(ts) AS now_ts FROM events)
      |SELECT l.user_id,
      |  (epoch_us(m.now_ts) - epoch_us(l.ts)) // 1000000 AS age_sec,
      |  CASE WHEN (epoch_us(m.now_ts) - epoch_us(l.ts)) // 1000000 < 3600 THEN 'FRESH'
      |       WHEN epoch_us(m.now_ts) - epoch_us(l.ts) <= 14400000000 THEN 'AGING'
      |       ELSE 'OUTSIDE_MAX_AGE' END AS status
      |FROM latest l CROSS JOIN mx m ORDER BY l.user_id""".stripMargin

  /** Data-quality expectations end-to-end through the facade
    * (`FeatureStore.validateTable` over the RELOADED demo registry — the
    * ft_historical durability discipline): the four contract classes a
    * feature platform checks before promoting a table — null budget,
    * range contract, key uniqueness, staleness vs the REGISTERED max_age
    * — each one exact-integer row (check, feature, observed, threshold,
    * pass). The gate corpus exercises both branches: not_null/unique_key
    * pass, in_range (value ≤ 100 against a ~490 max) and freshness (a
    * pinned "now" 9 days past the most-stale key's latest row vs the 7-day
    * max_age) fail. Plan: one partial-aggregated fact pass for every
    * row-grain signal + one per-key latest pass for staleness; report
    * branches select from the localCheckpointed 1-row aggregate. */
  def ftExpectations(spark: SparkSession, dir: String): DataFrame = {
    import graft.model.Expectation._
    val fs = new graft.FeatureStore(demoRegistryReloaded(spark, dir), spark)
    fs.validateTable("user_activity", Seq(
        NotNull("value", maxNullBp = 0L),
        InRange("value", lo = 0.0, hi = 100.0, maxViolations = 0L),
        UniqueKey(maxDuplicates = 0L),
        Freshness(java.sql.Timestamp.valueOf("2024-02-06 00:00:00"))))
      .orderBy(col("check"), col("feature"))
  }

  val ftExpectationsSql: String =
    """WITH s AS (
      |  SELECT count(*) AS rows_n,
      |    count(DISTINCT (user_id, ts)) AS keys_n,
      |    sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS nulls_n,
      |    sum(CASE WHEN value IS NOT NULL AND (value < 0.0 OR value > 100.0)
      |        THEN 1 ELSE 0 END) AS viol_n
      |  FROM events
      |), w AS (
      |  SELECT min(mts) AS worst_ts FROM (
      |    SELECT user_id, max(ts) AS mts FROM events GROUP BY 1)
      |), r AS (
      |  SELECT 'not_null' AS chk, 'value' AS feature,
      |    CAST(nulls_n * 10000 // greatest(rows_n, 1) AS BIGINT) AS observed,
      |    CAST(0 AS BIGINT) AS threshold FROM s
      |  UNION ALL
      |  SELECT 'in_range', 'value', CAST(viol_n AS BIGINT),
      |    CAST(0 AS BIGINT) FROM s
      |  UNION ALL
      |  SELECT 'unique_key', 'user_id', CAST(rows_n - keys_n AS BIGINT),
      |    CAST(0 AS BIGINT) FROM s
      |  UNION ALL
      |  SELECT 'freshness', 'user_id',
      |    CAST((epoch_us(TIMESTAMP '2024-02-06 00:00:00') - epoch_us(worst_ts))
      |      // 1000000 AS BIGINT),
      |    CAST(604800 AS BIGINT) FROM w
      |)
      |SELECT chk AS "check", feature, observed, threshold,
      |  CASE WHEN threshold < 0 OR observed <= threshold THEN 1 ELSE 0 END AS pass
      |FROM r ORDER BY 1, 2""".stripMargin

  /** Online-store consistency audit end-to-end through the facade
    * (`FeatureStore.auditStore`): the "store" is a read-only view holding
    * the latest row per key over only the EVEN event_ids (a deterministic
    * stand-in for a store that missed half the ingest stream — the
    * serve_online view-store gate discipline), audited against the full
    * source: a key whose latest row happens to be even audits MATCH, an
    * odd-latest key STALE, an all-odd key MISSING — all three healthy
    * branches exercised by the gate corpus. Both sides dedup ties by
    * (ts, event_id) — the table registers event_id as its created-ts
    * column — so every status and both timestamps are deterministic and
    * the DuckDB oracle replays the whole reconciliation. */
  def storeAudit(spark: SparkSession, dir: String): DataFrame = {
    val r = new graft.model.Registry
    r.applyEntity(graft.model.Entity("user_id", graft.model.ValueKind.Int64K))
    r.applyTable(graft.model.FeatureTable(
      name = "user_activity_audit", entities = Seq("user_id"),
      features = Seq(graft.model.Feature("value", graft.model.ValueKind.DoubleK)),
      maxAgeSec = None, eventTsCol = "ts", createdTsCol = Some("event_id"),
      batchSourcePath = Some(s"$dir/events.parquet"),
      labels = Map("graft.ts_unit" -> "nanos")))
    val fs = new graft.FeatureStore(r, spark)
    val ev = Tables.events(spark, dir)
    val partial = latestEvent(ev.filter(pmod(col("event_id"), lit(2)) === 0))
    fs.auditStore("user_activity_audit", viewStore(partial), "2100-01-01 00:00:00")
  }

  val storeAuditSql: String =
    """WITH expected AS (
      |  SELECT user_id, ts, value FROM (
      |    SELECT user_id, ts, value,
      |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events) WHERE rn = 1
      |), served AS (
      |  SELECT user_id, ts, value FROM (
      |    SELECT user_id, ts, value,
      |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events WHERE event_id % 2 = 0) WHERE rn = 1
      |)
      |SELECT coalesce(e.user_id, s.user_id) AS user_id,
      |  e.ts AS expected_ts, s.ts AS served_ts,
      |  CASE WHEN s.user_id IS NULL THEN 'MISSING'
      |       WHEN e.user_id IS NULL THEN 'ORPHANED'
      |       WHEN s.ts < e.ts THEN 'STALE'
      |       WHEN s.ts > e.ts THEN 'AHEAD'
      |       WHEN e.value IS DISTINCT FROM s.value THEN 'DIVERGENT'
      |       ELSE 'MATCH' END AS status
      |FROM expected e FULL OUTER JOIN served s ON e.user_id = s.user_id
      |ORDER BY 1""".stripMargin

  /** Training-set label construction — the FORWARD-window complement of
    * the point-in-time feature join (features must come from BEFORE the
    * observation; labels from a bounded window AFTER it — the two halves
    * of leakage-free dataset assembly; reference: the historical-retrieval
    * semantics of serving/src/main/java/feast/serving keep features
    * backward-only, label windows are the pipeline side this build adds):
    * each `view` observation is labeled with whether the same user
    * purchased within the next 24 h ([ts, ts+24h], inclusive ends — the
    * as-of machinery attaches a same-instant purchase, documented), plus
    * the first qualifying purchase's ts / value / latency.
    *
    * Label columns are exact: label ∈ {0,1}, label_value_e4 integral by
    * the 2-dp money contract, secs_to_label a truncating µs→s DIV (both
    * engines toward zero on the nonnegative latency). Tiebreaks at an
    * equal purchase ts resolve to the max (event_id, value) struct in the
    * as-of window and to `max(event_id)` in the oracle, the
    * [[Analytics.eventsAttributionFirst]] convention.
    *
    * Plan: ONE user_id exchange — [[PointInTimeJoin.asofForward]]'s
    * union-sort — versus the oracle's range-join + per-observation
    * row_number explosion (a purchase-heavy user multiplies every view
    * against every purchase there; the union-sort form is linear in the
    * partition). */
  def ftLabelJoin(spark: SparkSession, dir: String): DataFrame =
    ftLabelJoinOf(Tables.events(spark, dir))

  def ftLabelJoinOf(ev: DataFrame): DataFrame = {
    val obs = ev.filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("pid"),
        round(col("value") * 10000).cast("long").as("value_e4"))
    PointInTimeJoin.asofForward(obs, purch,
        keys = Seq("user_id"), entityTs = "ts", featureTs = "ts",
        featureCols = Seq("pid", "value_e4"), maxAgeSec = Some(86400L),
        outPrefix = "label_")
      .select(col("event_id"), col("user_id"), col("ts"),
        when(col("label_ts").isNotNull, 1L).otherwise(0L).as("label"),
        col("label_ts"), col("label_value_e4"),
        expr("(unix_micros(label_ts) - unix_micros(ts)) DIV 1000000")
          .as("secs_to_label"))
      .orderBy(col("event_id"))
  }

  val ftLabelJoinSql: String =
    """WITH obs AS (
      |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'
      |), purch AS (
      |  SELECT user_id, ts, max(event_id) AS pid,
      |    max_by(CAST(round(value * 10000, 0) AS BIGINT), event_id) AS value_e4
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
      |), j AS (
      |  SELECT o.event_id, o.user_id, o.ts, p.ts AS label_ts, p.value_e4,
      |    row_number() OVER (PARTITION BY o.event_id
      |      ORDER BY p.ts ASC NULLS LAST) AS rn
      |  FROM obs o LEFT JOIN purch p
      |    ON p.user_id = o.user_id AND p.ts >= o.ts
      |   AND p.ts <= o.ts + INTERVAL 24 HOUR
      |)
      |SELECT event_id, user_id, ts,
      |  CAST(CASE WHEN label_ts IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS label,
      |  label_ts, value_e4 AS label_value_e4,
      |  CAST((epoch_us(label_ts) - epoch_us(ts)) // 1000000 AS BIGINT)
      |    AS secs_to_label
      |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin

  /** Conversion-latency distribution — [[ftLabelJoin]]'s aggregate
    * consumer (the label window is a modeling choice; THIS is the report
    * that justifies it: if 95% of conversions land inside 6 h, a 24 h
    * window only adds label noise): labeled views bucket by hour of
    * view→purchase latency (secs DIV 3600, exact), plus an unlabeled
    * bucket (-1) so the conversion rate is readable from the same table.
    * share_bp of total views per bucket, cumulative share over labeled
    * buckets — all truncating-DIV integers over the one union-sort
    * exchange the label join already pays; the histogram fold is
    * bucket-grain. */
  /** Preceding-window feature aggregate (r14d) — "activity in the hour
    * before each purchase": per purchase event, the COUNT and e4-integer
    * SUM of the same user's non-purchase events in [ts − 1h, ts) — the
    * standard sliding feature every fraud/propensity model starts from,
    * and a CROSS-STREAM op [[pitJoin]] (as-of latest) and the
    * q_range_frame single-stream window don't express.
    *
    * Spark-first shape: union-tag instead of an interval join — both
    * streams are one events scan, so tag rows (is_feat/v_e4 zeroed on the
    * entity stream), ONE exchange on user_id, and a conditional RANGE
    * frame over integer micros does the rest; the strictly-preceding
    * bound is the frame's −1 μs upper edge. The binned-interval-join
    * decomposition (explode each entity row to its 2 covering hour bins,
    * equi-join on (user, bin), refine) is the alternative when the
    * streams are separate tables of different grains — here it would pay
    * two exchanges plus the explode for nothing. Skew = per-user event
    * counts, the bounded-activity grain every events op shares. Sums ride
    * the round-PER-ELEMENT e4-integer discipline (cross-engine double
    * summation order never matters). */
  def ftWindowAgg(spark: SparkSession, dir: String): DataFrame =
    ftWindowAggOf(Tables.events(spark, dir))

  def ftWindowAggOf(ev: DataFrame): DataFrame = {
    val isFeat = col("event_type") =!= "purchase"
    val tagged = ev.select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
      col("event_type"), col("event_id"),
      when(isFeat, lit(1L)).otherwise(lit(0L)).as("is_feat"),
      when(isFeat, round(col("value") * 10000).cast("long"))
        .otherwise(lit(0L)).as("v_e4"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(-3600000000L, -1L)
    tagged
      .withColumn("n_prev", sum(col("is_feat")).over(w))
      .withColumn("sum_prev_e4", sum(col("v_e4")).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts_us"),
        coalesce(col("n_prev"), lit(0L)).as("n_prev"),
        coalesce(col("sum_prev_e4"), lit(0L)).as("sum_prev_e4"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val ftWindowAggSql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS ts_us, event_type, event_id,
      |    CAST(round(value * 10000) AS BIGINT) AS v_e4
      |  FROM events
      |), p AS (
      |  SELECT user_id, event_id, ts_us FROM e WHERE event_type = 'purchase'
      |), f AS (
      |  SELECT user_id, ts_us, v_e4 FROM e WHERE event_type <> 'purchase'
      |)
      |SELECT p.user_id, p.event_id, p.ts_us,
      |  CAST(count(f.ts_us) AS BIGINT) AS n_prev,
      |  CAST(coalesce(sum(f.v_e4), 0) AS BIGINT) AS sum_prev_e4
      |FROM p LEFT JOIN f ON f.user_id = p.user_id
      |  AND f.ts_us >= p.ts_us - 3600000000 AND f.ts_us < p.ts_us
      |GROUP BY p.user_id, p.event_id, p.ts_us
      |ORDER BY p.user_id, p.event_id""".stripMargin

  def ftTimeToConvert(spark: SparkSession, dir: String): DataFrame =
    ftTimeToConvertOf(Tables.events(spark, dir))

  def ftTimeToConvertOf(ev: DataFrame): DataFrame = {
    val labeled = ftLabelJoinOf(ev)
      .select(when(col("label") === 1L, expr("secs_to_label DIV 3600"))
        .otherwise(-1L).cast("long").as("bucket_h"))
    val counts = labeled.groupBy(col("bucket_h")).agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("n")).as("n_total"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("bucket_h"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, org.apache.spark.sql.expressions.Window.currentRow)
    counts.crossJoin(broadcast(tot))
      .withColumn("share_bp", expr("n * 10000 DIV n_total"))
      .withColumn("cum_labeled",
        sum(when(col("bucket_h") >= 0, col("n")).otherwise(0L)).over(w))
      .select(col("bucket_h"), col("n"), col("share_bp"), col("cum_labeled"))
      .orderBy(col("bucket_h"))
  }

  val ftTimeToConvertSql: String =
    """WITH obs AS (
      |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'
      |), purch AS (
      |  SELECT user_id, ts FROM events WHERE event_type = 'purchase'
      |), j AS (
      |  SELECT o.event_id,
      |    min(epoch_us(p.ts) - epoch_us(o.ts)) AS lat_us
      |  FROM obs o LEFT JOIN purch p
      |    ON p.user_id = o.user_id AND p.ts >= o.ts
      |   AND p.ts <= o.ts + INTERVAL 24 HOUR
      |  GROUP BY 1
      |), b AS (
      |  SELECT CASE WHEN lat_us IS NULL THEN -1
      |    ELSE (lat_us // 1000000) // 3600 END AS bucket_h,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM j GROUP BY 1
      |), t AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM b)
      |SELECT CAST(bucket_h AS BIGINT) AS bucket_h, n,
      |  CAST(n * 10000 // n_total AS BIGINT) AS share_bp,
      |  CAST(sum(CASE WHEN bucket_h >= 0 THEN n ELSE 0 END)
      |    OVER (ORDER BY bucket_h
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cum_labeled
      |FROM b CROSS JOIN t ORDER BY bucket_h""".stripMargin

  /** Registry schema-evolution diff — the change review an operator reads
    * before promoting a registry edit (the reference mutates its registry
    * through apply-RPCs with no diffable record; here the registry IS a
    * dataframe, so the diff is a full-outer join): per (project, table,
    * feature), ADDED / REMOVED / TYPE_CHANGED / MAX_AGE_CHANGED /
    * UNCHANGED, with old/new type and max_age side by side. Type changes
    * outrank max-age changes (a retype forces a backfill regardless of
    * TTL). The operator body takes ANY two registry dumps (prod
    * snapshots); the gate drives it with the demo registry vs an evolved
    * copy exercising every status. */
  def registryDiff(spark: SparkSession, dir: String): DataFrame =
    registryDiffOf(Registry.demo(dir).toDF(spark), demoEvolved(dir).toDF(spark))

  /** The store registered in history-v1 and carried unchanged through v2
    * (so only DELIBERATE edits surface as history rows). */
  private[graft] def demoStore: graft.model.StoreSpec =
    graft.model.StoreSpec("online_main", "redis",
      Map("host" -> "localhost:6379"),
      Seq(graft.model.Subscription("default", "*")))

  /** The demo registry one promotion later — the v2 snapshot both
    * registry_diff and registry_history drive with: a feature retype, a
    * feature removal, a feature addition, a TTL change, and an ENTITY
    * retype (c_custkey INT64 → STRING), exercising every diff status.
    * The ODFV and store ride along unchanged from v1 — registry_diff's
    * feature-grain oracle never sees them; registry_history's
    * family-grain diff must show NO rows for them at v2. */
  private[graft] def demoEvolved(dir: String): Registry = {
    val old = Registry.demo(dir)
    val r = new Registry
    r.applyEntity(graft.model.Entity("user_id", graft.model.ValueKind.Int64K))
    r.applyEntity(graft.model.Entity("c_custkey", graft.model.ValueKind.StringK))
    r.applyTable(old.getTable("user_activity").get.copy(
      features = Seq(
        graft.model.Feature("value", graft.model.ValueKind.DoubleK),
        graft.model.Feature("session_len", graft.model.ValueKind.Int64K)),
      maxAgeSec = Some(3L * 86400)))
    r.applyTable(old.getTable("customer_profile").get.copy(
      features = Seq(
        graft.model.Feature("c_acctbal", graft.model.ValueKind.FloatK),
        graft.model.Feature("c_mktsegment", graft.model.ValueKind.StringK))))
    r.applyOnDemandView(old.getOnDemandView("activity_derived").get)
    r.applyStore(demoStore)
    r
  }

  /** v3: the customer_profile table is dropped outright,
    * user_activity.value is retyped, the ODFV's value_x2 expression
    * changes, and the store's subscriptions narrow — the
    * table-retirement + ODFV/store-edit promotion the history view must
    * attribute, composing with v2's field edits. */
  private[graft] def demoEvolvedV3(dir: String): Registry = {
    val v2 = demoEvolved(dir)
    val r = new Registry
    r.applyEntity(graft.model.Entity("user_id", graft.model.ValueKind.Int64K))
    r.applyEntity(graft.model.Entity("c_custkey", graft.model.ValueKind.StringK))
    r.applyTable(v2.getTable("user_activity").get.copy(
      features = Seq(
        graft.model.Feature("value", graft.model.ValueKind.FloatK),
        graft.model.Feature("session_len", graft.model.ValueKind.Int64K))))
    r.applyOnDemandView(graft.model.OnDemandView(
      name = "activity_derived",
      inputs = Seq(graft.model.FeatureRef("user_activity", "value")),
      features = Seq(
        graft.model.OnDemandFeature("value_x2", "round(user_activity__value * 3, 4)"),
        graft.model.OnDemandFeature("is_high", "user_activity__value > 50"))))
    r.applyStore(demoStore.copy(
      subscriptions = Seq(graft.model.Subscription("default", "user_activity"))))
    r
  }

  def registryDiffOf(oldDf: DataFrame, newDf: DataFrame): DataFrame = {
    val keys = Seq("project", "table_name", "feature")
    val o = oldDf.select(keys.map(col) :+ col("value_type").as("old_type")
      :+ col("max_age_sec").as("old_max_age"): _*)
    val n = newDf.select(keys.map(col) :+ col("value_type").as("new_type")
      :+ col("max_age_sec").as("new_max_age"): _*)
    o.join(n, keys, "full_outer")
      .withColumn("status",
        when(col("old_type").isNull, lit("ADDED"))
          .when(col("new_type").isNull, lit("REMOVED"))
          .when(col("old_type") =!= col("new_type"), lit("TYPE_CHANGED"))
          // null-safe: a None↔Some max-age change must not read as
          // UNCHANGED when one side's dump carries a null max_age_sec
          .when(!(col("old_max_age") <=> col("new_max_age")), lit("MAX_AGE_CHANGED"))
          .otherwise(lit("UNCHANGED")))
      .select(col("project"), col("table_name"), col("feature"), col("status"),
        col("old_type"), col("new_type"), col("old_max_age"), col("new_max_age"))
      .orderBy(col("project"), col("table_name"), col("feature"))
  }

  val registryDiffSql: String =
    """SELECT * FROM (VALUES
      |  ('default', 'customer_profile', 'c_acctbal', 'TYPE_CHANGED',
      |   'DOUBLE', 'FLOAT', CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
      |  ('default', 'customer_profile', 'c_mktsegment', 'UNCHANGED',
      |   'STRING', 'STRING', CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
      |  ('default', 'user_activity', 'event_type', 'REMOVED',
      |   'STRING', NULL, CAST(604800 AS BIGINT), CAST(NULL AS BIGINT)),
      |  ('default', 'user_activity', 'session_len', 'ADDED',
      |   NULL, 'INT64', CAST(NULL AS BIGINT), CAST(259200 AS BIGINT)),
      |  ('default', 'user_activity', 'value', 'MAX_AGE_CHANGED',
      |   'DOUBLE', 'DOUBLE', CAST(604800 AS BIGINT), CAST(259200 AS BIGINT))
      |) AS t(project, table_name, feature, status, old_type, new_type,
      |       old_max_age, new_max_age)
      |ORDER BY project, table_name, feature""".stripMargin

  /** Registry modification history — who changed what, when, across
    * SUCCESSIVE SAVED registry dumps (the reference's JPA layer stamps
    * created/updated per object via
    * core/src/main/java/feast/core/model/AbstractTimestampEntity.java but
    * keeps no diffable record of WHAT changed; here the registry IS data,
    * so history = consecutive [[registryDiffOf]]s over persisted
    * snapshots, each attributed to the version + author that promoted
    * it). "When" is the monotone version number — the deterministic stand-
    * in for the JPA timestamp (a wall clock would break replay and the
    * oracle). Every version is driven THROUGH Registry.save/load (the
    * demoRegistryReloaded discipline), so the gate proves persisted dumps
    * carry enough to reconstruct the change log, not just in-memory maps.
    *
    * Scale: registries are entity-domain metadata (rows = tables ×
    * features); the diff is a full-outer join per consecutive pair —
    * nothing corpus-sized anywhere. */
  private val historyRegistryCache = scala.collection.concurrent.TrieMap
    .empty[String, Seq[(Long, String, Registry)]]
  private[graft] def demoHistoryReloaded(spark: SparkSession, dir: String)
      : Seq[(Long, String, Registry)] =
    historyRegistryCache.getOrElseUpdate(dir, {
      val base = sys.props("java.io.tmpdir") + "/graft_registry_history/" +
        dir.replaceAll("[^A-Za-z0-9._]", "_")
      val v1 = { val r = Registry.demo(dir); r.applyStore(demoStore); r }
      val versions = Seq(
        (1L, "alice", v1),
        (2L, "bob", demoEvolved(dir)),
        (3L, "carol", demoEvolvedV3(dir)))
      versions.map { case (v, author, r) =>
        Registry.save(r, spark, s"$base/v$v")
        (v, author, Registry.load(spark, s"$base/v$v"))
      }
    })

  /** Member-grain dump of EVERY registry object family — the row basis of
    * the family-aware history diff (reference: the JPA layer stamps every
    * object family via AbstractTimestampEntity.java, so a history view
    * limited to feature rows would miss the entity/store/ODFV edits the
    * reference's audit columns cover):
    *  - FEATURE: (project, table, feature) → value type + table max-age
    *  - ENTITY:  (project, entity, "value_type") → the entity's type
    *  - ODFV:    (project, view, od-feature) → the SQL expression
    *  - STORE:   ("global", store, "config") → type|cfg|subscriptions
    *    (stores are not project-scoped; config keys render sorted so the
    *    def string is construction-order-independent)
    * Registries are entity-domain metadata: rows = tables×features +
    * entities + views×features + stores — driver-side Seq, never
    * corpus-sized. */
  private[graft] def registryMembersDF(spark: SparkSession,
      r: Registry): DataFrame = {
    import spark.implicits._
    val projects = r.listAllProjects.map(_.name)
    val feats = projects.flatMap { p =>
      r.listTables(p).flatMap { t =>
        t.features.map(f => ("FEATURE", p, t.name, f.name, f.valueType.name,
          java.lang.Long.valueOf(t.maxAgeSec.getOrElse(0L))))
      }
    }
    val ents = projects.flatMap { p =>
      r.listEntities(p).map(e => ("ENTITY", p, e.name, "value_type",
        e.valueType.name, null: java.lang.Long))
    }
    val views = projects.flatMap { p =>
      r.listOnDemandViews(p).flatMap { v =>
        v.features.map(f => ("ODFV", p, v.name, f.name, f.sqlExpr,
          null: java.lang.Long))
      }
    }
    val stores = r.listStores.map { s =>
      val cfg = s.config.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }
        .mkString(",")
      ("STORE", "global", s.name, "config",
        s"${s.storeType}|cfg=$cfg|subs=${s.subscriptions.map(_.render).mkString(";")}",
        null: java.lang.Long)
    }
    (feats ++ ents ++ views ++ stores)
      .toDF("family", "project", "object_name", "member", "def", "max_age_sec")
  }

  /** Family-aware history diff between two member-grain dumps: ADDED /
    * REMOVED on presence; a def change is TYPE_CHANGED for the FEATURE
    * family (type outranks TTL, as in [[registryDiffOf]]) and CHANGED for
    * the others (entity retype, ODFV expression edit, store re-config);
    * MAX_AGE_CHANGED only ever fires for features (other families carry
    * null max-age on both sides, and null <=> null is true). */
  private[graft] def registryHistoryDiffOf(oldDf: DataFrame,
      newDf: DataFrame): DataFrame = {
    val keys = Seq("family", "project", "object_name", "member")
    val o = oldDf.select(keys.map(col) :+ col("def").as("old_def")
      :+ col("max_age_sec").as("old_max_age"): _*)
    val n = newDf.select(keys.map(col) :+ col("def").as("new_def")
      :+ col("max_age_sec").as("new_max_age"): _*)
    o.join(n, keys, "full_outer")
      .withColumn("status",
        when(col("old_def").isNull, lit("ADDED"))
          .when(col("new_def").isNull, lit("REMOVED"))
          .when(col("old_def") =!= col("new_def"),
            when(col("family") === "FEATURE", lit("TYPE_CHANGED"))
              .otherwise(lit("CHANGED")))
          .when(!(col("old_max_age") <=> col("new_max_age")),
            lit("MAX_AGE_CHANGED"))
          .otherwise(lit("UNCHANGED")))
      .select(col("family"), col("project"), col("object_name"), col("member"),
        col("status"), col("old_def"), col("new_def"), col("old_max_age"),
        col("new_max_age"))
  }

  def registryHistory(spark: SparkSession, dir: String): DataFrame = {
    val versions = demoHistoryReloaded(spark, dir)
    versions.sliding(2).map { pair =>
      val (_, _, prev) = pair.head
      val (v, author, next) = pair(1)
      registryHistoryDiffOf(
          registryMembersDF(spark, prev), registryMembersDF(spark, next))
        .filter(col("status") =!= "UNCHANGED")
        .select(lit(v).as("version"), lit(author).as("author"), col("family"),
          col("project"), col("object_name"), col("member"), col("status"),
          col("old_def"), col("new_def"), col("old_max_age"),
          col("new_max_age"))
    }.reduce(_.unionByName(_))
      .orderBy(col("version"), col("family"), col("project"),
        col("object_name"), col("member"))
  }

  val registryHistorySql: String =
    """SELECT * FROM (VALUES
      |  (CAST(2 AS BIGINT), 'bob', 'ENTITY', 'default', 'c_custkey', 'value_type',
      |   'CHANGED', 'INT64', 'STRING', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)),
      |  (CAST(2 AS BIGINT), 'bob', 'FEATURE', 'default', 'customer_profile', 'c_acctbal',
      |   'TYPE_CHANGED', 'DOUBLE', 'FLOAT', CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
      |  (CAST(2 AS BIGINT), 'bob', 'FEATURE', 'default', 'user_activity', 'event_type',
      |   'REMOVED', 'STRING', NULL, CAST(604800 AS BIGINT), CAST(NULL AS BIGINT)),
      |  (CAST(2 AS BIGINT), 'bob', 'FEATURE', 'default', 'user_activity', 'session_len',
      |   'ADDED', NULL, 'INT64', CAST(NULL AS BIGINT), CAST(259200 AS BIGINT)),
      |  (CAST(2 AS BIGINT), 'bob', 'FEATURE', 'default', 'user_activity', 'value',
      |   'MAX_AGE_CHANGED', 'DOUBLE', 'DOUBLE', CAST(604800 AS BIGINT), CAST(259200 AS BIGINT)),
      |  (CAST(3 AS BIGINT), 'carol', 'FEATURE', 'default', 'customer_profile', 'c_acctbal',
      |   'REMOVED', 'FLOAT', NULL, CAST(0 AS BIGINT), CAST(NULL AS BIGINT)),
      |  (CAST(3 AS BIGINT), 'carol', 'FEATURE', 'default', 'customer_profile', 'c_mktsegment',
      |   'REMOVED', 'STRING', NULL, CAST(0 AS BIGINT), CAST(NULL AS BIGINT)),
      |  (CAST(3 AS BIGINT), 'carol', 'FEATURE', 'default', 'user_activity', 'value',
      |   'TYPE_CHANGED', 'DOUBLE', 'FLOAT', CAST(259200 AS BIGINT), CAST(259200 AS BIGINT)),
      |  (CAST(3 AS BIGINT), 'carol', 'ODFV', 'default', 'activity_derived', 'value_x2',
      |   'CHANGED', 'round(user_activity__value * 2, 4)',
      |   'round(user_activity__value * 3, 4)', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)),
      |  (CAST(3 AS BIGINT), 'carol', 'STORE', 'global', 'online_main', 'config',
      |   'CHANGED', 'redis|cfg=host=localhost:6379|subs=default:*:false',
      |   'redis|cfg=host=localhost:6379|subs=default:user_activity:false',
      |   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT))
      |) AS t(version, author, family, project, object_name, member, status,
      |       old_def, new_def, old_max_age, new_max_age)
      |ORDER BY version, family, project, object_name, member""".stripMargin

  /** Daily feature-snapshot backfill — the offline-store materialization
    * feast-era batch jobs run nightly (reference: the 0.9 batch ingestion
    * path materializes latest-per-key per window; this is that op over a
    * RANGE of windows at once): for every (user, day) grid point, the
    * latest feature row as of that day's END, plus its age in days —
    * the table a training pipeline reads when it wants features "as of
    * midnight" without running the as-of join per query. Days before a
    * user's first event emit no row (the user didn't exist yet); after,
    * values carry forward.
    *
    * Plan: the grid is users × the corpus day span (entity-domain ×
    * calendar — the SNAPSHOT's size, not an implementation artifact), and
    * the whole backfill is ONE [[PointInTimeJoin.asof]] union-sort
    * exchange on user_id: grid markers and events co-sort, each marker
    * takes the running latest — never a per-day scan or a range join
    * (the oracle's form: grid × events row_number explosion). */
  def ftDailySnapshot(spark: SparkSession, dir: String): DataFrame =
    ftDailySnapshotOf(Tables.events(spark, dir))

  def ftDailySnapshotOf(ev: DataFrame): DataFrame =
    ftDailySnapshotGeneric(
      ev.filter(col("event_type") =!= "purchase")
        .select(col("user_id"), col("ts"),
          round(col("value") * 10000).cast("long").as("value_e4")),
      keys = Seq("user_id"), tsCol = "ts", valueCols = Seq("value_e4"))
      .orderBy(col("user_id"), col("day"))

  /** Generalized snapshot form over any keyed, timestamped frame — the
    * registry-driven facade path (`FeatureStore.getDailySnapshots`) calls
    * this with a table's declared entities / event-ts / typed features.
    * Equal-ts ingest ties resolve to the greatest value struct (the asof
    * tiebreak; the gate's oracle mirrors it with max()). Output: keys,
    * day, valueCols, value_ts, age_days. */
  def ftDailySnapshotGeneric(df: DataFrame, keys: Seq[String], tsCol: String,
      valueCols: Seq[String]): DataFrame = {
    val span = df.agg(
      floor(unix_micros(min(col(tsCol))) / lit(86400000000L)).cast("long").as("d0"),
      floor(unix_micros(max(col(tsCol))) / lit(86400000000L)).cast("long").as("d1"))
    val grid = df.select(keys.map(col): _*).distinct()
      .crossJoin(broadcast(span))
      .select(keys.map(col) :+ explode(sequence(col("d0"), col("d1"))).as("day"): _*)
      // snapshot instant = day end (exclusive): last µs of the day
      .withColumn("snap_ts",
        timestamp_micros((col("day") + 1) * lit(86400000000L) - 1))
    PointInTimeJoin.asof(grid, df,
        keys = keys, entityTs = "snap_ts", featureTs = tsCol,
        featureCols = valueCols, maxAgeSec = None, outPrefix = "f_")
      .filter(col("f_ts").isNotNull) // not-yet-existing keys emit nothing
      .select(keys.map(col) ++ Seq(col("day")) ++
        valueCols.map(c => col(s"f_$c").as(c)) ++ Seq(
          col("f_ts").as("value_ts"),
          (col("day") - floor(unix_micros(col("f_ts")) / lit(86400000000L))
            .cast("long")).as("age_days")): _*)
  }

  val ftDailySnapshotSql: String =
    """WITH feats AS (
      |  SELECT user_id, ts, max(CAST(round(value * 10000, 0) AS BIGINT)) AS value_e4
      |  FROM events WHERE event_type <> 'purchase' GROUP BY 1, 2
      |), span AS (
      |  SELECT CAST(epoch_us(min(ts)) // 86400000000 AS BIGINT) AS d0,
      |         CAST(epoch_us(max(ts)) // 86400000000 AS BIGINT) AS d1
      |  FROM feats
      |), grid AS (
      |  SELECT u.user_id, g.day FROM
      |    (SELECT DISTINCT user_id FROM feats) u,
      |    (SELECT unnest(range(d0, d1 + 1)) AS day FROM span) g
      |), j AS (
      |  SELECT g.user_id, g.day, f.value_e4, f.ts,
      |    row_number() OVER (PARTITION BY g.user_id, g.day
      |      ORDER BY f.ts DESC) AS rn
      |  FROM grid g JOIN feats f
      |    ON f.user_id = g.user_id
      |   AND epoch_us(f.ts) <= (g.day + 1) * 86400000000 - 1
      |)
      |SELECT user_id, day, value_e4, ts AS value_ts,
      |  CAST(day - epoch_us(ts) // 86400000000 AS BIGINT) AS age_days
      |FROM j WHERE rn = 1 ORDER BY user_id, day""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ft_daily_snapshot"  -> (ftDailySnapshot _),
    "registry_diff"      -> (registryDiff _),
    "registry_history"   -> (registryHistory _),
    "ft_time_to_convert" -> (ftTimeToConvert _),
    "ft_window_agg"      -> (ftWindowAgg _),
    "ft_label_join"   -> (ftLabelJoin _),
    "store_audit"     -> (storeAudit _),
    "ft_expectations" -> (ftExpectations _),
    "ft_freshness"    -> (ftFreshness _),
    "ft_latest"       -> (ftLatest _),
    "ft_latest_range" -> (ftLatestRange _),
    "ft_ingest_dedup" -> (ftIngestDedup _),
    "ft_timeline"     -> (ftTimeline _),
    "pit_join"        -> (pitJoin _),
    "pit_join_maxage" -> (pitJoinMaxage _),
    "pit_join_forward" -> (pitJoinForward _),
    "pit_join_nearest" -> (pitJoinNearest _),
    "pit_join_multi"  -> (pitJoinMulti _),
    "pit_join_composite" -> (pitJoinComposite _),
    "serve_online"    -> (serveOnline _),
    "serve_online_odfv" -> (serveOnlineOdfv _),
    "ft_stats"        -> (ftStats _),
    "ft_drift"        -> (ftDrift _),
    "ft_historical"   -> (ftHistorical _),
    "ft_odfv"         -> (ftOdfv _),
    "registry_dump"   -> (registryDump _))

  val oracle: Map[String, String] = Map(
    "ft_daily_snapshot"  -> ftDailySnapshotSql,
    "registry_diff"      -> registryDiffSql,
    "registry_history"   -> registryHistorySql,
    "ft_time_to_convert" -> ftTimeToConvertSql,
    "ft_window_agg"      -> ftWindowAggSql,
    "ft_label_join"   -> ftLabelJoinSql,
    "store_audit"     -> storeAuditSql,
    "ft_expectations" -> ftExpectationsSql,
    "ft_freshness"    -> ftFreshnessSql,
    "ft_latest"       -> ftLatestSql,
    "ft_latest_range" -> ftLatestRangeSql,
    "ft_ingest_dedup" -> ftIngestDedupSql,
    "ft_timeline"     -> ftTimelineSql,
    "pit_join"        -> pitJoinSql,
    "pit_join_maxage" -> pitJoinMaxageSql,
    "pit_join_forward" -> pitJoinForwardSql,
    "pit_join_nearest" -> pitJoinNearestSql,
    "pit_join_multi"  -> pitJoinMultiSql,
    "pit_join_composite" -> pitJoinCompositeSql,
    "serve_online"    -> serveOnlineSql,
    "serve_online_odfv" -> serveOnlineOdfvSql,
    "ft_stats"        -> ftStatsSql,
    "ft_drift"        -> ftDriftSql,
    "ft_historical"   -> ftHistoricalSql,
    "ft_odfv"         -> ftOdfvSql,
    "registry_dump"   -> registryDumpSql)
}
