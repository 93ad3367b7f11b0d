package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import graft.model.{FeatureRef, FeatureTable, OnDemandFeature, OnDemandView, Project, Registry}
import graft.operators.{LatestValue, PointInTimeJoin}
import graft.serving.{OnlineStore, ParquetOnlineStore}
import graft.sources.BatchSource

/** The user-facing API: the reference's three core operations on one object
  * (reference: serving ServingServiceV2 + Feast 0.9 batch jobs):
  *
  *  - [[getHistoricalFeatures]] — point-in-time-correct training retrieval;
  *  - [[materialize]] — batch window → online store upsert;
  *  - [[getOnlineFeatures]] — latest values + per-field statuses
  *    (PRESENT / NULL_VALUE / OUTSIDE_MAX_AGE / NOT_FOUND, mirroring
  *    OnlineServingServiceV2.getMetadata / checkOutsideMaxAge).
  *
  * Output feature columns are named `table__feature` (the reference's
  * `table:feature` refs with `:` → `__` for column-name safety).
  *
  * All registry lookups and online-store keys are scoped by `project`
  * (reference: Project.java; RedisKeyGenerator.java builds every online key
  * as project + entity names + entity values).
  */
object FeatureStore {
  /** As-of direction for [[FeatureStore.getHistoricalFeatures]]. */
  sealed trait AsofMode
  case object Backward extends AsofMode
  case object Forward extends AsofMode
  case object Nearest extends AsofMode

  /** Open a store over a PERSISTED registry (the durability path — the
    * reference's registry lives behind JPA; here it round-trips through
    * [[graft.model.Registry.save]]/load as engine-native datasets). A
    * loaded store is interchangeable with one over the live registry:
    * the round-trip is field-level lossless (RegistrySpec), and the
    * ft_historical gate runs against a reloaded registry every round. */
  def load(spark: SparkSession, registryDir: String,
           project: String = Project.Default): FeatureStore =
    new FeatureStore(Registry.load(spark, registryDir), spark, project)

  /** A store write: (rows, store keys, latest-wins order, value columns). */
  private type Write = (DataFrame, Seq[String], Seq[String], Seq[String]) => Unit

  /** Refs split into table refs and the on-demand views they name (each
    * with its requested derived features). */
  private final case class Resolved(tableRefs: Seq[FeatureRef],
                                    views: Seq[(OnDemandView, Seq[OnDemandFeature])]) {
    val inputRefs: Seq[FeatureRef] = views.flatMap(_._1.inputs).distinct
    /** Inputs pulled in only for derivation (dropped from the response). */
    val helperRefs: Seq[FeatureRef] = inputRefs.filterNot(tableRefs.contains)
    val fetchRefs: Seq[FeatureRef] = (tableRefs ++ helperRefs).distinct
  }

  /** A feature source's hash-partitioned rows ([[FeatureStore.layout]]),
    * with the source listing and table definition they were built from. */
  private final case class Layout(listing: String, table: FeatureTable, rows: DataFrame,
                                  partitions: Int) {
    /** Entities + event-ts + the requested typed features: the as-of side. */
    def features(names: Seq[String]): DataFrame = {
      requireDeclared(table, names)
      rows.select((table.entities ++ (table.eventTsCol +: names)).map(col): _*)
    }

    /** `entity` hash-partitioned like these rows when its key columns have
      * their types, so an as-of pass against them shuffles only the entity
      * rows. Keys of another type are left as they are: the union coerces
      * them, and the pass shuffles both sides. */
    def align(entity: DataFrame): DataFrame = {
      val keys = table.entities
      val sameTypes = keys.forall(k =>
        entity.schema.fields.find(_.name == k).exists(_.dataType == rows.schema(k).dataType))
      if (sameTypes) entity.repartition(partitions, keys.map(col): _*) else entity
    }
  }

  /** Unknown feature names fail fast with the reference's error shape
    * instead of a Spark analysis error. */
  private def requireDeclared(t: FeatureTable, featureNames: Seq[String]): Unit = {
    val unknown = featureNames.filterNot(t.features.map(_.name).contains)
    require(unknown.isEmpty,
      s"Feature(s) ${unknown.mkString(", ")} not found in table ${t.name}")
  }

  /** The live layouts: at most one per source path, because the sessions of
    * one Spark context share one cache manager. */
  private val layouts = scala.collection.mutable.Map.empty[String, Layout]
}

final class FeatureStore(val registry: Registry, spark: SparkSession,
                         val project: String = Project.Default) {

  /** Persist this store's registry — the inverse of [[FeatureStore.load]]. */
  def saveRegistry(registryDir: String): Unit =
    Registry.save(registry, spark, registryDir)

  /** Online-store key column carrying the project namespace (the Spark
    * analog of RedisKeyV2.project). */
  private val ProjectCol = "__project"

  private def table(name: String): FeatureTable =
    registry.getTable(name, project).getOrElse(
      throw new IllegalArgumentException(s"unknown feature table: $name (project $project)"))

  private def sourceOf(t: FeatureTable): BatchSource = {
    val path = t.batchSourcePath.getOrElse(
      throw new IllegalArgumentException(s"table ${t.name} has no batch source"))
    val fmt =
      if (path.endsWith(".csv")) "csv"
      else if (path.endsWith(".json")) "json"
      else if (path.endsWith(".orc")) "orc"
      else if (path.endsWith(".avro")) "avro"
      else "parquet"
    BatchSource(path, fmt, eventTsCol = t.eventTsCol, createdTsCol = t.createdTsCol,
      eventTsUnit = t.labels.getOrElse("graft.ts_unit", "micros"))
  }

  /** Load a table's source, projecting `leadCols` + the requested
    * features, CAST to their registry-declared value types (reference:
    * feature values are typed by the Value proto, not by whatever the
    * source file happens to contain). */
  private def readTyped(t: FeatureTable, leadCols: Seq[String],
                        featureNames: Seq[String]): DataFrame = {
    FeatureStore.requireDeclared(t, featureNames)
    typed(t, BatchSource.read(spark, sourceOf(t)), leadCols, featureNames)
  }

  private def typed(t: FeatureTable, raw: DataFrame, leadCols: Seq[String],
                    featureNames: Seq[String]): DataFrame = {
    val declared = t.features.map(f => f.name -> f).toMap
    raw.select(leadCols.map(col) ++
      featureNames.map(n => col(n).cast(declared(n).valueType.sparkType).as(n)): _*)
  }

  /** The as-of side of `t`: its source's entities, event time and every
    * declared feature the source holds, typed, hash-partitioned by the
    * entities into `spark.sql.shuffle.partitions` parts and persisted
    * (memory, then disk). One layout is built per source version — the
    * source listing (part names, sizes, mtimes) plus the table definition —
    * and reused by every retrieval (of this session) until that version
    * changes. The old layout is unpersisted before its successor is built:
    * the cache manager matches plans by result, and a rewritten source
    * reads as the same plan, so the successor would serve the old rows. A
    * retrieval that partitions its entity rows the same way
    * ([[FeatureStore.Layout.align]]) shuffles only those. */
  private def layout(t: FeatureTable): FeatureStore.Layout = {
    val path = sourceOf(t).path
    val listing = graft.serving.StorePaths.tableFingerprint(spark, Seq(path))
    FeatureStore.layouts.synchronized {
      FeatureStore.layouts.get(path)
        .filter(l => l.listing == listing && l.table == t && (l.rows.sparkSession eq spark))
        .getOrElse {
          FeatureStore.layouts.remove(path).foreach(_.rows.unpersist())
          val raw = BatchSource.read(spark, sourceOf(t))
          val held = t.features.map(_.name)
            .filter(n => raw.columns.exists(_.equalsIgnoreCase(n)))
          val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
          val rows = typed(t, raw, t.entities :+ t.eventTsCol, held)
            .repartition(n, t.entities.map(col): _*)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val built = FeatureStore.Layout(listing, t, rows, n)
          FeatureStore.layouts(path) = built
          built
        }
    }
  }

  /** Latest-wins order of a table's rows: event time, then created time. */
  private def latestOrder(t: FeatureTable): Seq[String] = t.eventTsCol +: t.createdTsCol.toSeq

  /** Latest row per entity key, carrying `valueCols`. */
  private def latestPerKey(t: FeatureTable, rows: DataFrame, valueCols: Seq[String]): DataFrame =
    LatestValue.latest(rows, keys = t.entities, orderCols = latestOrder(t), valueCols = valueCols)

  /** On-demand-view resolution shared by historical and online retrieval:
    * refs naming a registered view are split off (unknown view features
    * fail fast), and the view inputs are retrieved beside the table refs. */
  private def resolveOnDemand(refs: Seq[FeatureRef]): FeatureStore.Resolved = {
    val (odfvRefs, tableRefs) =
      refs.partition(r => registry.getOnDemandView(r.table, project).isDefined)
    val views = odfvRefs.map(_.table).distinct.map { n =>
      val v = registry.getOnDemandView(n, project).get
      val wanted = odfvRefs.filter(_.table == n).map(_.feature)
      val unknown = wanted.filterNot(v.features.map(_.name).toSet)
      require(unknown.isEmpty,
        s"Feature(s) ${unknown.mkString(", ")} not found in on-demand view ${v.name}")
      v -> v.features.filter(f => wanted.contains(f.name))
    }
    FeatureStore.Resolved(tableRefs, views)
  }

  /** Point-in-time join every requested feature onto the entity dataframe.
    * One as-of pass per distinct feature table (nearest = two chained
    * passes), each against the table's persisted [[layout]]: the entity
    * rows are hash-partitioned like it, so the first pass shuffles only
    * them and a later pass on the same keys shuffles nothing. The layout is
    * built by the first call that reads a source version.
    *
    * `asofMode` picks the join direction per call: Backward (default — the
    * reference's training-retrieval semantics), Forward (earliest feature
    * ≥ entity ts: "what happened next" labeling), Nearest (closer of the
    * two, ties backward). The table's registered max_age bounds the
    * distance in every mode. */
  def getHistoricalFeatures(entityDf: DataFrame, entityTsCol: String,
                            refs: Seq[FeatureRef],
                            asofMode: FeatureStore.AsofMode = FeatureStore.Backward)
      : DataFrame = {
    // a ref naming an on-demand view derives AFTER the as-of joins (the
    // same transparent-input contract as the online path; historical rows
    // carry no __status — unmatched inputs are nulls and propagate)
    val od = resolveOnDemand(refs)
    val joined = joinHistorical(entityDf, entityTsCol, od.fetchRefs, asofMode)
    val derived = od.views.foldLeft(joined) { case (df, (v, feats)) =>
      feats.foldLeft(df)((d, f) => d.withColumn(s"${v.name}__${f.name}", expr(f.sqlExpr)))
    }
    val helperCols = od.helperRefs.map(h => s"${h.table}__${h.feature}") ++
      od.inputRefs.map(_.table).distinct // matched-ts col of input-only tables
        .filterNot(t => od.tableRefs.exists(_.table == t)).map(t => s"${t}__ts")
    derived.drop(helperCols: _*)
  }

  /** Leakage-free training-set assembly — the registry-driven composition
    * of the two halves of dataset building: point-in-time-correct FEATURES
    * (backward as-of with each table's max_age, exactly
    * [[getHistoricalFeatures]]) plus a bounded FORWARD-window LABEL from a
    * registered table (did any `labelRef` row land within
    * [ts, ts+labelWindowSec], inclusive ends — the `ft_label_join`
    * semantics, with the label table's entities/event-ts/typing resolved
    * from the registry instead of hand-wired). Appends the first
    * qualifying label row's value as `table__label_<feature>`, its
    * timestamp as `table__label_ts`, and a 0/1 `label`. All label columns
    * carry the `__label_` prefix so a table may serve as BOTH feature and
    * label source (past purchases as feature, future purchase as label)
    * without colliding with the `table__<feature>`/`table__ts` names
    * [[getHistoricalFeatures]] already emitted. Plan: one more union-sort
    * pass on top of the feature joins, against the label table's
    * [[layout]] — when its entities are the feature tables' it adds no
    * exchange, and the label side never range-joins. */
  def getTrainingSet(entityDf: DataFrame, entityTsCol: String,
                     refs: Seq[FeatureRef], labelRef: FeatureRef,
                     labelWindowSec: Long): DataFrame = {
    val withFeats = getHistoricalFeatures(entityDf, entityTsCol, refs)
    val t = table(labelRef.table)
    val label = layout(t)
    val pfx = s"${labelRef.table}__label_"
    PointInTimeJoin.asofForward(
        label.align(withFeats), label.features(Seq(labelRef.feature)),
        keys = t.entities, entityTs = entityTsCol,
        featureTs = t.eventTsCol, featureCols = Seq(labelRef.feature),
        maxAgeSec = Some(labelWindowSec), outPrefix = pfx)
      .withColumn("label", when(col(s"${pfx}ts").isNotNull, 1L).otherwise(0L))
  }

  private def joinHistorical(entityDf: DataFrame, entityTsCol: String,
                             refs: Seq[FeatureRef],
                             asofMode: FeatureStore.AsofMode): DataFrame =
    refs.groupBy(_.table).toSeq.sortBy(_._1).foldLeft(entityDf) {
      case (acc, (tname, trefs)) =>
        val t = table(tname)
        val featureNames = trefs.map(_.feature)
        val join = asofMode match {
          case FeatureStore.Backward => PointInTimeJoin.asof _
          case FeatureStore.Forward => PointInTimeJoin.asofForward _
          case FeatureStore.Nearest => PointInTimeJoin.asofNearest _
        }
        val l = layout(t)
        join(l.align(acc), l.features(featureNames), t.entities, entityTsCol,
          t.eventTsCol, featureNames, t.maxAgeSec, s"${tname}__")
    }

  /** Apply an on-demand view's derived features to a retrieval result (the
    * reference computes these at serving time from retrieved features +
    * request data; here each is a Catalyst SQL expression, so derived
    * features stay inside codegen and work identically for historical and
    * online retrieval). Output columns are named `view__feature`. */
  def applyOnDemand(retrieved: DataFrame, viewName: String): DataFrame = {
    val v = registry.getOnDemandView(viewName, project).getOrElse(
      throw new IllegalArgumentException(s"unknown on-demand view: $viewName"))
    val missing = v.inputs.map(r => s"${r.table}__${r.feature}")
      .filterNot(retrieved.columns.contains)
    require(missing.isEmpty,
      s"on-demand view $viewName needs input columns: ${missing.mkString(",")}")
    v.features.foldLeft(retrieved) { (df, f) =>
      df.withColumn(s"${v.name}__${f.name}", expr(f.sqlExpr))
    }
  }

  /** SCD2-style validity-interval timeline of a registered table: every
    * ingested value of the requested features, valid [event_ts, next
    * event_ts) per entity key with an open `valid_to` on the current
    * value — the registry-driven form of the `ft_timeline` audit/backfill
    * pass (same single-exchange plan; dedup within (entities, event_ts)
    * keeps the greatest created_ts when the table declares one). Output:
    * entities, valid_from, valid_to, features (registry-typed). */
  def getFeatureTimeline(tableName: String, featureNames: Seq[String]): DataFrame = {
    val t = table(tableName)
    val raw = readTyped(t, t.entities ++ latestOrder(t), featureNames)
    graft.operators.FeatureOps.ftTimelineOf(raw, keys = t.entities,
      tsCol = t.eventTsCol, tiebreak = t.createdTsCol.toSeq,
      valueCols = featureNames)
  }

  /** Feature-freshness audit of a registered table: per entity key, the
    * age of the latest ingested value at `nowTs`, bucketed FRESH / AGING /
    * OUTSIDE_MAX_AGE by the table's REGISTERED max_age (the same boundary
    * getOnlineFeatures' checkOutsideMaxAge applies at read time; a table
    * with no max_age has no staleness contract and reports FRESH). The
    * registry-driven form of the `ft_freshness` monitoring pass:
    * latest-per-key is one partial-aggregatable max_by pass, the "now"
    * anchor a literal. */
  def getFreshness(tableName: String, nowTs: java.sql.Timestamp): DataFrame = {
    val t = table(tableName)
    val latest = latestPerKey(t, BatchSource.read(spark, sourceOf(t)), Seq(t.eventTsCol))
    graft.operators.FeatureOps.ftFreshnessOf(latest, keys = t.entities,
      tsCol = t.eventTsCol, nowCol = lit(nowTs), maxAgeSec = t.maxAgeSec)
  }

  /** Data-quality validation of a registered table against declarative
    * [[graft.model.Expectation]]s — the value-level contract layer above
    * the registry's schema rules (reference: Core validates NAMES —
    * ValidatorsKt / subscription rules; the values a table actually
    * ingests get no contract there. Every feature platform adds one; this
    * is that report as a first-class engine query). One row per check:
    * (check, feature, observed, threshold, pass) — all exact integers, so
    * the report is engine-portable and hash-gateable.
    *
    * Plan shape: every row-grain signal (null counts, range violations,
    * row count, one distinct-key count) partial-aggregates in ONE pass
    * over the source; Freshness adds one per-key max_by pass (the
    * getFreshness grain) reduced to its global min. The per-check report
    * rows are selects over those 1-row aggregates (localCheckpointed —
    * k branches must not re-scan the fact k times). Unknown feature names
    * fail fast with the reference's error shape. */
  def validateTable(tableName: String,
      checks: Seq[graft.model.Expectation]): DataFrame = {
    import graft.model.Expectation._
    require(checks.nonEmpty, "validateTable needs at least one expectation")
    val t = table(tableName)
    val named = checks.collect {
      case NotNull(f, _) => f
      case InRange(f, _, _, _) => f
    }
    val keyCols = t.entities ++ latestOrder(t)
    val raw = readTyped(t, keyCols, named.distinct)
    val aggs = Seq(count(lit(1)).as("__rows"),
        count_distinct(struct(keyCols.map(col): _*)).as("__keys")) ++
      checks.zipWithIndex.collect {
        case (NotNull(f, _), i) =>
          sum(when(col(f).isNull, 1L).otherwise(0L)).as(s"__c$i")
        case (InRange(f, lo, hi, _), i) =>
          sum(when(col(f).isNotNull && (col(f) < lo || col(f) > hi), 1L)
            .otherwise(0L)).as(s"__c$i")
      }
    val row = raw.agg(aggs.head, aggs.tail: _*).localCheckpoint()
    val keyLabel = t.entities.mkString(",")
    val reports = checks.zipWithIndex.map {
      case (NotNull(f, maxBp), i) =>
        row.select(lit("not_null").as("check"), lit(f).as("feature"),
          expr(s"__c$i * 10000 DIV greatest(__rows, 1)").as("observed"),
          lit(maxBp).as("threshold"))
      case (InRange(f, _, _, maxV), i) =>
        row.select(lit("in_range").as("check"), lit(f).as("feature"),
          col(s"__c$i").as("observed"), lit(maxV).as("threshold"))
      case (UniqueKey(maxD), _) =>
        row.select(lit("unique_key").as("check"), lit(keyLabel).as("feature"),
          (col("__rows") - col("__keys")).as("observed"),
          lit(maxD).as("threshold"))
      case (Freshness(nowTs), _) =>
        // the most-stale key's latest row: per-key max(ts), then the min
        // of those — the key a serving read would fetch oldest data for
        val worst = latestPerKey(t, BatchSource.read(spark, sourceOf(t)), Seq(t.eventTsCol))
          .agg(min(col(t.eventTsCol)).as("__worst_ts"))
        worst
          .withColumn("__age_us",
            unix_micros(lit(nowTs)) -
              unix_micros(col("__worst_ts").cast("timestamp")))
          .select(lit("freshness").as("check"), lit(keyLabel).as("feature"),
            expr("__age_us DIV 1000000").as("observed"),
            lit(t.maxAgeSec.getOrElse(-1L)).as("threshold"))
    }
    reports.reduce(_ unionAll _)
      .withColumn("pass",
        when(col("threshold") < 0, 1).otherwise(
          when(col("observed") <= col("threshold"), 1).otherwise(0)))
  }

  /** Daily feature-snapshot backfill of a registered table — the
    * registry-driven form of `ft_daily_snapshot` (the feast-0.9 nightly
    * materialization over a range of windows at once): per (entities,
    * day), the registry-TYPED latest values as of day end, with their
    * source timestamp and age in days; days before a key's first event
    * emit nothing, values carry forward. One as-of union-sort pass
    * regardless of the day-range width, over the table's [[layout]], so
    * the source rows are not shuffled again. */
  def getDailySnapshots(tableName: String, featureNames: Seq[String]): DataFrame = {
    val t = table(tableName)
    graft.operators.FeatureOps.ftDailySnapshotGeneric(
      layout(t).features(featureNames), keys = t.entities, tsCol = t.eventTsCol,
      valueCols = featureNames)
  }

  /** Online-store consistency audit: recompute the expected latest row per
    * entity key from the table's BATCH source (events up to
    * `upToExclusive`) and reconcile it against what the store actually
    * serves — the did-materialization-drift check an operator runs before
    * trusting an online store after incidents, backfills, or partial
    * materializations (the warehouse is the source of truth; the store is
    * a cache of it). Per entity key, one of:
    *  - MATCH      — store serves exactly the expected latest row;
    *  - STALE      — store row exists but carries an older event_ts
    *                 (a materialization window was missed);
    *  - AHEAD      — store row carries a NEWER event_ts than the audit
    *                 bound expects (normal when auditing as-of an earlier
    *                 timestamp than the last materialization);
    *  - DIVERGENT  — same event_ts, different feature values (corruption,
    *                 or a non-deterministic ingest tiebreak);
    *  - MISSING    — key in the source but absent from the store;
    *  - ORPHANED   — key in the store but absent from the source (leaked
    *                 from another window, or source rows were deleted).
    * Scale shape: expected side is the max_by single-pass latest (one
    * partial-aggregated exchange), the reconcile is one full-outer join on
    * the entity keys; feature comparison is null-safe equality. */
  def auditStore(tableName: String, store: OnlineStore,
                 upToExclusive: String): DataFrame = {
    val t = table(tableName)
    val featureNames = t.features.map(_.name)
    val rows = BatchSource.readRange(spark, sourceOf(t),
      "1970-01-01 00:00:00", upToExclusive)
    val expected = latestPerKey(t, rows, (t.eventTsCol +: featureNames).distinct)
      .select(t.entities.map(col) ++
        (col(t.eventTsCol).as("__exp_ts") +:
          featureNames.map(n => col(n).as(s"__exp_$n"))): _*)
    val served = store.snapshot(spark)
      .filter(col(ProjectCol) === project)
      .select(t.entities.map(col) ++
        (col(t.eventTsCol).as("__got_ts") +:
          featureNames.map(n => col(n).as(s"__got_$n"))): _*)
    val valuesMatch = featureNames
      .map(n => col(s"__exp_$n") <=> col(s"__got_$n"))
      .foldLeft(lit(true))(_ && _)
    expected.join(served, t.entities, "full_outer")
      .withColumn("status",
        when(col("__got_ts").isNull, lit("MISSING"))
          .when(col("__exp_ts").isNull, lit("ORPHANED"))
          .when(col("__got_ts") < col("__exp_ts"), lit("STALE"))
          .when(col("__got_ts") > col("__exp_ts"), lit("AHEAD"))
          .when(!valuesMatch, lit("DIVERGENT"))
          .otherwise(lit("MATCH")))
      .select(t.entities.map(col) ++ Seq(col("__exp_ts").as("expected_ts"),
        col("__got_ts").as("served_ts"), col("status")): _*)
      .orderBy(t.entities.map(col): _*)
  }

  /** Materialize a table's ingestion window [start, end) into a store:
    * latest row per entity key wins, merged against existing contents. */
  def materialize(tableName: String, store: OnlineStore,
                  startInclusive: String, endExclusive: String): Unit = {
    val t = table(tableName)
    toStore(t, BatchSource.readRange(spark, sourceOf(t), startInclusive, endExclusive))(
      store.upsert)
  }

  /** Hand a window of `t`'s rows to a store write as (project-tagged rows,
    * store keys, latest-wins order, value columns) — the store-column
    * layout every materialization path shares. */
  private def toStore(t: FeatureTable, rows: DataFrame)(write: FeatureStore.Write): Unit =
    write(rows.withColumn(ProjectCol, lit(project)), ProjectCol +: t.entities,
      latestOrder(t), t.features.map(_.name))

  /** The store write a table's registered max_age picks: with one, the TTL
    * is fused into the store merge at `now()` (evaluated per write) — keys
    * whose latest feature row is already older than the max_age can only
    * ever serve OUTSIDE_MAX_AGE, so they are dropped inside the SAME
    * read-merge-write the upsert pays anyway
    * (ParquetOnlineStore.upsertCompacting), instead of a separate compact
    * scan per cycle. A table without a max_age does a plain upsert. */
  private def ttlWrite(t: FeatureTable, store: ParquetOnlineStore,
                       now: () => java.sql.Timestamp): FeatureStore.Write =
    t.maxAgeSec.fold(store.upsert _)(maxAge =>
      store.upsertCompacting(_, _, _, _, t.eventTsCol, maxAge, now()))

  /** Materialize with the table's registered TTL fused into the store
    * merge at `nowTs` (see [[ttlWrite]]). */
  def materializeCompacting(tableName: String, store: ParquetOnlineStore,
                            startInclusive: String, endExclusive: String,
                            nowTs: java.sql.Timestamp): Unit = {
    val t = table(tableName)
    toStore(t, BatchSource.readRange(spark, sourceOf(t), startInclusive, endExclusive))(
      ttlWrite(t, store, () => nowTs))
  }

  /** Incremental materialization: materialize only [last-completed-end,
    * upToExclusive) as recorded in `log`, then record the new window
    * (reference: JobService's ingestion-job tracking is what makes
    * "materialize the delta" possible instead of re-reading history).
    * Returns the window materialized, or None when already up to date.
    * Bounds compare as Spark reads them (a 'T' or a ' ' separator). */
  def materializeIncremental(tableName: String, store: OnlineStore,
                             log: graft.serving.MaterializationLog,
                             upToExclusive: String,
                             origin: String = "1970-01-01 00:00:00",
                             storeName: String = "default")
      : Option[(String, String)] = {
    val start = log.lastEndExclusive(spark, project, tableName, storeName)
      .getOrElse(origin)
    if (boundMicros(start) >= boundMicros(upToExclusive)) None
    else {
      val t = table(tableName)
      // the row count rides the upsert's own scan of the window
      val counted = new org.apache.spark.sql.Observation()
      val rows = BatchSource.readRange(spark, sourceOf(t), start, upToExclusive)
        .observe(counted, count(lit(1)).as("n"))
      toStore(t, rows)(store.upsert)
      val n = counted.get("n").asInstanceOf[Long]
      log.record(spark, project, tableName, storeName, start, upToExclusive, n)
      Some((start, upToExclusive))
    }
  }

  /** A window bound as Spark's string → TIMESTAMP cast reads it (the cast
    * [[BatchSource.readRange]] applies), evaluated on the driver: no job. */
  private def boundMicros(bound: String): Long =
    graft.serving.MaterializationLog.boundMicros(spark, bound)
      .getOrElse(throw new IllegalArgumentException(s"not a timestamp: $bound"))

  /** Stream half of materialization (reference: ingestion into the online
    * store is decoupled from reading; stream DataSource in
    * FeatureTable.java:94-97): open the table's registered stream-source
    * spec and write each micro-batch with the store write
    * [[materializeCompacting]] uses — a table with a max_age drops its
    * lapsed keys at the micro-batch's processing time, one without does a
    * plain upsert; the same LatestValue merge as batch [[materialize]],
    * so the two paths cannot diverge. Returns the writer; callers start
    * it with their trigger/checkpoint. */
  def materializeStream(tableName: String, store: ParquetOnlineStore,
                        schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val t = table(tableName)
    val spec = t.streamSource.getOrElse(
      throw new IllegalArgumentException(s"table $tableName has no stream source"))
    val stream = graft.streaming.StreamIngest.readStreamSource(spark, spec, schema)
    graft.streaming.StreamIngest.latestUpsert(
      stream.withColumn(ProjectCol, lit(project)),
      keys = ProjectCol +: t.entities,
      orderCols = Seq(spec.eventTsCol) ++ t.createdTsCol,
      valueCols = t.features.map(_.name))(
      ttlWrite(t, store, () => new java.sql.Timestamp(System.currentTimeMillis())))
  }

  /** Materialize every table of this project that `storeSpec` subscribes to
    * (reference: stores subscribe to feature tables by project/name glob
    * patterns — Store.java subscriptions + isSubscribedToFeatureSet — and
    * ingestion routes each table's rows to every subscribed store). Returns
    * the table names materialized, in registry order. */
  def materializeSubscribed(storeSpec: graft.model.StoreSpec, store: OnlineStore,
                            startInclusive: String, endExclusive: String): Seq[String] = {
    val subscribed = registry.listTables(project)
      .filter(t => storeSpec.isSubscribedTo(project, t.name))
      .map(_.name)
    subscribed.foreach(materialize(_, store, startInclusive, endExclusive))
    subscribed
  }

  /** Fully registry-driven materialization: resolve the store BY NAME from
    * the registry, construct the executable store from its StoreSpec
    * (OnlineStore.fromSpec — the reference's Store.java type→connector
    * wiring), and route every subscribed table into it. A user who only
    * declared a store in the registry gets a working handle back for
    * [[getOnlineFeatures]]. */
  def materializeSubscribed(storeName: String, startInclusive: String,
                            endExclusive: String): (ParquetOnlineStore, Seq[String]) = {
    val spec = registry.getStore(storeName).getOrElse(
      throw new IllegalArgumentException(s"unknown store: $storeName"))
    val store = OnlineStore.fromSpec(spec)
    (store, materializeSubscribed(spec, store, startInclusive, endExclusive))
  }

  /** Online retrieval: for each request row, the latest stored value of each
    * requested feature, plus a `<col>__status` field per feature. `requestTs`
    * is the serving "now" used for max-age staleness.
    *
    * A ref whose table names a registered ON-DEMAND view (reference:
    * OnlineTransformationService.java, wired into getOnlineFeatures by
    * ServingServiceV2 / isOnDemandFeatureReference) is served by deriving
    * the view's expression AFTER the lookup joins: the view's input
    * features are retrieved transparently (and dropped again unless also
    * requested), and the derived feature's `__status` propagates from its
    * inputs — NOT_FOUND, then OUTSIDE_MAX_AGE, if any input carries it;
    * NULL_VALUE when the derived expression evaluates to null; PRESENT
    * otherwise.
    *
    * A local request (one whose optimized plan is a local relation, such as
    * `Seq(...).toDF`) is answered eagerly: the store is read at call time,
    * in one key-filtered scan, and the result is a local relation that
    * collects without a job. Any other request is answered lazily by a
    * broadcast-semi plus broadcast-left-join plan that reads the store when
    * the result runs. */
  def getOnlineFeatures(store: OnlineStore, requestDf: DataFrame,
                        refs: Seq[FeatureRef], requestTs: Column): DataFrame = {
    // reference: serving/util/RequestHelper.validateOnlineRequest
    require(refs.nonEmpty, "at least one feature reference must be provided")
    refs.foreach { r =>
      require(r.table.nonEmpty, "FeatureTable name must be provided in FeatureReference")
      require(r.feature.nonEmpty, "Feature name must be provided in FeatureReference")
    }
    val od = resolveOnDemand(refs)
    val looked = lookupOnline(store, requestDf, od.fetchRefs, requestTs)
    val derived = od.views.foldLeft(looked) { case (df, (v, feats)) =>
      val anyInput = (s: String) =>
        if (v.inputs.isEmpty) lit(false) // request-data-only view
        else v.inputs
          .map(r => col(s"${r.table}__${r.feature}__status") === s)
          .reduce(_ || _)
      feats.foldLeft(df) { (d, f) =>
        val out = s"${v.name}__${f.name}"
        d.withColumn(out, expr(f.sqlExpr))
          .withColumn(out + "__status",
            when(anyInput("NOT_FOUND"), lit("NOT_FOUND"))
              .when(anyInput("OUTSIDE_MAX_AGE"), lit("OUTSIDE_MAX_AGE"))
              .when(col(out).isNull, lit("NULL_VALUE"))
              .otherwise(lit("PRESENT")))
      }
    }
    // inputs pulled in only for derivation don't belong to the response
    val helperCols = od.helperRefs
      .flatMap(h => Seq(s"${h.table}__${h.feature}", s"${h.table}__${h.feature}__status"))
    derived.drop(helperCols: _*)
  }

  /** The feature-table half of online retrieval, one table at a time. A
    * local request ([[localKeyTypes]]) is joined to the store's hits on the
    * driver ([[joinLocal]]); any other request semi-filters the snapshot by
    * the request keys and left-joins the hits onto the request. Both paths
    * then emit the table's statuses and values through [[serve]]. */
  private def lookupOnline(store: OnlineStore, requestDf: DataFrame,
                           refs: Seq[FeatureRef], requestTs: Column): DataFrame = {
    refs.groupBy(_.table).toSeq.sortBy(_._1).foldLeft(requestDf) {
      case (acc, (tname, trefs)) =>
        val t = table(tname)
        // project scoping: only this project's keys are visible (stores may
        // hold many projects' materializations; reference keys every row by
        // project)
        val snap = store.snapshot(spark)
          .filter(col(ProjectCol) === project)
        val stored = snap.select(
          (t.entities :+ t.eventTsCol).map(col) ++
            trefs.map(r => col(r.feature)): _*)
        localKeyTypes(acc, stored, t.entities) match {
          case Some(keyTypes) =>
            serve(joinLocal(acc, stored, t.entities, keyTypes), t, trefs, requestTs)
          case None =>
            // Never broadcast the store snapshot: it is one row per entity
            // key (10⁸+ at scale — broadcasting it OOMs). An outer join can
            // only build its non-preserved side, so the scale shape is a
            // two-step lookup: (1) left-semi filter the snapshot by the
            // broadcast request keys — the snapshot streams once, never
            // shuffles, and the output is at most |request keys| rows; (2)
            // broadcast that tiny filtered snapshot into the left join that
            // preserves every request row. The key side is the request
            // itself, not `acc`: it carries none of the earlier tables'
            // lookup joins, and a semi join ignores duplicate build keys, so
            // a distinct would only add a shuffle.
            val requestKeys = requestDf.select(t.entities.map(col): _*)
            val hit = stored.join(broadcast(requestKeys), t.entities, "left_semi")
            val joined = acc.join(broadcast(hit), t.entities, "left")
            serve(joined, t, trefs, requestTs)
        }
    }
  }

  /** The store's key types when `request` is answered on the driver: its
    * optimized plan is a local relation (`Seq(...).toDF`, or a projection
    * over one), and each key column, named exactly, widens without loss to
    * the store's key type (`stored` leads with the key columns). */
  private def localKeyTypes(request: DataFrame, stored: DataFrame,
                            keys: Seq[String]): Option[Seq[DataType]] = {
    val keyTypes = stored.schema.fields.take(keys.size).map(_.dataType).toSeq
    val castable = keys.zip(keyTypes).forall { case (k, dt) =>
      request.schema.fields.exists(f => f.name == k && Cast.canUpCast(f.dataType, dt))
    }
    request.queryExecution.optimizedPlan match {
      case r: LocalRelation if castable && !r.isStreaming => Some(keyTypes)
      case _ => None
    }
  }

  /** The lookup join of a local request, done on the driver. Collecting
    * the request runs no job; one key-filtered scan (an `isin` per key
    * column, pushed to the store's files) fetches the hits; they are
    * matched to request rows by the join's equality on the keys cast to
    * the store's types. The result is what the USING left join gives — key
    * columns, the other request columns, then the stored columns, null
    * where nothing matched — as a local relation, so a projection over it
    * runs no job either. */
  private def joinLocal(request: DataFrame, stored: DataFrame, keys: Seq[String],
                        keyTypes: Seq[DataType]): DataFrame = {
    val (fields, n) = (request.schema.fields, keys.size)
    val casts = keys.zip(keyTypes).map { case (k, dt) => col(k).cast(dt) }
    val rows = request.select(col("*") +: casts: _*).collect()
    // a key with a null part never matches, as in the join
    val requested = rows.toSeq.map(r => Some((fields.length until fields.length + n).map(r.get))
      .filterNot(_.contains(null)))
    val wanted = requested.flatten.distinctBy(_.map(joinValue))
    val hits = if (wanted.nonEmpty) {
      // the per-column filters reach the store's files; for a composite key
      // the tuple filter then drops pairs the request never asked for
      val perColumn = keys.indices
        .map(i => col(keys(i)).isin(wanted.map(_(i)).distinctBy(joinValue): _*))
      val tuples = if (n == 1) Nil else Seq(struct(keys.map(col): _*)
        .isin(wanted.map(k => struct(k.zip(keys).map { case (v, c) => lit(v).as(c) }: _*)): _*))
      val inRequest = perColumn ++ tuples
      stored.filter(inRequest.reduce(_ && _)).collect().toSeq
        .groupBy(h => (0 until n).map(i => joinValue(h.get(i))))
    } else Map.empty[Seq[Any], Seq[Row]]
    val order = keys.map(k => fields.indexWhere(_.name == k)) ++
      fields.indices.filterNot(i => keys.contains(fields(i).name))
    val missing: Seq[Seq[Any]] = Seq(Seq.fill(stored.schema.length - n)(null))
    val out = rows.iterator.zip(requested).flatMap { case (r, k) =>
      val front = order.map(r.get)
      k.flatMap(v => hits.get(v.map(joinValue))).fold(missing)(_.map(_.toSeq.drop(n)))
        .map(h => Row.fromSeq(front ++ h))
    }.toSeq
    val schema = StructType(order.map(fields(_)) ++
      stored.schema.fields.drop(n).map(_.copy(nullable = true)))
    spark.createDataFrame(out.asJava, schema)
  }

  /** A key value as the join compares it: binary by content, and -0.0
    * equal to 0.0 (a boxed NaN already equals NaN). */
  private def joinValue(v: Any): Any = v match {
    case b: Array[Byte] => java.nio.ByteBuffer.wrap(b)
    case d: Double if d == 0.0 => 0.0
    case f: Float if f == 0.0f => 0.0f
    case other => other
  }

  /** A table's response over its lookup join (the request columns, then
    * the stored event time and features, null where no key matched): the
    * request columns, then a status and a value per feature, in one
    * select. */
  private def serve(joined: DataFrame, t: FeatureTable, trefs: Seq[FeatureRef],
                    requestTs: Column): DataFrame = {
    val fresh = t.maxAgeSec.fold(lit(true))(age =>
      PointInTimeJoin.withinMaxAge(col(t.eventTsCol), requestTs, age))
    val lookupCols = (t.eventTsCol +: trefs.map(_.feature)).toSet
    val served = trefs.flatMap { r =>
      val out = s"${t.name}__${r.feature}"
      Seq(when(col(t.eventTsCol).isNull, lit("NOT_FOUND"))
            .when(!fresh, lit("OUTSIDE_MAX_AGE"))
            .when(col(r.feature).isNull, lit("NULL_VALUE"))
            .otherwise(lit("PRESENT")).as(out + "__status"),
          when(fresh, col(r.feature)).as(out))
    }
    joined.select(
      (joined.columns.filterNot(lookupCols).map(c => col(s"`$c`")) ++ served)
        .toIndexedSeq: _*)
  }
}
