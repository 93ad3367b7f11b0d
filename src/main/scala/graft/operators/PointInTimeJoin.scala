package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Point-in-time ("as-of") join: for every entity row at `entityTs`, attach
  * the latest feature row with `featureTs <= entityTs`, optionally dropping
  * it when older than a TTL (reference semantics:
  * serving/src/main/java/feast/serving/service/OnlineServingServiceV2.java
  * checkOutsideMaxAge + Feast 0.9 historical retrieval).
  *
  * Scale design: the naive formulation — range-join then
  * `row_number() ... rn = 1` — explodes to |entity| × |matching features|
  * intermediate rows before pruning; at 100 TB with hot keys that is the
  * job-killing shuffle. This implementation uses the union-sort algorithm
  * instead: tag feature and entity rows, union them, and run ONE window pass
  * partitioned by key ordered by time, carrying the last seen feature
  * forward. Cost: at most one hash shuffle of |E| + |F| rows and a per-key
  * sort — linear, no explosion, and AQE can split skewed keys because the
  * window frame is running (each split is still correct within its key after
  * AQE skew handling falls back to a single partition per key). When both
  * sides already arrive hash-partitioned by the keys into the same number
  * of partitions, the union keeps that partitioning and the window adds no
  * exchange: FeatureStore keeps each feature source in such a persisted
  * layout and repartitions only the entity rows, so a pass shuffles |E|
  * rows, and a later pass on the same keys none.
  */
object PointInTimeJoin {

  /** @param entity      entity rows; every column is preserved in the output
    * @param features    feature rows (keys ++ featureTs ++ featureCols)
    * @param keys        join key columns present on both sides
    * @param entityTs    entity event-timestamp column name
    * @param featureTs   feature event-timestamp column name
    * @param featureCols feature value columns to attach
    * @param maxAgeSec   TTL: latest feature older than entityTs − maxAge is
    *                    dropped (attached columns become null)
    * @param outPrefix   attached columns are named s"${outPrefix}$col"; the
    *                    matched feature timestamp is s"${outPrefix}ts"
    */
  def asof(
      entity: DataFrame,
      features: DataFrame,
      keys: Seq[String],
      entityTs: String,
      featureTs: String,
      featureCols: Seq[String],
      maxAgeSec: Option[Long] = None,
      outPrefix: String = "feat_"): DataFrame =
    unionSortPass(entity, features, keys, entityTs, featureTs, featureCols,
      maxAgeSec, outPrefix, forward = false)

  /** Forward as-of join: the EARLIEST feature with `featureTs >= entityTs`
    * (the mirror of [[asof]] — "what happened next", e.g. labeling events
    * with the following outcome). Same union-sort pass, one shuffle, no
    * range-join explosion; only the window direction flips (__ts desc, so
    * the running last() carries the closest FUTURE feature). Tie rules
    * match [[asof]]: an exact-timestamp feature is visible (>= includes
    * equality), and among features at one (key, ts) the greatest feature
    * struct wins. `maxAgeSec` bounds how far AHEAD a feature may be. */
  def asofForward(
      entity: DataFrame,
      features: DataFrame,
      keys: Seq[String],
      entityTs: String,
      featureTs: String,
      featureCols: Seq[String],
      maxAgeSec: Option[Long] = None,
      outPrefix: String = "feat_"): DataFrame =
    unionSortPass(entity, features, keys, entityTs, featureTs, featureCols,
      maxAgeSec, outPrefix, forward = true)

  /** The one max-age rule (reference: checkOutsideMaxAge): `ts` is fresh
    * when it lies at or after `anchor − maxAge` (or, looking `forward`, at
    * or before `anchor + maxAge`). Both sides are cast to TIMESTAMP in the
    * session time zone — the coercion the as-of union already applies — so
    * a TIMESTAMP_NTZ event time compares exactly like a TIMESTAMP one
    * (the cast is a no-op, and optimized away, on TIMESTAMP inputs). */
  private[graft] def withinMaxAge(ts: Column, anchor: Column, maxAgeSec: Long,
                                  forward: Boolean = false): Column = {
    val t = unix_micros(ts.cast("timestamp"))
    val a = unix_micros(anchor.cast("timestamp"))
    val ageUs = maxAgeSec * 1000000L
    if (forward) t <= a + ageUs else t >= a - ageUs
  }

  /** The union-sort pass behind [[asof]] and [[asofForward]]: tag, union,
    * ONE key-partitioned window carrying the last seen feature, keep the
    * entity rows, apply the max-age rule, project. `forward` only flips the
    * time order (and the side of the anchor the max age bounds). */
  private def unionSortPass(
      entity: DataFrame,
      features: DataFrame,
      keys: Seq[String],
      entityTs: String,
      featureTs: String,
      featureCols: Seq[String],
      maxAgeSec: Option[Long],
      outPrefix: String,
      forward: Boolean): DataFrame = {
    val keyCols = keys.map(col)

    val entityOut = entity.columns.toSeq
    val e = entity
      .withColumn("__ts", col(entityTs))
      .withColumn("__is_entity", lit(1))
    val f = features.select(
      keyCols ++ Seq(
        col(featureTs).as("__ts"),
        struct(featureCols.map(col): _*).as("__feat"),
        lit(0).as("__is_entity")): _*)

    // Window order does triple duty, so feature-side ties need NO separate
    // dedup aggregation (saves a whole shuffle+sort of the feature table):
    //  - __ts (asc backward, desc forward): as-of ordering;
    //  - __is_entity asc: features sort before entities at equal __ts, so an
    //    exact-timestamp feature is visible to the entity row (<= / >=);
    //  - __feat asc: among feature rows at the same (key, ts), last() sees
    //    the greatest feature struct — the deterministic latest-wins rule
    //    (use LatestValue.dedup upstream for explicit created-ts semantics).
    val w = Window
      .partitionBy(keyCols: _*)
      .orderBy(if (forward) col("__ts").desc else col("__ts").asc,
        col("__is_entity").asc, col("__feat").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val attached = e
      .unionByName(f, allowMissingColumns = true)
      .withColumn("__last_ts",
        last(when(col("__is_entity") === 0, col("__ts")), ignoreNulls = true).over(w))
      .withColumn("__last_feat", last(col("__feat"), ignoreNulls = true).over(w))
      .filter(col("__is_entity") === 1)

    val matched = col("__last_ts").isNotNull
    val fresh = maxAgeSec.fold(matched)(age =>
      matched && withinMaxAge(col("__last_ts"), col(entityTs), age, forward))

    attached
      .withColumn(s"${outPrefix}ts", when(fresh, col("__last_ts")))
      .withColumns(featureCols.map(c =>
        s"$outPrefix$c" -> when(fresh, col(s"__last_feat.$c"))).toMap)
      .select(entityOut.map(col) ++
        (s"${outPrefix}ts" +: featureCols.map(c => s"$outPrefix$c")).map(col): _*)
  }

  /** Nearest as-of join: whichever of the backward/forward matches is
    * closer in time wins; equal distance prefers the backward match (the
    * deterministic choice that degrades to plain [[asof]] when the future
    * is empty). Built by CHAINING the two one-shuffle passes — the
    * backward result's attached columns ride the forward pass as ordinary
    * entity columns — so the cost is two linear window passes, never a
    * |E|×|F| candidate join. `maxAgeSec` bounds the distance on BOTH
    * sides. */
  def asofNearest(
      entity: DataFrame,
      features: DataFrame,
      keys: Seq[String],
      entityTs: String,
      featureTs: String,
      featureCols: Seq[String],
      maxAgeSec: Option[Long] = None,
      outPrefix: String = "feat_"): DataFrame = {
    val entityOut = entity.columns.toSeq
    val back = asof(entity, features, keys, entityTs, featureTs,
      featureCols, maxAgeSec, "__b_")
    val both = asofForward(back, features, keys, entityTs, featureTs,
      featureCols, maxAgeSec, "__f_")
    val db = abs(unix_micros(col("__b_ts")) - unix_micros(col(entityTs)))
    val df = abs(unix_micros(col("__f_ts")) - unix_micros(col(entityTs)))
    val pickBack = col("__b_ts").isNotNull && (col("__f_ts").isNull || db <= df)
    both
      .withColumn(s"${outPrefix}ts",
        when(pickBack, col("__b_ts")).otherwise(col("__f_ts")))
      .withColumns(featureCols.map(c =>
        s"$outPrefix$c" ->
          when(pickBack, col(s"__b_$c")).otherwise(col(s"__f_$c"))).toMap)
      .select(entityOut.map(col) ++
        (s"${outPrefix}ts" +: featureCols.map(c => s"$outPrefix$c")).map(col): _*)
  }
}
