package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._

import graft.model._
import graft.operators.PointInTimeJoin
import graft.serving.ParquetOnlineStore

class FeatureStoreSpec extends SparkSpecBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private lazy val workDir = Files.createTempDirectory("graft-fs").toString

  private lazy val store: FeatureStore = {
    val feats = Seq(
      (1L, ts("2024-01-01 10:00:00"), 10.0, "click"),
      (1L, ts("2024-01-05 10:00:00"), 11.0, "view"),
      (2L, ts("2024-01-02 10:00:00"), 20.0, "click"))
      .toDF("user_id", "ts", "value", "event_type")
    feats.write.mode("overwrite").parquet(s"$workDir/activity")
    val r = new Registry
    r.applyEntity(Entity("user_id", ValueKind.Int64K))
    r.applyTable(FeatureTable(
      name = "activity", entities = Seq("user_id"),
      features = Seq(Feature("value", ValueKind.DoubleK), Feature("event_type", ValueKind.StringK)),
      maxAgeSec = Some(10L * 86400), eventTsCol = "ts",
      batchSourcePath = Some(s"$workDir/activity")))
    new FeatureStore(r, spark)
  }

  test("getHistoricalFeatures point-in-time joins by registry metadata") {
    val entities = Seq(
      (1L, ts("2024-01-03 00:00:00"), 100L),
      (1L, ts("2024-01-06 00:00:00"), 101L),
      (3L, ts("2024-01-03 00:00:00"), 102L))
      .toDF("user_id", "event_timestamp", "row_id")
    val out = store.getHistoricalFeatures(entities, "event_timestamp",
      Seq(FeatureRef("activity", "value"), FeatureRef("activity", "event_type")))
      .collect().map(r => r.getAs[Long]("row_id") ->
        (Option(r.getAs[java.lang.Double]("activity__value")),
         Option(r.getAs[String]("activity__event_type")))).toMap
    assert(out(100L) == (Some(10.0), Some("click")))
    assert(out(101L) == (Some(11.0), Some("view")))
    assert(out(102L) == (None, None)) // unknown entity
  }

  test("materialize + getOnlineFeatures serves latest values with statuses") {
    val online = new ParquetOnlineStore(s"$workDir/online")
    store.materialize("activity", online, "2024-01-01 00:00:00", "2024-02-01 00:00:00")
    val req = Seq(1L, 2L, 9L).toDF("user_id")
    val out = store.getOnlineFeatures(online, req,
      Seq(FeatureRef("activity", "value")), lit(ts("2024-01-06 00:00:00")))
      .collect().map(r => r.getAs[Long]("user_id") ->
        (Option(r.getAs[java.lang.Double]("activity__value")),
         r.getAs[String]("activity__value__status"))).toMap
    assert(out(1L) == (Some(11.0), "PRESENT"))  // latest row won
    assert(out(2L) == (Some(20.0), "PRESENT"))
    assert(out(9L) == (None, "NOT_FOUND"))
  }

  test("online request validation mirrors reference RequestHelper") {
    val online = new ParquetOnlineStore(s"$workDir/online-val")
    store.materialize("activity", online, "2024-01-01 00:00:00", "2024-02-01 00:00:00")
    val req = Seq(1L).toDF("user_id")
    val now = lit(ts("2024-01-06 00:00:00"))
    assertThrows[IllegalArgumentException](
      store.getOnlineFeatures(online, req, Seq.empty, now))
    assertThrows[IllegalArgumentException](
      store.getOnlineFeatures(online, req, Seq(FeatureRef("", "value")), now))
    assertThrows[IllegalArgumentException](
      store.getOnlineFeatures(online, req, Seq(FeatureRef("activity", "")), now))
  }

  test("getFeatureTimeline: registry-driven SCD2 validity intervals") {
    val rows = store.getFeatureTimeline("activity", Seq("value"))
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Timestamp]("valid_from"),
        Option(r.getAs[Timestamp]("valid_to")), r.getAs[Double]("value")))
    assert(rows.toSeq == Seq(
      (1L, ts("2024-01-01 10:00:00"), Some(ts("2024-01-05 10:00:00")), 10.0),
      (1L, ts("2024-01-05 10:00:00"), None, 11.0), // current value: open interval
      (2L, ts("2024-01-02 10:00:00"), None, 20.0)))
    assertThrows[IllegalArgumentException](
      store.getFeatureTimeline("activity", Seq("no_such_feature")))
  }

  test("getFreshness: registry max_age drives the staleness buckets") {
    def statuses(now: String): Map[Long, (Long, String)] =
      store.getFreshness("activity", ts(now)).collect()
        .map(r => r.getAs[Long]("user_id") ->
          (r.getAs[Long]("age_sec"), r.getAs[String]("status"))).toMap
    // activity's registered max_age is 10 days; FRESH inside a quarter of it
    val jan6 = statuses("2024-01-06 10:00:00")
    assert(jan6(1L) == (86400L, "FRESH"))          // 1d  < 2.5d
    assert(jan6(2L) == (4L * 86400L, "AGING"))     // 4d  in (2.5d, 10d)
    val jan13 = statuses("2024-01-13 10:00:00")
    assert(jan13(1L)._2 == "AGING")                // 8d
    assert(jan13(2L)._2 == "OUTSIDE_MAX_AGE")      // 11d > max_age
    // the serving boundary: stale only when OLDER than now - max_age
    assert(statuses("2024-01-12 10:00:00")(2L) == (10L * 86400L, "AGING"))
    assert(statuses("2024-01-12 10:00:01")(2L) == (10L * 86400L + 1L, "OUTSIDE_MAX_AGE"))
    // a table with no max_age has no staleness contract
    val r2 = new Registry
    r2.applyEntity(Entity("user_id", ValueKind.Int64K))
    r2.applyTable(FeatureTable(
      name = "activity_nottl", entities = Seq("user_id"),
      features = Seq(Feature("value", ValueKind.DoubleK)),
      maxAgeSec = None, eventTsCol = "ts",
      batchSourcePath = Some(s"$workDir/activity")))
    val noTtl = new FeatureStore(r2, spark)
      .getFreshness("activity_nottl", ts("2030-01-01 00:00:00"))
      .collect().map(_.getAs[String]("status")).toSet
    assert(noTtl == Set("FRESH"))
  }

  test("auditStore: MATCH / STALE / MISSING / ORPHANED / DIVERGENT reconciliation") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val online = new ParquetOnlineStore(s"$workDir/online-audit")
    // materialize only January 1-3: user 1's Jan 5 row is missed → STALE
    store.materialize("activity", online, "2024-01-01 00:00:00", "2024-01-04 00:00:00")
    val a1 = store.auditStore("activity", online, "2024-02-01 00:00:00")
      .collect().map(r => r.getAs[Long]("user_id") -> r.getAs[String]("status")).toMap
    assert(a1 == Map(1L -> "STALE", 2L -> "MATCH"))
    // full materialization → everything matches
    store.materialize("activity", online, "2024-01-01 00:00:00", "2024-02-01 00:00:00")
    val a2 = store.auditStore("activity", online, "2024-02-01 00:00:00")
      .collect().map(r => r.getAs[Long]("user_id") -> r.getAs[String]("status")).toMap
    assert(a2 == Map(1L -> "MATCH", 2L -> "MATCH"))
    // audit bounded BEFORE user 2's only row: its store key is ORPHANED,
    // and user 1's fully-materialized row is AHEAD of the bound
    val a3 = store.auditStore("activity", online, "2024-01-02 00:00:00")
      .collect().map(r => r.getAs[Long]("user_id") -> r.getAs[String]("status")).toMap
    assert(a3(2L) == "ORPHANED" && a3(1L) == "AHEAD")
    // tamper a served value at the right ts → DIVERGENT; add a key the
    // source never had → ORPHANED; drop user 2 → MISSING
    val snap = online.snapshot(spark)
    val tampered = snap.filter(col("user_id") === 1L)
      .withColumn("value", lit(999.0))
      .unionByName(snap.filter(col("user_id") === 1L)
        .withColumn("user_id", lit(77L)))
    val online2 = new ParquetOnlineStore(s"$workDir/online-audit2")
    online2.upsert(tampered, keys = Seq("__project", "user_id"),
      orderCols = Seq("ts"), valueCols = Seq("event_type", "value"))
    val a4 = store.auditStore("activity", online2, "2024-02-01 00:00:00")
      .collect().map(r => r.getAs[Long]("user_id") -> r.getAs[String]("status")).toMap
    assert(a4 == Map(1L -> "DIVERGENT", 2L -> "MISSING", 77L -> "ORPHANED"))
  }

  test("on-demand views derive features from retrieved columns") {
    val r = store.registry
    r.applyOnDemandView(OnDemandView("derived",
      Seq(FeatureRef("activity", "value")),
      Seq(OnDemandFeature("value_sq", "activity__value * activity__value"))))
    val entities = Seq((1L, ts("2024-01-06 00:00:00"), 1L))
      .toDF("user_id", "event_timestamp", "row_id")
    val hist = store.getHistoricalFeatures(entities, "event_timestamp",
      Seq(FeatureRef("activity", "value")))
    val out = store.applyOnDemand(hist, "derived").head()
    assert(out.getAs[Double]("derived__value_sq") == 121.0) // 11.0^2
    // missing input columns produce a clear error
    val ex = intercept[IllegalArgumentException] {
      store.applyOnDemand(entities, "derived")
    }
    assert(ex.getMessage.contains("activity__value"))
  }

  test("composite entity keys join on all key columns") {
    val feats = Seq(
      (1L, "us", ts("2024-01-01 00:00:00"), 1.0),
      (1L, "eu", ts("2024-01-01 00:00:00"), 2.0))
      .toDF("user_id", "region", "ts", "value")
    feats.write.mode("overwrite").parquet(s"$workDir/geo")
    val r = new Registry
    r.applyEntity(Entity("user_id", ValueKind.Int64K))
    r.applyEntity(Entity("region", ValueKind.StringK))
    r.applyTable(FeatureTable("geo", Seq("user_id", "region"),
      Seq(Feature("value", ValueKind.DoubleK)), eventTsCol = "ts",
      batchSourcePath = Some(s"$workDir/geo")))
    val fs2 = new FeatureStore(r, spark)
    val entities = Seq((1L, "us", ts("2024-01-02 00:00:00"), 1L),
                       (1L, "eu", ts("2024-01-02 00:00:00"), 2L),
                       (1L, "ap", ts("2024-01-02 00:00:00"), 3L))
      .toDF("user_id", "region", "event_timestamp", "row_id")
    val out = fs2.getHistoricalFeatures(entities, "event_timestamp",
        Seq(FeatureRef("geo", "value")))
      .collect().map(rw => rw.getAs[Long]("row_id") ->
        Option(rw.getAs[java.lang.Double]("geo__value"))).toMap
    assert(out == Map(1L -> Some(1.0), 2L -> Some(2.0), 3L -> None))
  }

  test("getOnlineFeatures reports NULL_VALUE for present-but-null features") {
    val feats = Seq((1L, ts("2024-01-01 00:00:00"), Some(5.0)),
                    (2L, ts("2024-01-01 00:00:00"), None: Option[Double]))
      .toDF("user_id", "ts", "value")
    feats.write.mode("overwrite").parquet(s"$workDir/nulls")
    val r = new Registry
    r.applyEntity(Entity("user_id", ValueKind.Int64K))
    r.applyTable(FeatureTable("nulls", Seq("user_id"),
      Seq(Feature("value", ValueKind.DoubleK)), eventTsCol = "ts",
      batchSourcePath = Some(s"$workDir/nulls")))
    val fs2 = new FeatureStore(r, spark)
    val online = new ParquetOnlineStore(s"$workDir/online-nulls")
    fs2.materialize("nulls", online, "2024-01-01 00:00:00", "2024-02-01 00:00:00")
    val out = fs2.getOnlineFeatures(online, Seq(1L, 2L).toDF("user_id"),
        Seq(FeatureRef("nulls", "value")), lit(ts("2024-01-02 00:00:00")))
      .collect().map(rw => rw.getAs[Long]("user_id") ->
        rw.getAs[String]("nulls__value__status")).toMap
    assert(out == Map(1L -> "PRESENT", 2L -> "NULL_VALUE"))
  }

  test("incremental materialization processes only the delta window") {
    import graft.serving.MaterializationLog
    val base = s"$workDir/incr"
    Seq((1L, ts("2024-01-02 00:00:00"), 1.0), (2L, ts("2024-01-03 00:00:00"), 2.0))
      .toDF("user_id", "ts", "value").write.mode("overwrite").parquet(s"$base/src")
    val r = new Registry
    r.applyEntity(Entity("user_id", ValueKind.Int64K))
    r.applyTable(FeatureTable("incr", Seq("user_id"),
      Seq(Feature("value", ValueKind.DoubleK)), eventTsCol = "ts",
      batchSourcePath = Some(s"$base/src")))
    val fs = new FeatureStore(r, spark)
    val online = new ParquetOnlineStore(s"$base/store")
    val log = new MaterializationLog(s"$base/log")
    // run 1: everything up to Jan 10
    val w1 = fs.materializeIncremental("incr", online, log, "2024-01-10 00:00:00")
    assert(w1.contains(("1970-01-01 00:00:00", "2024-01-10 00:00:00")))
    // no new data: run is a no-op, nothing recorded
    assert(fs.materializeIncremental("incr", online, log, "2024-01-10 00:00:00").isEmpty)
    // late-arriving source rows: one INSIDE the already-done window (must
    // NOT be picked up — it is the batch-world cost of incremental) and one
    // after it (must be picked up by run 2 only)
    Seq((1L, ts("2024-01-05 00:00:00"), 99.0), (3L, ts("2024-01-15 00:00:00"), 3.0))
      .toDF("user_id", "ts", "value").write.mode("append").parquet(s"$base/src")
    val w2 = fs.materializeIncremental("incr", online, log, "2024-01-20 00:00:00")
    assert(w2.contains(("2024-01-10 00:00:00", "2024-01-20 00:00:00")))
    val snap = online.snapshot(spark).collect()
      .map(rw => rw.getAs[Long]("user_id") -> rw.getAs[Double]("value")).toMap
    assert(snap == Map(1L -> 1.0, 2L -> 2.0, 3L -> 3.0)) // 99.0 skipped
    assert(log.entries(spark).count() == 2)
  }

  test("incremental windows order 'T' and ' ' separated bounds as timestamps") {
    import graft.serving.MaterializationLog
    val base = s"$workDir/incr-sep"
    Seq((1L, ts("2024-01-10 10:00:00"), 1.0), (2L, ts("2024-01-10 15:00:00"), 2.0))
      .toDF("user_id", "ts", "value").write.mode("overwrite").parquet(s"$base/src")
    val r = new Registry
    r.applyEntity(Entity("user_id", ValueKind.Int64K))
    r.applyTable(FeatureTable("incr_sep", Seq("user_id"),
      Seq(Feature("value", ValueKind.DoubleK)), eventTsCol = "ts",
      batchSourcePath = Some(s"$base/src")))
    val fs = new FeatureStore(r, spark)
    val online = new ParquetOnlineStore(s"$base/store")
    val log = new MaterializationLog(s"$base/log")
    assert(fs.materializeIncremental("incr_sep", online, log, "2024-01-10T12:00:00")
      .contains(("1970-01-01 00:00:00", "2024-01-10T12:00:00")))
    // as strings ' ' < 'T', yet six hours are pending
    assert(fs.materializeIncremental("incr_sep", online, log, "2024-01-10 18:00:00")
      .contains(("2024-01-10T12:00:00", "2024-01-10 18:00:00")))
    assert(log.lastEndExclusive(spark, Project.Default, "incr_sep", "default")
      .contains("2024-01-10 18:00:00"))
    assert(fs.materializeIncremental("incr_sep", online, log, "2024-01-10T18:00:00").isEmpty)
    val snap = online.snapshot(spark).collect()
      .map(rw => rw.getAs[Long]("user_id") -> rw.getAs[Double]("value")).toMap
    assert(snap == Map(1L -> 1.0, 2L -> 2.0))
  }

  test("features are cast to registry-declared types; unknown features fail fast") {
    // source stores value as BIGINT; registry declares INT32 + DOUBLE views
    val feats = Seq((1L, ts("2024-01-01 00:00:00"), 41L))
      .toDF("user_id", "ts", "score")
    feats.write.mode("overwrite").parquet(s"$workDir/typed")
    val r = new Registry
    r.applyEntity(Entity("user_id", ValueKind.Int64K))
    r.applyTable(FeatureTable("typed", Seq("user_id"),
      Seq(Feature("score", ValueKind.Int32K)), eventTsCol = "ts",
      batchSourcePath = Some(s"$workDir/typed")))
    val fs2 = new FeatureStore(r, spark)
    val entities = Seq((1L, ts("2024-01-02 00:00:00"))).toDF("user_id", "event_timestamp")
    val out = fs2.getHistoricalFeatures(entities, "event_timestamp",
      Seq(FeatureRef("typed", "score")))
    assert(out.schema("typed__score").dataType ==
           org.apache.spark.sql.types.IntegerType)
    assert(out.head().getAs[Int]("typed__score") == 41)
    // reference error shape for unknown features
    val ex = intercept[IllegalArgumentException] {
      fs2.getHistoricalFeatures(entities, "event_timestamp",
        Seq(FeatureRef("typed", "nope")))
    }
    assert(ex.getMessage.contains("not found in table typed"))
  }

  test("list-valued features flow through retrieval and serving") {
    // reference Value proto has list variants; arrays must survive the
    // as-of join, materialization merge and online lookup unchanged
    val feats = Seq(
      (1L, ts("2024-01-01 00:00:00"), Seq(1.0f, 2.0f, 3.0f)),
      (1L, ts("2024-01-05 00:00:00"), Seq(9.0f, 8.0f, 7.0f)))
      .toDF("user_id", "ts", "embedding")
    feats.write.mode("overwrite").parquet(s"$workDir/vec")
    val r = new Registry
    r.applyEntity(Entity("user_id", ValueKind.Int64K))
    r.applyTable(FeatureTable("vec", Seq("user_id"),
      Seq(Feature("embedding", ValueKind.ListK(ValueKind.FloatK))), eventTsCol = "ts",
      batchSourcePath = Some(s"$workDir/vec")))
    val fs2 = new FeatureStore(r, spark)
    val entities = Seq((1L, ts("2024-01-03 00:00:00"), 1L), (1L, ts("2024-01-06 00:00:00"), 2L))
      .toDF("user_id", "event_timestamp", "row_id")
    val hist = fs2.getHistoricalFeatures(entities, "event_timestamp",
        Seq(FeatureRef("vec", "embedding")))
      .collect().map(rw => rw.getAs[Long]("row_id") ->
        rw.getAs[scala.collection.Seq[Float]]("vec__embedding").toSeq).toMap
    assert(hist(1L) == Seq(1.0f, 2.0f, 3.0f)) // point-in-time: first row
    assert(hist(2L) == Seq(9.0f, 8.0f, 7.0f))
    val online = new ParquetOnlineStore(s"$workDir/online-vec")
    fs2.materialize("vec", online, "2024-01-01 00:00:00", "2024-02-01 00:00:00")
    val served = fs2.getOnlineFeatures(online, Seq(1L).toDF("user_id"),
        Seq(FeatureRef("vec", "embedding")), lit(ts("2024-01-06 00:00:00")))
      .head().getAs[scala.collection.Seq[Float]]("vec__embedding").toSeq
    assert(served == Seq(9.0f, 8.0f, 7.0f)) // latest row won
  }

  test("BYTES features round-trip through materialization and serving") {
    // reference Value proto serves BYTES payloads (ProtoFeature/AvroFeature
    // decode them per declared type); binary must survive the latest-value
    // merge, the parquet store write/read, and online lookup bit-for-bit
    val blob1 = Array[Byte](0, 1, -1, 127, -128, 42)
    val blob2 = Array[Byte](9, 9, 9)
    val feats = Seq(
      (1L, ts("2024-01-01 00:00:00"), blob1),
      (1L, ts("2024-01-02 00:00:00"), blob2), // latest must win
      (2L, ts("2024-01-01 00:00:00"), blob1))
      .toDF("user_id", "ts", "payload")
    feats.write.mode("overwrite").parquet(s"$workDir/bytes")
    val r = new Registry
    r.applyEntity(Entity("user_id", ValueKind.Int64K))
    r.applyTable(FeatureTable("blobs", Seq("user_id"),
      Seq(Feature("payload", ValueKind.BytesK)), eventTsCol = "ts",
      batchSourcePath = Some(s"$workDir/bytes")))
    val fs2 = new FeatureStore(r, spark)
    // historical: declared type is BinaryType after the registry cast
    val hist = fs2.getHistoricalFeatures(
      Seq((1L, ts("2024-01-03 00:00:00"))).toDF("user_id", "event_timestamp"),
      "event_timestamp", Seq(FeatureRef("blobs", "payload")))
    assert(hist.schema("blobs__payload").dataType ==
           org.apache.spark.sql.types.BinaryType)
    assert(hist.head().getAs[Array[Byte]]("blobs__payload").toSeq == blob2.toSeq)
    // online: materialize → serve returns the latest blob unchanged
    val online = new ParquetOnlineStore(s"$workDir/online-bytes")
    fs2.materialize("blobs", online, "2024-01-01 00:00:00", "2024-02-01 00:00:00")
    val served = fs2.getOnlineFeatures(online, Seq(1L, 2L).toDF("user_id"),
        Seq(FeatureRef("blobs", "payload")), lit(ts("2024-01-03 00:00:00")))
      .collect().map(rw => rw.getAs[Long]("user_id") ->
        rw.getAs[Array[Byte]]("blobs__payload").toSeq).toMap
    assert(served(1L) == blob2.toSeq)
    assert(served(2L) == blob1.toSeq)
  }

  test("LIST-of-BYTES features round-trip bit-for-bit") {
    // the deepest Value-proto type: a list of binary payloads must survive
    // the registry cast, the as-of join, the store merge and serving
    val blobs1 = Seq(Array[Byte](1, -2), Array[Byte](3))
    val blobs2 = Seq(Array[Byte](127, -128, 0))
    val feats = Seq(
      (1L, ts("2024-01-01 00:00:00"), blobs1),
      (1L, ts("2024-01-02 00:00:00"), blobs2)) // latest wins
      .toDF("user_id", "ts", "chunks")
    feats.write.mode("overwrite").parquet(s"$workDir/byteslist")
    val r = new Registry
    r.applyEntity(Entity("user_id", ValueKind.Int64K))
    r.applyTable(FeatureTable("chunked", Seq("user_id"),
      Seq(Feature("chunks", ValueKind.ListK(ValueKind.BytesK))), eventTsCol = "ts",
      batchSourcePath = Some(s"$workDir/byteslist")))
    val fs2 = new FeatureStore(r, spark)
    val online = new ParquetOnlineStore(s"$workDir/online-byteslist")
    fs2.materialize("chunked", online, "2024-01-01 00:00:00", "2024-02-01 00:00:00")
    val served = fs2.getOnlineFeatures(online, Seq(1L).toDF("user_id"),
        Seq(FeatureRef("chunked", "chunks")), lit(ts("2024-01-03 00:00:00")))
      .head().getAs[scala.collection.Seq[Array[Byte]]]("chunked__chunks")
    assert(served.map(_.toSeq) == blobs2.map(_.toSeq))
  }

  test("ParquetOnlineStore.compact drops only lapsed keys (TTL)") {
    val online = new ParquetOnlineStore(s"$workDir/online-compact")
    store.materialize("activity", online, "2024-01-01 00:00:00", "2024-02-01 00:00:00")
    // user 1's latest is Jan 05, user 2's is Jan 02; at Jan 10 with a 7-day
    // TTL nothing lapses, at Jan 11 user 2 does
    assert(online.compact(spark, "ts", 7L * 86400, ts("2024-01-09 00:00:00")) == 0L)
    val dropped = online.compact(spark, "ts", 7L * 86400, ts("2024-01-11 00:00:00"))
    assert(dropped == 1L)
    val out = store.getOnlineFeatures(online, Seq(1L, 2L).toDF("user_id"),
        Seq(FeatureRef("activity", "value")), lit(ts("2024-01-11 00:00:00")))
      .collect().map(rw => rw.getAs[Long]("user_id") ->
        rw.getAs[String]("activity__value__status")).toMap
    assert(out(1L) == "PRESENT")
    assert(out(2L) == "NOT_FOUND") // lapsed key compacted away entirely
  }

  test("upsertCompacting fuses merge + TTL into one write (lapsed -> NOT_FOUND)") {
    val online = new ParquetOnlineStore(s"$workDir/online-upsert-ttl")
    // seed: user 1 fresh (Jan 05), user 2 stale (Jan 02)
    store.materialize("activity", online, "2024-01-01 00:00:00", "2024-02-01 00:00:00")
    // one fused call at Jan 11 with a 7-day TTL: merges a new batch for
    // user 3 AND drops user 2 in the same atomic swap
    import spark.implicits._
    // same row shape materialize upserts: the __project key namespaces keys
    val batch = Seq(("default", 3L, ts("2024-01-10 00:00:00"), 9.5, "click"))
      .toDF("__project", "user_id", "ts", "value", "event_type")
    online.upsertCompacting(batch, Seq("__project", "user_id"), Seq("ts"),
      Seq("value", "event_type"), "ts", 7L * 86400, ts("2024-01-11 00:00:00"))
    val snap = online.snapshot(spark).select("user_id").collect().map(_.getLong(0)).toSet
    assert(snap.contains(3L) && !snap.contains(2L), s"snapshot keys: $snap")
    val out = store.getOnlineFeatures(online, Seq(1L, 2L, 3L).toDF("user_id"),
        Seq(FeatureRef("activity", "value")), lit(ts("2024-01-11 00:00:00")))
      .collect().map(rw => rw.getAs[Long]("user_id") ->
        rw.getAs[String]("activity__value__status")).toMap
    assert(out(1L) == "PRESENT")  // fresh key merged through untouched
    assert(out(2L) == "NOT_FOUND") // lapsed key dropped by the fused filter
    assert(out(3L) == "PRESENT")  // incoming batch landed in the same write
    // an incoming row that is ALREADY lapsed never enters the store
    val stale = Seq(("default", 4L, ts("2024-01-01 00:00:00"), 1.0, "view"))
      .toDF("__project", "user_id", "ts", "value", "event_type")
    online.upsertCompacting(stale, Seq("__project", "user_id"), Seq("ts"),
      Seq("value", "event_type"), "ts", 7L * 86400, ts("2024-01-11 00:00:00"))
    assert(!online.snapshot(spark).select("user_id")
      .collect().map(_.getLong(0)).toSet.contains(4L))
  }

  test("materializeCompacting applies the table's registered TTL in the merge") {
    // activity's registry max_age is 10 days; at Jan 13 user 2's latest
    // (Jan 02) has lapsed while user 1's (Jan 05) has not — one facade
    // call must merge the window AND drop the lapsed key
    val online = new ParquetOnlineStore(s"$workDir/online-mat-ttl")
    store.materializeCompacting("activity", online,
      "2024-01-01 00:00:00", "2024-02-01 00:00:00", ts("2024-01-13 00:00:00"))
    val out = store.getOnlineFeatures(online, Seq(1L, 2L).toDF("user_id"),
        Seq(FeatureRef("activity", "value")), lit(ts("2024-01-13 00:00:00")))
      .collect().map(rw => rw.getAs[Long]("user_id") ->
        rw.getAs[String]("activity__value__status")).toMap
    assert(out(1L) == "PRESENT")
    assert(out(2L) == "NOT_FOUND")
    // a declared "memory" store is the same store class: it drops the key too
    val mem = graft.serving.OnlineStore.fromSpec(StoreSpec("ttl-mem", "memory"))
    store.materializeCompacting("activity", mem,
      "2024-01-01 00:00:00", "2024-02-01 00:00:00", ts("2024-01-13 00:00:00"))
    val memOut = store.getOnlineFeatures(mem, Seq(2L).toDF("user_id"),
        Seq(FeatureRef("activity", "value")), lit(ts("2024-01-13 00:00:00")))
      .head().getAs[String]("activity__value__status")
    assert(memOut == "NOT_FOUND")
  }

  test("project namespacing isolates online keys sharing one store") {
    // two projects define the SAME table name + entity key, materialize
    // into the SAME store: lookups must never leak across projects
    // (reference: RedisKeyGenerator.java — every key carries the project)
    val r = new Registry
    r.applyEntity(Entity("user_id", ValueKind.Int64K))
    r.applyEntity(Entity("user_id", ValueKind.Int64K), project = "team-b")
    for ((p, v) <- Seq(Project.Default -> 1.0, "team-b" -> 2.0)) {
      Seq((1L, ts("2024-01-01 10:00:00"), v)).toDF("user_id", "ts", "value")
        .write.mode("overwrite").parquet(s"$workDir/proj-$p")
      r.applyTable(FeatureTable("shared", Seq("user_id"),
        Seq(Feature("value", ValueKind.DoubleK)), eventTsCol = "ts",
        batchSourcePath = Some(s"$workDir/proj-$p")), project = p)
    }
    val online = new ParquetOnlineStore(s"$workDir/online-projects")
    val fsDefault = new FeatureStore(r, spark)
    val fsTeamB   = new FeatureStore(r, spark, project = "team-b")
    fsDefault.materialize("shared", online, "2024-01-01 00:00:00", "2024-02-01 00:00:00")
    fsTeamB.materialize("shared", online, "2024-01-01 00:00:00", "2024-02-01 00:00:00")
    def lookup(fs: FeatureStore) =
      fs.getOnlineFeatures(online, Seq(1L).toDF("user_id"),
          Seq(FeatureRef("shared", "value")), lit(ts("2024-01-02 00:00:00")))
        .head().getAs[Double]("shared__value")
    assert(lookup(fsDefault) == 1.0)
    assert(lookup(fsTeamB) == 2.0)
    // a project with no materialization sees NOT_FOUND, not another's rows
    r.applyEntity(Entity("user_id", ValueKind.Int64K), project = "team-c")
    r.applyTable(FeatureTable("shared", Seq("user_id"),
      Seq(Feature("value", ValueKind.DoubleK)), eventTsCol = "ts",
      batchSourcePath = Some(s"$workDir/proj-default")), project = "team-c")
    val fsTeamC = new FeatureStore(r, spark, project = "team-c")
    val row = fsTeamC.getOnlineFeatures(online, Seq(1L).toDF("user_id"),
      Seq(FeatureRef("shared", "value")), lit(ts("2024-01-02 00:00:00"))).head()
    assert(row.getAs[String]("shared__value__status") == "NOT_FOUND")
  }

  test("materializeSubscribed routes only subscribed tables into the store") {
    // two tables; the store subscribes to activity-like names only
    val feats2 = Seq((1L, ts("2024-01-01 10:00:00"), 7.0))
      .toDF("user_id", "ts", "other_value")
    feats2.write.mode("overwrite").parquet(s"$workDir/other")
    val r = store.registry
    r.applyTable(FeatureTable("other_table", Seq("user_id"),
      Seq(Feature("other_value", ValueKind.DoubleK)), eventTsCol = "ts",
      batchSourcePath = Some(s"$workDir/other")))
    val spec = StoreSpec("routed", "parquet",
      subscriptions = Seq(Subscription("default", "activ*")))
    val online = new ParquetOnlineStore(s"$workDir/online-routed")
    val done = store.materializeSubscribed(spec, online,
      "2024-01-01 00:00:00", "2024-02-01 00:00:00")
    assert(done == Seq("activity"))
    val snapCols = online.snapshot(spark).columns.toSet
    assert(snapCols.contains("value") && !snapCols.contains("other_value"))
  }

  test("registry-declared store: fromSpec → materializeSubscribed → getOnlineFeatures") {
    // the reference wires StoreType → connector (core Store.java:30-70,
    // serving ServingServiceConfigV2); here a store declared purely as
    // registry metadata must come back as a usable handle end-to-end
    val r = store.registry
    r.applyStore(StoreSpec("decl", "parquet",
      config = Map("path" -> s"$workDir/online-decl"),
      subscriptions = Seq(Subscription("default", "activity"))))
    val (online, done) = store.materializeSubscribed("decl",
      "2024-01-01 00:00:00", "2024-02-01 00:00:00")
    assert(done == Seq("activity"))
    val out = store.getOnlineFeatures(online, Seq(1L).toDF("user_id"),
      Seq(FeatureRef("activity", "value")), lit(ts("2024-01-06 00:00:00"))).head()
    assert(out.getAs[Double]("activity__value") == 11.0)
    assert(out.getAs[String]("activity__value__status") == "PRESENT")
    // memory stores are per-name singletons (two handles to one declared
    // store share state, like two clients of one KV service)
    import graft.serving.OnlineStore
    assert(OnlineStore.fromSpec(StoreSpec("m1", "memory")) eq
           OnlineStore.fromSpec(StoreSpec("m1", "memory")))
    // a declared store that was never written has no snapshot
    assertThrows[org.apache.spark.sql.AnalysisException](
      OnlineStore.fromSpec(StoreSpec("m-empty", "memory")).snapshot(spark))
    // a memory store lives under the graft.snapstore.dir root when it is set
    val snapRoot = s"$workDir/snaproot"
    spark.conf.set("graft.snapstore.dir", snapRoot)
    try OnlineStore.fromSpec(StoreSpec("m-rooted", "memory")).upsert(
      Seq((1L, ts("2024-01-01 10:00:00"), 1.0)).toDF("user_id", "ts", "value"),
      Seq("user_id"), Seq("ts"), Seq("value"))
    finally spark.conf.unset("graft.snapstore.dir")
    assert(new java.io.File(snapRoot).listFiles().exists(_.getName.startsWith("snap_")))
    // reference error shapes: unknown type, missing required config
    val ex = intercept[IllegalArgumentException](
      OnlineStore.fromSpec(StoreSpec("bad", "somethingelse")))
    assert(ex.getMessage.contains("Unsupported store type"))
    assertThrows[IllegalArgumentException](
      OnlineStore.fromSpec(StoreSpec("nopath", "parquet")))
    assertThrows[IllegalArgumentException](
      store.materializeSubscribed("never-declared", "2024-01-01 00:00:00", "2024-02-01 00:00:00"))
  }

  test("getOnlineFeatures marks stale rows OUTSIDE_MAX_AGE") {
    val online = new ParquetOnlineStore(s"$workDir/online2")
    store.materialize("activity", online, "2024-01-01 00:00:00", "2024-02-01 00:00:00")
    val req = Seq(1L, 2L).toDF("user_id")
    // request far in the future: everything is older than the 10-day TTL
    val out = store.getOnlineFeatures(online, req,
      Seq(FeatureRef("activity", "value")), lit(ts("2024-06-01 00:00:00")))
      .collect().map(r => r.getAs[Long]("user_id") ->
        (Option(r.getAs[java.lang.Double]("activity__value")),
         r.getAs[String]("activity__value__status"))).toMap
    assert(out(1L) == (None, "OUTSIDE_MAX_AGE"))
    assert(out(2L) == (None, "OUTSIDE_MAX_AGE"))
  }

  test("a TIMESTAMP_NTZ event time serves like its TIMESTAMP twin, max-age boundary included") {
    val feats = Seq(
      (1L, ts("2024-01-01 10:00:00"), 10.0),
      (1L, ts("2024-01-05 10:00:00"), 11.0),
      (2L, ts("2024-01-02 10:00:00"), 20.0)).toDF("user_id", "ts", "value")
    feats.write.mode("overwrite").parquet(s"$workDir/twin-tz")
    feats.withColumn("ts", col("ts").cast("timestamp_ntz"))
      .write.mode("overwrite").parquet(s"$workDir/twin-ntz")
    val r = new Registry
    r.applyEntity(Entity("user_id", ValueKind.Int64K))
    for (name <- Seq("tz", "ntz"))
      r.applyTable(FeatureTable(name, Seq("user_id"), Seq(Feature("value", ValueKind.DoubleK)),
        maxAgeSec = Some(10L * 86400), eventTsCol = "ts",
        batchSourcePath = Some(s"$workDir/twin-$name")))
    val fs2 = new FeatureStore(r, spark)
    val req = Seq(1L, 2L, 9L).toDF("user_id")
    def served(name: String, online: ParquetOnlineStore, now: String) =
      fs2.getOnlineFeatures(online, req, Seq(FeatureRef(name, "value")), lit(ts(now)))
        .collect().map(rw => rw.getAs[Long]("user_id") ->
          (Option(rw.getAs[java.lang.Double](s"${name}__value")),
           rw.getAs[String](s"${name}__value__status"))).toMap
    val stores = Seq("tz", "ntz").map { name =>
      val online = new ParquetOnlineStore(s"$workDir/online-$name")
      fs2.materialize(name, online, "2024-01-01 00:00:00", "2024-02-01 00:00:00")
      name -> online
    }.toMap
    // user 2's only row is 2024-01-02 10:00: exactly 10 days old at the
    // boundary (still fresh), lapsed one microsecond later
    val boundary = "2024-01-12 10:00:00"
    for (now <- Seq("2024-01-06 00:00:00", "2024-01-12 09:59:59.999999", boundary,
                    "2024-01-12 10:00:00.000001", "2024-06-01 00:00:00"))
      assert(served("ntz", stores("ntz"), now) == served("tz", stores("tz"), now), s"at $now")
    assert(served("ntz", stores("ntz"), boundary)(2L) == (Some(20.0), "PRESENT"))
    assert(served("ntz", stores("ntz"), "2024-01-12 10:00:00.000001")(2L) ==
      (None, "OUTSIDE_MAX_AGE"))
    assert(served("ntz", stores("ntz"), "2024-01-06 00:00:00")(9L) == (None, "NOT_FOUND"))
    // the fused TTL merge applies the same rule: lapsed keys are dropped
    val now = new Timestamp(ts(boundary).getTime); now.setNanos(1000)
    for (name <- Seq("tz", "ntz"))
      fs2.materializeCompacting(name, stores(name), "2024-01-01 00:00:00",
        "2024-02-01 00:00:00", now)
    assert(served("ntz", stores("ntz"), boundary) == served("tz", stores("tz"), boundary))
    assert(served("ntz", stores("ntz"), boundary)(2L) == (None, "NOT_FOUND"))
  }

  test("getHistoricalFeatures asofMode exposes forward and nearest directions") {
    // activity has user 1 features at 01-01 (10.0) and 01-05 (11.0)
    val entities = Seq(
      (1L, ts("2024-01-03 00:00:00"), 100L),  // 2d back vs 2d fwd → tie
      (1L, ts("2024-01-04 00:00:00"), 101L),  // 3d back vs 1d fwd
      (1L, ts("2024-01-06 00:00:00"), 102L))  // nothing ahead
      .toDF("user_id", "event_timestamp", "row_id")
    def run(mode: FeatureStore.AsofMode) =
      store.getHistoricalFeatures(entities, "event_timestamp",
        Seq(FeatureRef("activity", "value")), mode)
        .collect().map(r => r.getAs[Long]("row_id") ->
          Option(r.getAs[java.lang.Double]("activity__value")).map(_.toDouble)).toMap
    assert(run(FeatureStore.Backward) ==
      Map(100L -> Some(10.0), 101L -> Some(10.0), 102L -> Some(11.0)))
    assert(run(FeatureStore.Forward) ==
      Map(100L -> Some(11.0), 101L -> Some(11.0), 102L -> None))
    // nearest: tie at 100 prefers backward; 101 is closer forward; 102
    // falls back to the only (backward) match
    assert(run(FeatureStore.Nearest) ==
      Map(100L -> Some(10.0), 101L -> Some(11.0), 102L -> Some(11.0)))
  }

  test("getHistoricalFeatures accepts on-demand view refs directly") {
    store.registry.applyOnDemandView(OnDemandView("hx",
      Seq(FeatureRef("activity", "value")),
      Seq(OnDemandFeature("value_half", "round(activity__value / 2, 2)"))))
    val entities = Seq(
      (1L, ts("2024-01-06 00:00:00"), 1L),   // latest value 11.0
      (3L, ts("2024-01-06 00:00:00"), 2L))   // unknown entity → null input
      .toDF("user_id", "event_timestamp", "row_id")
    val df = store.getHistoricalFeatures(entities, "event_timestamp",
      Seq(FeatureRef("hx", "value_half")))
    // transparent inputs (value AND the matched-ts column) must not leak
    assert(!df.columns.contains("activity__value"))
    assert(!df.columns.contains("activity__ts"))
    val out = df.collect().map(r => r.getAs[Long]("row_id") ->
      Option(r.getAs[java.lang.Double]("hx__value_half")).map(_.toDouble)).toMap
    assert(out == Map(1L -> Some(5.5), 2L -> None))
    // requesting the input alongside keeps it
    val both = store.getHistoricalFeatures(entities, "event_timestamp",
      Seq(FeatureRef("activity", "value"), FeatureRef("hx", "value_half")))
    assert(both.columns.contains("activity__value"))
  }

  test("getOnlineFeatures serves on-demand views with input-derived statuses") {
    val online = new ParquetOnlineStore(s"$workDir/online-odfv")
    store.materialize("activity", online, "2024-01-01 00:00:00", "2024-02-01 00:00:00")
    store.registry.applyOnDemandView(OnDemandView("odx",
      Seq(FeatureRef("activity", "value")),
      Seq(OnDemandFeature("value_x2", "round(activity__value * 2, 1)"))))
    // request 2024-01-14 with the 10-day TTL: user 1 (latest 01-05) is
    // fresh, user 2 (latest 01-02) is stale, user 9 unknown
    val req = Seq(1L, 2L, 9L).toDF("user_id")
    val df = store.getOnlineFeatures(online, req,
      Seq(FeatureRef("odx", "value_x2")), lit(ts("2024-01-14 00:00:00")))
    // the view's input was retrieved transparently and must NOT leak into
    // the response when it was not itself requested
    assert(!df.columns.contains("activity__value"))
    assert(!df.columns.contains("activity__value__status"))
    val out = df.collect().map(r => r.getAs[Long]("user_id") ->
      (Option(r.getAs[java.lang.Double]("odx__value_x2")),
       r.getAs[String]("odx__value_x2__status"))).toMap
    assert(out(1L) == (Some(22.0), "PRESENT"))
    assert(out(2L) == (None, "OUTSIDE_MAX_AGE"))
    assert(out(9L) == (None, "NOT_FOUND"))
    // requesting the input alongside the view keeps both columns
    val both = store.getOnlineFeatures(online, req,
      Seq(FeatureRef("activity", "value"), FeatureRef("odx", "value_x2")),
      lit(ts("2024-01-14 00:00:00")))
    assert(both.columns.contains("activity__value"))
    assert(both.filter(col("user_id") === 1L)
      .head().getAs[Double]("odx__value_x2") == 22.0)
    // unknown view feature fails with the reference error shape
    val ex = intercept[IllegalArgumentException] {
      store.getOnlineFeatures(online, req,
        Seq(FeatureRef("odx", "nope")), lit(ts("2024-01-14 00:00:00")))
    }
    assert(ex.getMessage.contains("not found in on-demand view odx"))
  }

  test("getDailySnapshots: registry-driven per-day carry-forward with typed values") {
    // activity fixture: user 1 @ 01-01 (10.0) and 01-05 (11.0), user 2 @ 01-02
    val out = store.getDailySnapshots("activity", Seq("value")).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("day")) ->
        ((r.getAs[Double]("value"), r.getAs[Long]("age_days")))).toMap
    val d0 = ts("2024-01-01 00:00:00").getTime / 86400000L
    assert(out((1L, d0)) == ((10.0, 0L)))
    assert(out((1L, d0 + 2)) == ((10.0, 2L)), "value carries forward with growing age")
    assert(out((1L, d0 + 4)) == ((11.0, 0L)), "the 01-05 ingest replaces it")
    assert(!out.contains((2L, d0)), "user 2 does not exist before 01-02")
    assert(out((2L, d0 + 1)) == ((20.0, 0L)))
    // grid spans [first, last] event day for every existing key
    assert(out.keys.count(_._1 == 1L) == 5L)
    assert(out.keys.count(_._1 == 2L) == 4L)
  }

  test("getTrainingSet: backward features + forward bounded label, leakage-free") {
    val labels = Seq(
      (1L, ts("2024-01-03 12:00:00"), 42.0),   // within 2 d of row 100's ts
      (1L, ts("2024-01-04 00:00:00"), 43.0),   // later — must NOT be picked
      (2L, ts("2024-01-09 00:00:00"), 50.0))   // > 2 d after row 103's ts
      .toDF("user_id", "ts", "amount")
    labels.write.mode("overwrite").parquet(s"$workDir/purchases")
    store.registry.applyTable(FeatureTable(
      name = "purchases", entities = Seq("user_id"),
      features = Seq(Feature("amount", ValueKind.DoubleK)),
      maxAgeSec = None, eventTsCol = "ts",
      batchSourcePath = Some(s"$workDir/purchases")))
    val entities = Seq(
      (1L, ts("2024-01-03 00:00:00"), 100L),
      (2L, ts("2024-01-03 00:00:00"), 103L),
      (3L, ts("2024-01-03 00:00:00"), 104L))
      .toDF("user_id", "event_timestamp", "row_id")
    val out = store.getTrainingSet(entities, "event_timestamp",
        Seq(FeatureRef("activity", "value")),
        FeatureRef("purchases", "amount"), labelWindowSec = 2L * 86400)
      .collect().map(r => r.getAs[Long]("row_id") ->
        ((Option(r.getAs[java.lang.Double]("activity__value")),
          r.getAs[Long]("label"),
          Option(r.getAs[java.lang.Double]("purchases__label_amount")),
          Option(r.getAs[Timestamp]("purchases__label_ts"))))).toMap
    // row 100: feature is the value BEFORE ts (10.0, not the 01-05 one);
    // label is the FIRST purchase within the 2-day window (42.0, not 43.0)
    assert(out(100L) == ((Some(10.0), 1L, Some(42.0),
      Some(ts("2024-01-03 12:00:00")))))
    // row 103: user 2's only purchase falls outside the window → unlabeled
    assert(out(103L) == ((Some(20.0), 0L, None, None)))
    // row 104: unknown entity — no features, no label
    assert(out(104L) == ((None, 0L, None, None)))
  }

  test("a store reloaded from its persisted registry serves identical retrieval") {
    val regDir = Files.createTempDirectory("graft-fs-reg").toString
    store.saveRegistry(regDir)
    val reloaded = FeatureStore.load(spark, regDir)
    // the loaded registry is field-level equal where retrieval cares
    val t0 = store.registry.getTable("activity").get
    val t1 = reloaded.registry.getTable("activity").get
    assert(t1 == t0, "persisted table spec must round-trip exactly")
    val entities = Seq(
      (1L, ts("2024-01-03 00:00:00"), 100L),
      (1L, ts("2024-01-06 00:00:00"), 101L),
      (3L, ts("2024-01-03 00:00:00"), 102L))
      .toDF("user_id", "event_timestamp", "row_id")
    val live = store.getHistoricalFeatures(entities, "event_timestamp",
      Seq(FeatureRef("activity", "value"))).orderBy(col("row_id")).collect().map(_.toSeq)
    val loaded = reloaded.getHistoricalFeatures(entities, "event_timestamp",
      Seq(FeatureRef("activity", "value"))).orderBy(col("row_id")).collect().map(_.toSeq)
    assert(loaded.toSeq == live.toSeq,
      "retrieval through the reloaded registry must match the live store")
  }

  test("ft_historical gate runs against the RELOADED demo registry, losslessly") {
    val dir = "/root/testdata/sf0.001"
    // the gate path (persisted round-trip inside) vs the in-memory registry
    val gate = graft.operators.FeatureOps.ftHistorical(spark, dir)
      .collect().map(_.toSeq)
    val mem = new FeatureStore(Registry.demo(dir), spark)
      .getHistoricalFeatures(
        graft.sources.Tables.events(spark, dir).filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("entity_ts"), col("event_id").as("row_id")),
        "entity_ts", Seq(FeatureRef("user_activity", "value")))
      .orderBy(col("row_id")).collect().map(_.toSeq)
    assert(gate.nonEmpty && gate.toSeq == mem.toSeq)
  }

  test("getTrainingSet: label table may also appear in the feature refs") {
    // the natural call — past activity value as feature, future activity
    // value as label — used to collide on activity__ts/activity__value;
    // the __label_ prefix keeps both column families distinct
    val entities = Seq((1L, ts("2024-01-02 00:00:00"), 200L))
      .toDF("user_id", "event_timestamp", "row_id")
    val out = store.getTrainingSet(entities, "event_timestamp",
        Seq(FeatureRef("activity", "value")),
        FeatureRef("activity", "value"), labelWindowSec = 5L * 86400)
      .collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Double]("activity__value") == 10.0,
      "backward feature: the 01-01 value")
    assert(r.getAs[Long]("label") == 1L)
    assert(r.getAs[Double]("activity__label_value") == 11.0,
      "forward label: the 01-05 value within the 5-day window")
    assert(r.getAs[Timestamp]("activity__label_ts") == ts("2024-01-05 10:00:00"))
  }

  private lazy val dqStore: FeatureStore = {
    // one null, one duplicate (user,ts) key, one out-of-range value; the
    // most-stale key is user 2 (latest 01-02) — every check branch has a
    // hand-computable answer
    val feats = Seq(
      (1L, ts("2024-01-01 00:00:00"), Option.empty[Double]),
      (1L, ts("2024-01-01 00:00:00"), Some(5.0)),
      (1L, ts("2024-01-10 00:00:00"), Some(150.0)),
      (2L, ts("2024-01-02 00:00:00"), Some(50.0)))
      .toDF("user_id", "ts", "value")
    feats.write.mode("overwrite").parquet(s"$workDir/dq")
    val r = new Registry
    r.applyEntity(Entity("user_id", ValueKind.Int64K))
    r.applyTable(FeatureTable(
      name = "dq", entities = Seq("user_id"),
      features = Seq(Feature("value", ValueKind.DoubleK)),
      maxAgeSec = Some(7L * 86400), eventTsCol = "ts",
      batchSourcePath = Some(s"$workDir/dq")))
    r.applyTable(FeatureTable(
      name = "dq_nocontract", entities = Seq("user_id"),
      features = Seq(Feature("value", ValueKind.DoubleK)),
      maxAgeSec = None, eventTsCol = "ts",
      batchSourcePath = Some(s"$workDir/dq")))
    new FeatureStore(r, spark)
  }

  test("validateTable: the four contract classes on a hand-built corpus") {
    import Expectation._
    val out = dqStore.validateTable("dq", Seq(
        NotNull("value", maxNullBp = 0L),
        InRange("value", lo = 0.0, hi = 100.0, maxViolations = 0L),
        InRange("value", lo = 0.0, hi = 100.0, maxViolations = 1L),
        UniqueKey(maxDuplicates = 0L),
        Freshness(ts("2024-01-12 00:00:00"))))
      .collect().map(r => (r.getString(0), r.getLong(2), r.getLong(3),
        r.getInt(4))).toSeq
    // not_null: 1 null of 4 rows = 2500 bp, over the 0 budget
    assert(out.contains(("not_null", 2500L, 0L, 0)))
    // in_range: the 150.0 row violates; fails at budget 0, passes at 1
    assert(out.contains(("in_range", 1L, 0L, 0)))
    assert(out.contains(("in_range", 1L, 1L, 1)))
    // unique_key: 4 rows over 3 distinct (user_id, ts) keys = 1 surplus
    assert(out.contains(("unique_key", 1L, 0L, 0)))
    // freshness: user 2's latest is 01-02, 10 days before "now" — past
    // the 7-day registered max_age
    assert(out.contains(("freshness", 10L * 86400, 7L * 86400, 0)))
  }

  test("validateTable: no registered max_age is a vacuous freshness pass") {
    import Expectation._
    val out = dqStore.validateTable("dq_nocontract",
        Seq(Freshness(ts("2030-01-01 00:00:00")))).collect()
    assert(out.length == 1)
    assert(out.head.getLong(3) == -1L && out.head.getInt(4) == 1)
  }

  test("validateTable fails fast on an unregistered feature") {
    import Expectation._
    val e = intercept[IllegalArgumentException] {
      dqStore.validateTable("dq", Seq(NotNull("nope")))
    }
    assert(e.getMessage.contains("nope"))
    intercept[IllegalArgumentException] {
      dqStore.validateTable("dq", Seq.empty)
    }
  }

  /** Rows of `n` hourly-spread feature events over keys 1..4 from `t0`
    * (epoch seconds); `shift` varies timestamps and values per version. */
  private def events(n: Int, shift: Int): DataFrame =
    spark.range(n).select((col("id") % 4 + 1).as("user_id"),
      timestamp_seconds(lit(1704067200L) + (col("id") * 7919 + shift * 31) % 97 * 3600).as("ts"),
      (col("id") * 1.5 + shift).as("value"))

  /** Entity rows over keys 1..5 (5 has no features), 5 h apart. */
  private lazy val layoutEntities: DataFrame =
    spark.range(20).select((col("id") % 5 + 1).as("user_id"), (col("id") % 3).as("device_id"),
      when(col("id") % 2 === 0, "eu").otherwise("us").as("region"),
      timestamp_seconds(lit(1704067200L + 1800L) + col("id") * 5 * 3600).as("ets"),
      col("id").as("row_id"))

  /** The label window of the layout specs' training sets (two days). */
  private val LayoutLabelWindow = 2L * 86400

  /** getHistoricalFeatures (Backward / Forward / Nearest) and getTrainingSet
    * through the layouts equal PointInTimeJoin over the raw typed sources,
    * and each result reads a layout. Returns the layouts' cached plans. */
  private def assertLayoutRetrieval(fs: FeatureStore, entity: DataFrame, refs: Seq[FeatureRef],
                                    label: FeatureRef): Seq[LogicalPlan] = {
    def raw(t: FeatureTable, names: Seq[String]) = spark.read.parquet(t.batchSourcePath.get)
      .select(t.entities.map(col) ++ (col(t.eventTsCol) +: names.map(n =>
        col(n).cast(t.features.find(_.name == n).get.valueType.sparkType))): _*)
    def reference(mode: FeatureStore.AsofMode) =
      refs.groupBy(_.table).toSeq.sortBy(_._1).foldLeft(entity) { case (acc, (name, rs)) =>
        val t = fs.registry.getTable(name).get
        val join = mode match {
          case FeatureStore.Backward => PointInTimeJoin.asof _
          case FeatureStore.Forward => PointInTimeJoin.asofForward _
          case FeatureStore.Nearest => PointInTimeJoin.asofNearest _
        }
        join(acc, raw(t, rs.map(_.feature)), t.entities, "ets", t.eventTsCol,
          rs.map(_.feature), t.maxAgeSec, s"${name}__")
      }
    def rows(df: DataFrame) = df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    def layouts(df: DataFrame) = {
      val cached = df.queryExecution.withCachedData.collect {
        case r: InMemoryRelation => r.cacheBuilder.logicalPlan
      }
      assert(cached.nonEmpty, "retrieval must read the feature layouts")
      cached
    }
    val modes = Seq(FeatureStore.Backward, FeatureStore.Forward, FeatureStore.Nearest)
    val plans = modes.flatMap { mode =>
      val got = fs.getHistoricalFeatures(entity, "ets", refs, mode)
      assert(rows(got) == rows(reference(mode)), s"$mode retrieval")
      layouts(got)
    }
    val lt = fs.registry.getTable(label.table).get
    val pfx = s"${label.table}__label_"
    val wanted = PointInTimeJoin.asofForward(reference(FeatureStore.Backward),
        raw(lt, Seq(label.feature)), lt.entities, "ets", lt.eventTsCol, Seq(label.feature),
        Some(LayoutLabelWindow), pfx)
      .withColumn("label", when(col(s"${pfx}ts").isNotNull, 1L).otherwise(0L))
    val training = fs.getTrainingSet(entity, "ets", refs, label, LayoutLabelWindow)
    assert(rows(training) == rows(wanted), "training set")
    plans ++ layouts(training)
  }

  /** Whether the cache manager still holds the layout cached from `plan`
    * (its lookup matches by result, and every version of a source reads as
    * the same plan, so the match is checked by identity). */
  private def cached(plan: LogicalPlan): Boolean = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    session.sharedState.cacheManager.lookupCachedData(session, plan)
      .exists(_.cachedRepresentation.cacheBuilder.logicalPlan eq plan)
  }

  test("feature layouts follow their source across an appended part and an in-place rewrite") {
    val dir = s"$workDir/layout-clicks"
    events(24, 0).write.mode("overwrite").parquet(dir)
    val r = new Registry
    r.applyEntity(Entity("user_id", ValueKind.Int64K))
    r.applyTable(FeatureTable("lclicks", Seq("user_id"), Seq(Feature("value", ValueKind.DoubleK)),
      maxAgeSec = Some(2L * 86400), eventTsCol = "ts", batchSourcePath = Some(dir)))
    val fs = new FeatureStore(r, spark)
    val refs = Seq(FeatureRef("lclicks", "value"))
    def backward = fs.getHistoricalFeatures(layoutEntities, "ets", refs).collect().toSet
    val v1 = assertLayoutRetrieval(fs, layoutEntities, refs, refs.head).distinct
    val before = backward
    events(12, 1).write.mode("append").parquet(dir)
    val v2 = assertLayoutRetrieval(fs, layoutEntities, refs, refs.head).distinct
    val appended = backward
    events(24, 2).write.mode("overwrite").parquet(dir)
    val v3 = assertLayoutRetrieval(fs, layoutEntities, refs, refs.head).distinct
    assert(Set(before, appended, backward).size == 3, "each version must move the answer")
    // one live layout per source: each superseded one left the cache manager
    assert(Seq(v1, v2, v3).map(_.size) == Seq(1, 1, 1))
    assert(!cached(v1.head) && !cached(v2.head) && cached(v3.head))
  }

  test("feature layouts keep retrieval exact: composite and INT keys, two entities, TIMESTAMP_NTZ") {
    val base = s"$workDir/layout-keys"
    events(30, 3).withColumn("region", when(col("value") % 3 < 1.5, "eu").otherwise("us"))
      .withColumnRenamed("value", "spend").write.mode("overwrite").parquet(s"$base/spend")
    events(30, 4).withColumnRenamed("user_id", "device_id").withColumn("device_id",
      col("device_id") % 3).withColumnRenamed("value", "battery")
      .write.mode("overwrite").parquet(s"$base/device")
    events(30, 5).withColumn("ts", col("ts").cast("timestamp_ntz"))
      .withColumnRenamed("value", "dwell").write.mode("overwrite").parquet(s"$base/ntz")
    val r = new Registry
    r.applyEntity(Entity("user_id", ValueKind.Int64K))
    r.applyEntity(Entity("region", ValueKind.StringK))
    r.applyEntity(Entity("device_id", ValueKind.Int64K))
    r.applyTable(FeatureTable("lspend", Seq("user_id", "region"),
      Seq(Feature("spend", ValueKind.DoubleK)), eventTsCol = "ts",
      batchSourcePath = Some(s"$base/spend")))
    r.applyTable(FeatureTable("ldevice", Seq("device_id"),
      Seq(Feature("battery", ValueKind.DoubleK)), maxAgeSec = Some(86400L), eventTsCol = "ts",
      batchSourcePath = Some(s"$base/device")))
    r.applyTable(FeatureTable("lntz", Seq("user_id"),
      Seq(Feature("dwell", ValueKind.DoubleK)), maxAgeSec = Some(3L * 86400), eventTsCol = "ts",
      batchSourcePath = Some(s"$base/ntz")))
    val fs = new FeatureStore(r, spark)
    val dwell = FeatureRef("lntz", "dwell")
    assertLayoutRetrieval(fs, layoutEntities,
      Seq(FeatureRef("lspend", "spend"), FeatureRef("ldevice", "battery"), dwell), dwell)
    // an INT entity key against the INT64 source key
    assertLayoutRetrieval(fs, layoutEntities.withColumn("user_id", col("user_id").cast("int")),
      Seq(dwell, FeatureRef("lspend", "spend")), FeatureRef("lspend", "spend"))
  }
}
