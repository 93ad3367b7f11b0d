package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.model._
import graft.serving.{MaterializationLog, OnlineStore, ParquetOnlineStore}

/** Online lookup edge cases and the per-read job budget of
  * getOnlineFeatures against a materialized ParquetOnlineStore. */
class OnlineLookupSpec extends SparkSpecBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private val now = lit(ts("2024-01-06 00:00:00"))

  private lazy val workDir = Files.createTempDirectory("graft-online").toString

  /** `activity` keyed by user_id: users 1 and 2 before 01-03, user 3 and
    * user 1's newer value after it. */
  private lazy val fs: FeatureStore = {
    Seq((1L, ts("2024-01-01 10:00:00"), 10.0),
        (2L, ts("2024-01-02 10:00:00"), 20.0),
        (3L, ts("2024-01-04 10:00:00"), 30.0),
        (1L, ts("2024-01-05 10:00:00"), 11.0))
      .toDF("user_id", "ts", "value")
      .write.mode("overwrite").parquet(s"$workDir/activity")
    val r = new Registry
    r.applyEntity(Entity("user_id", ValueKind.Int64K))
    r.applyTable(FeatureTable("activity", Seq("user_id"),
      Seq(Feature("value", ValueKind.DoubleK)), maxAgeSec = Some(10L * 86400),
      eventTsCol = "ts", batchSourcePath = Some(s"$workDir/activity")))
    new FeatureStore(r, spark)
  }

  private val value = Seq(FeatureRef("activity", "value"))

  /** `activity` materialized in full: users 1, 2 and 3 at 11.0, 20.0, 30.0. */
  private lazy val activityOnline: ParquetOnlineStore = {
    val online = new ParquetOnlineStore(s"$workDir/online-activity")
    fs.materialize("activity", online, "2024-01-01 00:00:00", "2024-02-01 00:00:00")
    online
  }

  /** `spend_by_region` keyed by (user_id, region), materialized: (1, eu)
    * → 4.0 (the later of two rows), (1, us) → 2.0, (2, eu) → 3.0. */
  private lazy val regionFixture: (FeatureStore, ParquetOnlineStore) = {
    val src = s"$workDir/by-region"
    Seq((1L, "eu", ts("2024-01-01 10:00:00"), 1.0),
        (1L, "us", ts("2024-01-02 10:00:00"), 2.0),
        (2L, "eu", ts("2024-01-03 10:00:00"), 3.0),
        (1L, "eu", ts("2024-01-04 10:00:00"), 4.0))
      .toDF("user_id", "region", "ts", "spend")
      .write.mode("overwrite").parquet(src)
    val r = new Registry
    r.applyEntity(Entity("user_id", ValueKind.Int64K))
    r.applyEntity(Entity("region", ValueKind.StringK))
    r.applyTable(FeatureTable("spend_by_region", Seq("user_id", "region"),
      Seq(Feature("spend", ValueKind.DoubleK)), eventTsCol = "ts",
      batchSourcePath = Some(src)))
    val regional = new FeatureStore(r, spark)
    val online = new ParquetOnlineStore(s"$workDir/online-region")
    regional.materialize("spend_by_region", online, "2024-01-01 00:00:00", "2024-02-01 00:00:00")
    (regional, online)
  }

  /** Jobs of one materializeIncremental tick into an existing store and
    * log, on the handle that recorded the log's last window. */
  private val JobsPerTick = 4

  private def served(df: DataFrame): Seq[(Option[Long], Option[Double], String)] =
    df.collect().toSeq.map(rw => (Option(rw.getAs[java.lang.Long]("user_id")).map(_.toLong),
      Option(rw.getAs[java.lang.Double]("activity__value")).map(_.toDouble),
      rw.getAs[String]("activity__value__status")))

  /** Jobs, and stages among them that ran shuffle-map tasks, of the
    * actions `body` runs on this thread. A marker job submitted afterwards
    * is the last event on the listener bus, so once the listener sees it
    * every earlier job and task event has been counted. */
  private def jobsAndShuffleStages(body: => Unit): (Int, Int) = {
    val (group, markerGroup) = ("online-budget", "online-budget-marker")
    val jobs = new AtomicInteger
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val shuffleStages = ConcurrentHashMap.newKeySet[Int]()
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some(`group`) =>
            jobs.incrementAndGet()
            e.stageIds.foreach(stages.add)
          case Some(`markerGroup`) => marker.countDown()
          case _ =>
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskType == "ShuffleMapTask" && stages.contains(e.stageId))
          shuffleStages.add(e.stageId)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "one online read")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(markerGroup, "listener bus marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(marker.await(30, TimeUnit.SECONDS), "listener bus never delivered the marker job")
    } finally sc.removeSparkListener(listener)
    (jobs.get, shuffleStages.size)
  }

  test("a 16-key read of a materialized store runs at most 3 jobs and no shuffle") {
    val online = activityOnline
    val keys = 1L to 16L
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    def read(req: DataFrame): (Int, Int, Seq[(Option[Long], Option[Double], String)]) = {
      var rows = Seq.empty[(Option[Long], Option[Double], String)]
      val (jobs, shuffleStages) = jobsAndShuffleStages {
        rows = served(fs.getOnlineFeatures(online, req, value, now))
      }
      (jobs, shuffleStages, rows.sortBy(_._1))
    }
    // a local request: one key-filtered store scan, joined on the driver
    val (jobs, shuffleStages, rows) = read(keys.toDF("user_id"))
    assert(jobs == 1, s"one local online read ran $jobs jobs")
    assert(shuffleStages == 0, s"one local online read ran $shuffleStages shuffle stages")
    assert(rows == keys.map {
      case 1L => (Some(1L), Some(11.0), "PRESENT")
      case 2L => (Some(2L), Some(20.0), "PRESENT")
      case 3L => (Some(3L), Some(30.0), "PRESENT")
      case k => (Some(k), None, "NOT_FOUND")
    })
    // the same keys from an RDD take the broadcast-join path
    val (rddJobs, rddShuffleStages, rddRows) =
      read(spark.sparkContext.parallelize(keys, 2).toDF("user_id"))
    assert(rddJobs <= 3, s"one distributed online read ran $rddJobs jobs")
    assert(rddShuffleStages == 0, s"one distributed online read ran $rddShuffleStages shuffle stages")
    assert(rddRows == rows)
  }

  test("a local read of null keys only runs no job") {
    val online = activityOnline
    var rows = Seq.empty[(Option[Long], Option[Double], String)]
    val (jobs, _) = jobsAndShuffleStages {
      rows = served(fs.getOnlineFeatures(online, Seq[Option[Long]](None, None).toDF("user_id"),
        value, now))
    }
    assert(jobs == 0, s"a read of null keys ran $jobs jobs")
    assert(rows == Seq.fill(2)((None, None, "NOT_FOUND")))
  }

  test("an upsert into an existing store runs one shuffle stage") {
    val online = new ParquetOnlineStore(s"$workDir/online-merge-budget")
    def upsert(rows: Seq[(Long, Timestamp, Double)]): Unit =
      online.upsert(rows.toDF("user_id", "ts", "value"), Seq("user_id"), Seq("ts"), Seq("value"))
    upsert(Seq((1L, ts("2024-01-01 10:00:00"), 10.0), (2L, ts("2024-01-02 10:00:00"), 20.0)))
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val (_, shuffleStages) = jobsAndShuffleStages {
      upsert(Seq((1L, ts("2024-01-05 10:00:00"), 11.0), (1L, ts("2024-01-04 10:00:00"), 12.0),
        (2L, ts("2024-01-01 10:00:00"), 99.0), (3L, ts("2024-01-04 10:00:00"), 30.0)))
    }
    assert(shuffleStages == 1, s"one upsert ran $shuffleStages shuffle stages")
    val snap = online.snapshot(spark).collect()
      .map(rw => rw.getAs[Long]("user_id") -> rw.getAs[Double]("value")).toMap
    assert(snap == Map(1L -> 11.0, 2L -> 20.0, 3L -> 30.0))
  }

  test("an incremental tick logs its window's row count from the upsert's own scan") {
    val online = new ParquetOnlineStore(s"$workDir/online-incremental")
    val log = new MaterializationLog(s"$workDir/incremental-log")
    def tick(upTo: String): Unit =
      assert(fs.materializeIncremental("activity", online, log, upTo,
        origin = "2024-01-01 00:00:00").isDefined)
    tick("2024-01-03 00:00:00")
    val (jobs, _) = jobsAndShuffleStages(tick("2024-02-01 00:00:00"))
    tick("2024-03-01 00:00:00") // an empty window
    // no count of its own: a separate count() of the window ran 2 more
    // jobs (its aggregate's map stage and result under AQE); no log read:
    // the handle remembers the end it recorded, where a re-read of the
    // log ran 3 more
    assert(jobs <= JobsPerTick, s"one incremental tick ran $jobs jobs")
    val logged = log.entries(spark).collect()
      .map(rw => rw.getAs[String]("end_ts") -> rw.getAs[Long]("n_rows")).toMap
    assert(logged == Map("2024-01-03 00:00:00" -> 2L, "2024-02-01 00:00:00" -> 2L,
      "2024-03-01 00:00:00" -> 0L))
  }

  test("a log handle sees the window another handle appended") {
    val online = new ParquetOnlineStore(s"$workDir/online-two-logs")
    val path = s"$workDir/two-handle-log"
    val (a, b) = (new MaterializationLog(path), new MaterializationLog(path))
    def tick(log: MaterializationLog, upTo: String) =
      fs.materializeIncremental("activity", online, log, upTo, origin = "2024-01-01 00:00:00")
    assert(tick(a, "2024-01-03 00:00:00").isDefined)
    assert(tick(b, "2024-01-04 00:00:00") == Some(("2024-01-03 00:00:00", "2024-01-04 00:00:00")))
    // a remembers its own window, but the log now lists b's file too
    assert(a.lastEndExclusive(spark, fs.project, "activity", "default") ==
      Some("2024-01-04 00:00:00"))
    assert(tick(a, "2024-01-04 00:00:00").isEmpty)
    assert(tick(a, "2024-01-05 00:00:00") == Some(("2024-01-04 00:00:00", "2024-01-05 00:00:00")))
    assert(b.lastEndExclusive(spark, fs.project, "activity", "default") ==
      Some("2024-01-05 00:00:00"))
  }

  test("a composite entity key serves online") {
    val (regional, online) = regionFixture
    val req = Seq((1L, "eu"), (1L, "us"), (2L, "eu"), (2L, "us")).toDF("user_id", "region")
    val out = regional.getOnlineFeatures(online, req,
        Seq(FeatureRef("spend_by_region", "spend")), now)
      .collect().map(rw => (rw.getAs[Long]("user_id"), rw.getAs[String]("region")) ->
        (Option(rw.getAs[java.lang.Double]("spend_by_region__spend")).map(_.toDouble),
         rw.getAs[String]("spend_by_region__spend__status"))).toMap
    assert(out == Map(
      (1L, "eu") -> (Some(4.0), "PRESENT"),   // latest of the two (1, eu) rows
      (1L, "us") -> (Some(2.0), "PRESENT"),
      (2L, "eu") -> (Some(3.0), "PRESENT"),
      (2L, "us") -> (None, "NOT_FOUND")))     // both key parts exist, the pair does not
  }

  test("duplicate request rows each get one response row; a null key is NOT_FOUND") {
    val online = new ParquetOnlineStore(s"$workDir/online-dups")
    fs.materialize("activity", online, "2024-01-01 00:00:00", "2024-02-01 00:00:00")
    val req = Seq(Some(1L), Some(1L), Some(2L), None, Some(9L), Some(9L), None).toDF("user_id")
    val out = served(fs.getOnlineFeatures(online, req, value, now))
    assert(out.sortBy(_._1.getOrElse(Long.MinValue)) == Seq(
      (None, None, "NOT_FOUND"), (None, None, "NOT_FOUND"),
      (Some(1L), Some(11.0), "PRESENT"), (Some(1L), Some(11.0), "PRESENT"),
      (Some(2L), Some(20.0), "PRESENT"),
      (Some(9L), None, "NOT_FOUND"), (Some(9L), None, "NOT_FOUND")))
  }

  test("one request over two tables keyed by different entities") {
    val (twoTables, store) = OnlineLookupSpec.twoEntityFixture(spark)
    val req = Seq((1L, 100L), (1L, 200L), (2L, 100L), (3L, 300L)).toDF("user_id", "item_id")
    val out = twoTables.getOnlineFeatures(store, req,
        Seq(FeatureRef("users", "level"), FeatureRef("items", "rating")), now)
      .collect().map(rw => (rw.getAs[Long]("user_id"), rw.getAs[Long]("item_id")) ->
        (Option(rw.getAs[java.lang.Long]("users__level")).map(_.toLong),
         rw.getAs[String]("users__level__status"),
         Option(rw.getAs[java.lang.Double]("items__rating")).map(_.toDouble),
         rw.getAs[String]("items__rating__status"))).toMap
    assert(out == Map(
      (1L, 100L) -> (Some(5L), "PRESENT", Some(4.5), "PRESENT"),
      (1L, 200L) -> (Some(5L), "PRESENT", Some(3.0), "PRESENT"),
      (2L, 100L) -> (Some(7L), "PRESENT", Some(4.5), "PRESENT"),
      (3L, 300L) -> (None, "NOT_FOUND", None, "NOT_FOUND")))
  }

  /** Serves `rows` once as a local relation and once as an RDD-backed
    * frame, requires the same schema and rows from both paths, and returns
    * the rows sorted (binary values as byte sequences). */
  private def sameOnBothPaths(store: FeatureStore, online: OnlineStore, ddl: String,
                              rows: Seq[Row], refs: Seq[FeatureRef],
                              at: Column = now): Seq[Seq[Any]] = {
    val schema = StructType.fromDDL(ddl)
    val local = store.getOnlineFeatures(online, spark.createDataFrame(rows.asJava, schema), refs, at)
    val distributed = store.getOnlineFeatures(online,
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema), refs, at)
    // the local answer is a local relation itself: it was looked up on the driver
    assert(local.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(local.schema == distributed.schema)
    def sorted(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq
      .map(_.toSeq.map { case b: Array[Byte] => b.toSeq; case v => v })
      .sortBy(_.mkString("|"))
    val out = sorted(local)
    assert(out == sorted(distributed))
    out
  }

  test("local and distributed requests agree: nulls, duplicates, widened keys, max age, views") {
    val online = activityOnline
    // rows are (user_id, status, value)
    val statusOf = (out: Seq[Seq[Any]]) => out.map(r => r.head -> r(1)).toMap
    // duplicate, null and missing keys
    assert(statusOf(sameOnBothPaths(fs, online, "user_id BIGINT",
      Seq(1L, 1L, 2L, null, 9L, 9L, null).map(Row(_)), value)) ==
      Map(1L -> "PRESENT", 2L -> "PRESENT", (null: Any) -> "NOT_FOUND", 9L -> "NOT_FOUND"))
    // an INT request key against the INT64 store key
    assert(statusOf(sameOnBothPaths(fs, online, "user_id INT",
      Seq(1, 2, 9, null).map(Row(_)), value)) ==
      Map(1 -> "PRESENT", 2 -> "PRESENT", 9 -> "NOT_FOUND", (null: Any) -> "NOT_FOUND"))
    // extra request columns, the key not first
    sameOnBothPaths(fs, online, "tag STRING, user_id BIGINT, n INT",
      Seq(Row("a", 1L, 10), Row("b", null, 11), Row("c", 9L, null), Row(null, 3L, 12)), value)
    // user 1's value is exactly max_age (10 days) old, then 1 µs older
    val boundary = ts("2024-01-15 10:00:00")
    assert(statusOf(sameOnBothPaths(fs, online, "user_id BIGINT", Seq(Row(1L)), value,
      lit(boundary))) == Map(1L -> "PRESENT"))
    assert(statusOf(sameOnBothPaths(fs, online, "user_id BIGINT", Seq(Row(1L)), value,
      lit(ts("2024-01-15 10:00:00.000001")))) == Map(1L -> "OUTSIDE_MAX_AGE"))
    // on-demand views, with the input requested and pulled in only for derivation
    fs.registry.applyOnDemandView(OnDemandView("activity_x", value,
      Seq(OnDemandFeature("doubled", "activity__value * 2"))))
    val doubled = FeatureRef("activity_x", "doubled")
    Seq(Seq(doubled), value :+ doubled).foreach { refs =>
      sameOnBothPaths(fs, online, "user_id BIGINT", Seq(1L, 2L, 9L, null).map(Row(_)), refs)
    }
  }

  test("local and distributed requests agree: composite, BYTES and two-entity keys, null values") {
    val (regional, byRegion) = regionFixture
    sameOnBothPaths(regional, byRegion, "user_id BIGINT, region STRING",
      Seq(Row(1L, "eu"), Row(1L, "us"), Row(2L, "eu"), Row(2L, "us"), Row(null, "eu"),
        Row(1L, null), Row(1L, "eu")),
      Seq(FeatureRef("spend_by_region", "spend")))
    val (twoTables, twoStore) = OnlineLookupSpec.twoEntityFixture(spark)
    sameOnBothPaths(twoTables, twoStore, "user_id BIGINT, item_id BIGINT",
      Seq(Row(1L, 100L), Row(1L, 200L), Row(2L, 100L), Row(3L, 300L), Row(null, 100L)),
      Seq(FeatureRef("users", "level"), FeatureRef("items", "rating")))
    // BYTES keys match by content; a stored null value is NULL_VALUE
    val r = new Registry
    r.applyEntity(Entity("doc", ValueKind.BytesK))
    r.applyTable(FeatureTable("blobs", Seq("doc"), Seq(Feature("score", ValueKind.DoubleK)),
      eventTsCol = "ts", batchSourcePath = Some("unread/blobs")))
    val snap = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
        Row(Project.Default, Array[Byte](1, 2), ts("2024-01-01 10:00:00"), 1.5),
        Row(Project.Default, Array[Byte](3), ts("2024-01-01 10:00:00"), null)), 1),
      StructType.fromDDL("__project STRING, doc BINARY, ts TIMESTAMP, score DOUBLE"))
    val out = sameOnBothPaths(new FeatureStore(r, spark), OnlineLookupSpec.readOnly(snap),
      "doc BINARY", Seq(Array[Byte](1, 2), Array[Byte](3), Array[Byte](9), null,
        Array[Byte](1, 2)).map(Row(_)), Seq(FeatureRef("blobs", "score")))
    assert(out == Seq(
      Seq(Seq[Byte](1, 2), "PRESENT", 1.5), Seq(Seq[Byte](1, 2), "PRESENT", 1.5),
      Seq(Seq[Byte](3), "NULL_VALUE", null), Seq(Seq[Byte](9), "NOT_FOUND", null),
      Seq(null, "NOT_FOUND", null)))
  }

  test("a handle's remembered schema never hides another handle's writes") {
    val path = s"$workDir/online-shared"
    val a = new ParquetOnlineStore(path)
    fs.materialize("activity", a, "2024-01-01 00:00:00", "2024-01-03 00:00:00")
    // what this handle wrote is what a fresh inference reads back
    assert(a.snapshot(spark).schema == spark.read.parquet(path).schema)
    val req = Seq(1L, 2L, 3L).toDF("user_id")
    assert(served(fs.getOnlineFeatures(a, req, value, now)).sortBy(_._1) == Seq(
      (Some(1L), Some(10.0), "PRESENT"), (Some(2L), Some(20.0), "PRESENT"),
      (Some(3L), None, "NOT_FOUND")))
    // B reads, then upserts the next window: a new key and a newer value
    val b = new ParquetOnlineStore(path)
    assert(b.snapshot(spark).count() == 2L)
    fs.materialize("activity", b, "2024-01-03 00:00:00", "2024-02-01 00:00:00")
    val expected = Seq(
      (Some(1L), Some(11.0), "PRESENT"), (Some(2L), Some(20.0), "PRESENT"),
      (Some(3L), Some(30.0), "PRESENT"))
    assert(served(fs.getOnlineFeatures(a, req, value, now)).sortBy(_._1) == expected)
    // a handle opened on a store it never wrote
    val c = new ParquetOnlineStore(path)
    assert(served(fs.getOnlineFeatures(c, req, value, now)).sortBy(_._1) == expected)
    // B rewrites the store without the value column: A must read the new
    // schema, not serve its remembered one with a column of nulls
    b.upsert(spark.read.parquet(path).select("__project", "user_id", "ts"),
      Seq("__project", "user_id"), Seq("ts"), Nil)
    assert(a.snapshot(spark).schema == spark.read.parquet(path).schema)
    assert(!a.snapshot(spark).columns.contains("value"))
  }
}

object OnlineLookupSpec {
  /** Two tables keyed by different entities — `users` (user_id → level)
    * and `items` (item_id → rating) — served from one read-only store
    * whose snapshot holds both tables' rows, each with the other table's
    * key and features null. */
  def twoEntityFixture(spark: SparkSession): (FeatureStore, OnlineStore) = {
    val r = new Registry
    r.applyEntity(Entity("user_id", ValueKind.Int64K))
    r.applyEntity(Entity("item_id", ValueKind.Int64K))
    // online reads never touch a table's batch source; the registry only
    // requires one to be named
    r.applyTable(FeatureTable("users", Seq("user_id"),
      Seq(Feature("level", ValueKind.Int64K)), eventTsCol = "ts",
      batchSourcePath = Some("unread/users")))
    r.applyTable(FeatureTable("items", Seq("item_id"),
      Seq(Feature("rating", ValueKind.DoubleK)), eventTsCol = "ts",
      batchSourcePath = Some("unread/items")))
    val t = Timestamp.valueOf("2024-01-01 10:00:00")
    val rows = Seq(
      Row(Project.Default, 1L, null, t, 5L, null),
      Row(Project.Default, 2L, null, t, 7L, null),
      Row(Project.Default, null, 100L, t, null, 4.5),
      Row(Project.Default, null, 200L, t, null, 3.0))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "__project STRING, user_id BIGINT, item_id BIGINT, ts TIMESTAMP, level BIGINT, rating DOUBLE")
    val snap = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    (new FeatureStore(r, spark), readOnly(snap))
  }

  /** A read-only store whose snapshot is `snap`. */
  def readOnly(snap: DataFrame): OnlineStore = new OnlineStore {
    override def upsert(rows: DataFrame, keys: Seq[String], orderCols: Seq[String],
                        valueCols: Seq[String]): Unit =
      throw new UnsupportedOperationException("read-only fixture store")
    override def snapshot(s: SparkSession): DataFrame = snap
  }
}
