package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.LatestValue
import graft.serving.ParquetOnlineStore
import graft.streaming.StreamIngest

final case class EventRow(event_id: Long, ts: Timestamp, user_id: Long,
                          event_type: String, value: Double)
final case class ClickRow(click_id: Long, click_ts: Timestamp, c_user: Long)
final case class PurchRow(purchase_id: Long, p_ts: Timestamp, p_user: Long)

class StreamIngestSpec extends SparkSpecBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val batch1 = Seq(
    EventRow(1L, ts("2024-01-01 10:00:00"), 1L, "click", 1.0),
    EventRow(2L, ts("2024-01-01 11:00:00"), 1L, "view", 2.0),
    EventRow(3L, ts("2024-01-01 10:30:00"), 2L, "click", 3.0))
  private val batch2 = Seq(
    EventRow(4L, ts("2024-01-01 09:00:00"), 1L, "click", 9.0), // late: must NOT win
    EventRow(5L, ts("2024-01-01 12:00:00"), 2L, "view", 5.0))

  test("streaming latest-upsert equals batch LatestValue") {
    val dir = Files.createTempDirectory("graft-stream").toString
    val store = new ParquetOnlineStore(s"$dir/store")
    val input = MemoryStream[EventRow](spark)

    val writer = StreamIngest.latestUpsert(input.toDF(),
      keys = Seq("user_id"), orderCols = Seq("ts", "event_id"),
      valueCols = Seq("event_type", "value"))(store.upsert)

    input.addData(batch1: _*)
    StreamIngest.runOnce(writer, s"$dir/cp1").awaitTermination()
    input.addData(batch2: _*)
    StreamIngest.runOnce(writer, s"$dir/cp2").awaitTermination()

    val streamed = store.snapshot(spark)
      .select("user_id", "ts", "event_id", "event_type", "value")
      .collect().map(r => r.getLong(0) -> (r.getTimestamp(1), r.getDouble(4))).toMap
    val batch = LatestValue.latest((batch1 ++ batch2).toDF(),
        Seq("user_id"), Seq("ts", "event_id"), Seq("ts", "event_id", "event_type", "value"))
      .collect().map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Timestamp]("ts"), r.getAs[Double]("value"))).toMap

    assert(streamed == batch)
    assert(streamed(1L)._2 == 2.0) // late row 4 did not overwrite row 2
    assert(streamed(2L)._2 == 5.0)
  }

  test("file-source streaming ingestion (readStream over a growing dir)") {
    val dir = Files.createTempDirectory("graft-filestream").toString
    val store = new ParquetOnlineStore(s"$dir/store")
    // batch 1 lands before the stream starts; batch 2 arrives later
    batch1.toDF().write.mode("append").parquet(s"$dir/in")
    val schema = batch1.toDF().schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/in")
    val writer = StreamIngest.latestUpsert(stream,
      keys = Seq("user_id"), orderCols = Seq("ts", "event_id"),
      valueCols = Seq("event_type", "value"))(store.upsert)
    StreamIngest.runOnce(writer, s"$dir/cp").awaitTermination()
    batch2.toDF().write.mode("append").parquet(s"$dir/in")
    StreamIngest.runOnce(writer, s"$dir/cp").awaitTermination() // same checkpoint: only new files
    val streamed = store.snapshot(spark)
      .collect().map(r => r.getAs[Long]("user_id") -> r.getAs[Double]("value")).toMap
    assert(streamed == Map(1L -> 2.0, 2L -> 5.0)) // late row 4 lost, row 5 won
  }

  test("registry-driven stream materialization serves through getOnlineFeatures") {
    import graft.model._
    // full facade round trip: registry spec -> stream source -> latest
    // upsert -> online lookup, driven purely by registry metadata
    val dir = Files.createTempDirectory("graft-stream-facade").toString
    batch1.toDF().write.mode("append").parquet(s"$dir/in")
    val r = new Registry
    r.applyEntity(Entity("user_id", ValueKind.Int64K))
    r.applyTable(FeatureTable("activity", Seq("user_id"),
      Seq(Feature("value", ValueKind.DoubleK), Feature("event_type", ValueKind.StringK)),
      eventTsCol = "ts",
      createdTsCol = Some("event_id"),
      batchSourcePath = Some(s"$dir/in"),
      streamSource = Some(FileStreamSourceSpec(s"$dir/in", "parquet", "ts"))))
    val fs = new FeatureStore(r, spark)
    val store = new ParquetOnlineStore(s"$dir/store")
    val writer = fs.materializeStream("activity", store, batch1.toDF().schema)
    StreamIngest.runOnce(writer, s"$dir/cp").awaitTermination()
    batch2.toDF().write.mode("append").parquet(s"$dir/in")
    StreamIngest.runOnce(writer, s"$dir/cp").awaitTermination()
    val out = fs.getOnlineFeatures(store, Seq(1L, 2L, 9L).toDF("user_id"),
        Seq(FeatureRef("activity", "value")),
        lit(ts("2024-01-01 13:00:00")))
      .collect().map(rw => rw.getAs[Long]("user_id") ->
        (Option(rw.getAs[java.lang.Double]("activity__value")),
         rw.getAs[String]("activity__value__status"))).toMap
    assert(out(1L) == (Some(2.0), "PRESENT")) // late row 4 did not win
    assert(out(2L) == (Some(5.0), "PRESENT"))
    assert(out(9L) == (None, "NOT_FOUND"))
    // a table without a stream source refuses stream materialization
    r.applyTable(FeatureTable("batch_only", Seq("user_id"),
      Seq(Feature("value", ValueKind.DoubleK)), eventTsCol = "ts",
      batchSourcePath = Some(s"$dir/in")))
    assertThrows[IllegalArgumentException](
      fs.materializeStream("batch_only", store, batch1.toDF().schema))
  }

  test("streaming TTL-fused upsert drops lapsed keys per micro-batch") {
    import graft.model._
    // the registry's max_age picks the stream write: a 7-day table drops
    // the 30-day-old key at the micro-batch's processing time, a table
    // without a max_age keeps it
    val dir = Files.createTempDirectory("graft-stream-ttl").toString
    val now = System.currentTimeMillis()
    val fresh = new Timestamp(now - 3600L * 1000)           // 1h old
    val stale = new Timestamp(now - 30L * 86400 * 1000)     // 30d old
    val rows = Seq(
      EventRow(1L, fresh, 1L, "click", 1.0),
      EventRow(2L, stale, 2L, "view", 2.0)).toDF()
    rows.write.parquet(s"$dir/in")
    val r = new Registry
    r.applyEntity(Entity("user_id", ValueKind.Int64K))
    def declare(name: String, maxAgeSec: Option[Long]): Unit =
      r.applyTable(FeatureTable(name, Seq("user_id"),
        Seq(Feature("value", ValueKind.DoubleK), Feature("event_type", ValueKind.StringK)),
        maxAgeSec = maxAgeSec, eventTsCol = "ts", createdTsCol = Some("event_id"),
        batchSourcePath = Some(s"$dir/in"),
        streamSource = Some(FileStreamSourceSpec(s"$dir/in", "parquet", "ts"))))
    declare("activity_ttl", Some(7L * 86400))
    declare("activity_nottl", None)
    val fs = new FeatureStore(r, spark)
    def streamedKeys(table: String): Set[Long] = {
      val store = new ParquetOnlineStore(s"$dir/store-$table")
      StreamIngest.runOnce(fs.materializeStream(table, store, rows.schema),
        s"$dir/cp-$table").awaitTermination()
      store.snapshot(spark).select("user_id").collect().map(_.getLong(0)).toSet
    }
    assert(streamedKeys("activity_ttl") == Set(1L),
      "stale key must lapse in the fused merge")
    assert(streamedKeys("activity_nottl") == Set(1L, 2L),
      "a table without a max_age keeps every key")
  }

  test("dedupStreamJittered drops re-stamped re-deliveries, keeps distinct keys") {
    val dir = Files.createTempDirectory("graft-dedup-jitter").toString
    val input = MemoryStream[EventRow](spark)
    // user 7's event re-delivered 5s later with a re-stamped ts (exact-match
    // dedup would pass BOTH); user 8 is a distinct key and must survive
    input.addData(
      EventRow(1L, ts("2024-01-01 10:00:00"), 7L, "click", 1.0),
      EventRow(2L, ts("2024-01-01 10:00:05"), 7L, "click", 1.0),
      EventRow(3L, ts("2024-01-01 10:01:00"), 8L, "view", 2.0))
    val q = StreamIngest.dedupStreamJittered(input.toDF(), "ts", Seq("user_id"), "1 hour")
      .writeStream.format("memory").queryName("dedup_jitter_out")
      .outputMode("append")
      .option("checkpointLocation", s"$dir/cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val out = spark.table("dedup_jitter_out").collect()
    assert(out.map(_.getAs[Long]("user_id")).sorted.toSeq == Seq(7L, 8L))
    // first-seen wins for the duplicated key
    assert(out.map(_.getAs[Long]("event_id")).toSet == Set(1L, 3L))
  }

  test("Kafka spec drives materializeStream end-to-end (rate demo transport)") {
    import graft.model._
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft-rate-demo").toString
    spark.conf.set("graft.stream.demo", "rate")
    try {
      val r = new Registry
      r.applyEntity(Entity("user_id", ValueKind.Int64K))
      r.applyTable(FeatureTable("clicks", Seq("user_id"),
        Seq(Feature("value", ValueKind.DoubleK), Feature("event_type", ValueKind.StringK)),
        eventTsCol = "ts",
        batchSourcePath = Some(s"$dir/unused"),
        streamSource = Some(KafkaSourceSpec("broker-1:9092", "clicks.v1",
          StreamFormat.AvroFormat(), eventTsCol = "ts"))))
      val fs = new FeatureStore(r, spark)
      val store = graft.serving.OnlineStore.fromSpec(StoreSpec("rate-demo-kafka", "memory"))
      val schema = StructType(Seq(
        StructField("user_id", LongType), StructField("ts", TimestampType),
        StructField("value", DoubleType), StructField("event_type", StringType)))
      // the NON-file spec opens and materializes through the same writer
      val q = fs.materializeStream("clicks", store, schema)
        .option("checkpointLocation", s"$dir/cp").start()
      try {
        val deadline = System.currentTimeMillis() + 60000
        var n = 0L
        while (n == 0 && System.currentTimeMillis() < deadline) {
          Thread.sleep(250)
          n = try store.snapshot(spark).count()
              catch { case _: org.apache.spark.sql.AnalysisException => 0L }
        }
        assert(n > 0, "no rows flowed from the Kafka-spec'd demo stream")
      } finally q.stop()
      // and the serving path reads what the stream materialized
      val someUser = store.snapshot(spark).select("user_id").head().getLong(0)
      val out = fs.getOnlineFeatures(store, Seq(someUser).toDF("user_id"),
        Seq(FeatureRef("clicks", "value")), lit(ts("2024-01-01 00:00:00")))
      assert(out.head().getAs[String]("clicks__value__status") == "PRESENT")
      // without the demo conf the spec still refuses (no connector here)
      spark.conf.unset("graft.stream.demo")
      assertThrows[UnsupportedOperationException](
        fs.materializeStream("clicks", store, schema))
    } finally spark.conf.unset("graft.stream.demo")
  }

  test("Kinesis spec drives materializeStream end-to-end (rate demo transport)") {
    import graft.model._
    import org.apache.spark.sql.types._
    // the reference treats Kinesis as a first-class source type alongside
    // Kafka (DataSource.java kinesis options; DataSourceValidator covers
    // both) — so the demo-transport parity proof must too: spec resolution,
    // field mapping, LatestValue upsert and serving are the production
    // path for BOTH broker-backed spec types
    val dir = Files.createTempDirectory("graft-rate-demo-kinesis").toString
    spark.conf.set("graft.stream.demo", "rate")
    try {
      val r = new Registry
      r.applyEntity(Entity("user_id", ValueKind.Int64K))
      r.applyTable(FeatureTable("taps", Seq("user_id"),
        Seq(Feature("value", ValueKind.DoubleK), Feature("event_type", ValueKind.StringK)),
        eventTsCol = "ts",
        batchSourcePath = Some(s"$dir/unused"),
        streamSource = Some(KinesisSourceSpec("us-east-1", "taps.v1",
          StreamFormat.AvroFormat(), eventTsCol = "ts"))))
      val fs = new FeatureStore(r, spark)
      val store = graft.serving.OnlineStore.fromSpec(StoreSpec("rate-demo-kinesis", "memory"))
      val schema = StructType(Seq(
        StructField("user_id", LongType), StructField("ts", TimestampType),
        StructField("value", DoubleType), StructField("event_type", StringType)))
      val q = fs.materializeStream("taps", store, schema)
        .option("checkpointLocation", s"$dir/cp").start()
      try {
        val deadline = System.currentTimeMillis() + 60000
        var n = 0L
        while (n == 0 && System.currentTimeMillis() < deadline) {
          Thread.sleep(250)
          n = try store.snapshot(spark).count()
              catch { case _: org.apache.spark.sql.AnalysisException => 0L }
        }
        assert(n > 0, "no rows flowed from the Kinesis-spec'd demo stream")
      } finally q.stop()
      val someUser = store.snapshot(spark).select("user_id").head().getLong(0)
      val out = fs.getOnlineFeatures(store, Seq(someUser).toDF("user_id"),
        Seq(FeatureRef("taps", "value")), lit(ts("2024-01-01 00:00:00")))
      assert(out.head().getAs[String]("taps__value__status") == "PRESENT")
    } finally spark.conf.unset("graft.stream.demo")
  }

  test("Kinesis spec opens under the rate demo transport; refuses without") {
    import graft.model._
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("ts", TimestampType),
      StructField("value", DoubleType)))
    val spec = KinesisSourceSpec("us-east-1", "clicks",
      StreamFormat.ProtoFormat("com.example.E"))
    assertThrows[UnsupportedOperationException](
      StreamIngest.readStreamSource(spark, spec, schema))
    spark.conf.set("graft.stream.demo", "rate")
    try {
      val df = StreamIngest.readStreamSource(spark, spec, schema)
      assert(df.isStreaming)
      assert(df.schema.fieldNames.toSeq == Seq("user_id", "ts", "value"))
    } finally spark.conf.unset("graft.stream.demo")
  }

  test("stream-stream interval join attributes purchases to in-window clicks") {
    val dir = Files.createTempDirectory("graft-stream-ij").toString
    val clicks = MemoryStream[ClickRow](spark)
    val purchases = MemoryStream[PurchRow](spark)
    clicks.addData(
      ClickRow(10L, ts("2024-01-01 10:00:00"), 1L),
      ClickRow(11L, ts("2024-01-01 10:25:00"), 1L),
      ClickRow(12L, ts("2024-01-01 09:00:00"), 2L),
      // far-future rows advance both watermarks so all joinable pairs emit
      ClickRow(99L, ts("2024-01-03 00:00:00"), 9L))
    purchases.addData(
      PurchRow(20L, ts("2024-01-01 10:30:00"), 1L), // clicks 10 + 11 in window
      PurchRow(21L, ts("2024-01-01 12:00:00"), 1L), // both clicks older than 1h
      PurchRow(22L, ts("2024-01-01 09:30:00"), 2L), // click 12 in window
      PurchRow(98L, ts("2024-01-03 00:00:00"), 8L))
    val q = StreamIngest.intervalJoin(clicks.toDF(), purchases.toDF(),
        leftKey = "c_user", rightKey = "p_user",
        leftTs = "click_ts", rightTs = "p_ts",
        windowSec = 3600L, watermark = "10 minutes")
      .writeStream.format("memory").queryName("ij_out")
      .outputMode("append")
      .option("checkpointLocation", s"$dir/cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("ij_out")
      .select("purchase_id", "click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == Set((20L, 10L), (20L, 11L), (22L, 12L)))
    // batch twin: the identical join condition over the same rows — the
    // streaming result must be exactly the batch relation, not a sample
    val clicksDf = Seq(
      ClickRow(10L, ts("2024-01-01 10:00:00"), 1L),
      ClickRow(11L, ts("2024-01-01 10:25:00"), 1L),
      ClickRow(12L, ts("2024-01-01 09:00:00"), 2L),
      ClickRow(99L, ts("2024-01-03 00:00:00"), 9L)).toDF()
    val purchDf = Seq(
      PurchRow(20L, ts("2024-01-01 10:30:00"), 1L),
      PurchRow(21L, ts("2024-01-01 12:00:00"), 1L),
      PurchRow(22L, ts("2024-01-01 09:30:00"), 2L),
      PurchRow(98L, ts("2024-01-03 00:00:00"), 8L)).toDF()
    val batchPairs = clicksDf.join(purchDf,
        col("c_user") === col("p_user") &&
          col("click_ts") <= col("p_ts") &&
          col("click_ts") >= col("p_ts") - expr("INTERVAL 3600 SECONDS"))
      .select("purchase_id", "click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batchPairs)
  }

  test("errorBudgetStream: folded updates through the shared finisher equal batch") {
    val rnd = new scala.util.Random(31)
    val baseMs = ts("2024-06-01 00:00:00").getTime
    // ~10 days of events with a silent day in the middle (day 4 is empty):
    // the stream can never emit it; the shared finisher's grid must
    val all = (0 until 300).map { _ =>
      val d = { val x = rnd.nextInt(10); if (x == 4) 5 else x }
      StreamIngest.ErrEvent(
        new Timestamp(baseMs + d * 86400000L + rnd.nextInt(86400) * 1000L),
        if (rnd.nextInt(5) == 0) "error" else "view")
    }
    val shuffled = rnd.shuffle(all)
    val dir = Files.createTempDirectory("graft-stream-errbudget").toString
    val input = MemoryStream[StreamIngest.ErrEvent](spark)
    val q = StreamIngest.errorBudgetStream(input.toDS(), watermark = "720 hours")
      .writeStream.format("memory").queryName("errb_out")
      .outputMode("update")
      .option("checkpointLocation", s"$dir/cp")
      .start()
    shuffled.grouped(1 + shuffled.size / 5).foreach { b =>
      input.addData(b: _*); q.processAllAvailable()
    }
    q.stop()
    // update mode re-emits a day's RUNNING totals; totals are monotone, so
    // the converged value per day is the max
    import spark.implicits._
    val folded = spark.table("errb_out").collect()
      .groupBy(_.getAs[Long]("day"))
      .map { case (d, rs) =>
        (d, rs.map(_.getAs[Long]("n_events")).max, rs.map(_.getAs[Long]("n_errors")).max)
      }.toSeq.toDF("day", "n_events", "n_errors")
    val got = graft.operators.Growth.errorBudgetFrame(folded).collect().map(_.toSeq)
    val want = graft.operators.Growth.eventsErrorBudgetOf(
      all.map(e => (e.ts, e.event_type)).toDF("ts", "event_type")).collect().map(_.toSeq)
    assert(want.exists(r => r(1) == 0L), "fixture must include a zero-day row")
    assert(got.toSeq == want.toSeq)
  }

  test("registerSketchStream: converged registers equal batch under shuffled re-delivery") {
    val rnd = new scala.util.Random(61)
    val baseMs = ts("2024-08-01 00:00:00").getTime
    val all = (0 until 800).map { _ =>
      StreamIngest.DayEvent(rnd.nextInt(300).toLong,
        new Timestamp(baseMs + rnd.nextInt(10 * 86400) * 1000L))
    }
    // re-deliver a third of the events: max is idempotent, the fold must
    // not care
    val feed = rnd.shuffle(all ++ all.take(all.size / 3))
    val dir = Files.createTempDirectory("graft-stream-sketch").toString
    val input = MemoryStream[StreamIngest.DayEvent](spark)
    val q = StreamIngest.registerSketchStream(input.toDS(), watermark = "720 hours")
      .writeStream.format("memory").queryName("sk_out")
      .outputMode("update")
      .option("checkpointLocation", s"$dir/cp")
      .start()
    feed.grouped(1 + feed.size / 5).foreach { b =>
      input.addData(b); q.processAllAvailable()
    }
    q.stop()
    // update mode re-emits running maxima; converged value = max per key
    val folded = spark.table("sk_out").collect()
      .groupBy(r => (r.getAs[Long]("day"), r.getAs[Long]("bucket")))
      .view.mapValues(_.map(_.getAs[Long]("m_reg")).max).toMap
    import spark.implicits._
    val ev = all.map(e => (e.user_id, e.ts)).toDF("user_id", "ts")
    val h = graft.operators.Sketches.mixedIdHash(col("user_id"))
    val batch = ev.select(
        floor(unix_micros(col("ts")) / lit(86400000000L)).cast("long").as("day"),
        pmod(h, lit(graft.operators.Sketches.M.toLong)).as("bucket"),
        graft.operators.Sketches.rhoCol(shiftright(h, 6)).as("rho"))
      .groupBy(col("day"), col("bucket")).agg(max(col("rho")).as("m_reg"))
      .collect()
      .map(r => (r.getAs[Long]("day"), r.getAs[Long]("bucket")) -> r.getAs[Long]("m_reg"))
      .toMap
    assert(batch.nonEmpty && folded == batch,
      s"register mismatch: ${(batch.toSet -- folded.toSet).take(3)}")
  }

  test("pqCodesStream: streamed codes byte-equal batch encoding under shuffled batching") {
    // frozen hand model: 2 coarse cells along dim 0, identity rotation,
    // per-subspace codebooks with 2 codes each — everything the encoder
    // consumes, no training involved (retraining is batch by design)
    val dim = 64
    val ivfCents = Seq(
      Seq.tabulate(dim)(i => if (i == 0) 1.0 else 0.0),
      Seq.tabulate(dim)(i => if (i == 0) -1.0 else 0.0))
    val rot = Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
    val nSub = 4
    val sub = dim / nSub
    val cents = (0 until nSub).flatMap { s =>
      Seq((s, 0, Seq.fill(sub)(0.25)), (s, 1, Seq.fill(sub)(-0.25)))
    }
    val model = graft.operators.Similarity.PqModel(ivfCents, rot, cents, nSub)
    val rnd = new scala.util.Random(64)
    val baseMs = ts("2024-08-01 00:00:00").getTime
    val all = (0 until 200).map { i =>
      StreamIngest.VecRow(i.toLong,
        new Timestamp(baseMs + rnd.nextInt(86400) * 1000L),
        Seq.fill(dim)(rnd.nextFloat() * 2f - 1f))
    }
    val feed = rnd.shuffle(all ++ all.take(all.size / 4)) // re-delivery
    val dir = Files.createTempDirectory("graft-pq-stream").toString
    val input = MemoryStream[StreamIngest.VecRow](spark)
    val q = StreamIngest.pqCodesStream(input.toDS(), model, s"$dir/codes",
        watermark = "720 hours")
      .option("checkpointLocation", s"$dir/cp")
      .start()
    feed.grouped(1 + feed.size / 5).foreach { b =>
      input.addData(b); q.processAllAvailable()
    }
    q.stop()
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("cell"), (0 until nSub).map(s => r.getAs[Int](s"c$s"))))
    val streamed = rowsOf(spark.read.parquet(s"$dir/codes")
      .select(Seq(col("vec_id"), col("cell").cast("long").as("cell")) ++
        (0 until nSub).map(s => col(s"c$s")): _*))
    // exactly once per vector despite re-delivery (the dedup contract)
    assert(streamed.length == all.length,
      s"expected ${all.length} coded vectors, got ${streamed.length}")
    val batch = rowsOf(graft.operators.Similarity.encodePq(
      all.map(v => (v.vec_id, v.embedding)).toDF("vec_id", "embedding"), model)
      .select(Seq(col("vec_id"), col("cell").cast("long").as("cell")) ++
        (0 until nSub).map(s => col(s"c$s")): _*))
    assert(streamed.toMap == batch.toMap,
      s"code mismatch: ${(batch.toSet -- streamed.toSet).take(3)}")
  }

  test("pqCodesStream: fresh checkpoint over a populated sink fails fast; clear-and-replay is byte-identical") {
    // a crash between the sink write and the checkpoint commit replays the
    // batch — batchId-keyed overwrite absorbs that (same offsets → same id).
    // Losing the WHOLE checkpoint is different (r13 advice): batchIds
    // restart at 0, and if the SOURCE has moved on, new rows re-key BELOW
    // existing runs and lose freshest-wins to stale data — silently. The
    // sink cannot distinguish a byte-identical full replay from that
    // hazard, so batch 0 into a sink holding higher committed ids fails
    // FAST with the recovery instruction; following it (clear the sink,
    // replay from the source) reproduces the index byte-for-byte.
    val dim = 64
    val ivfCents = Seq(
      Seq.tabulate(dim)(i => if (i == 0) 1.0 else 0.0),
      Seq.tabulate(dim)(i => if (i == 0) -1.0 else 0.0))
    val rot = Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
    val nSub = 4
    val cents = (0 until nSub).flatMap { s =>
      Seq((s, 0, Seq.fill(dim / nSub)(0.25)), (s, 1, Seq.fill(dim / nSub)(-0.25)))
    }
    val model = graft.operators.Similarity.PqModel(ivfCents, rot, cents, nSub)
    val rnd = new scala.util.Random(67)
    val baseMs = ts("2024-08-01 00:00:00").getTime
    val all = (0 until 120).map { i =>
      StreamIngest.VecRow(i.toLong, new Timestamp(baseMs + i * 1000L),
        Seq.fill(dim)(rnd.nextFloat() * 2f - 1f))
    }
    val dir = Files.createTempDirectory("graft-pq-replay").toString
    def runOnce(cp: String): Unit = {
      val input = MemoryStream[StreamIngest.VecRow](spark)
      val q = StreamIngest.pqCodesStream(input.toDS(), model, s"$dir/codes",
          watermark = "720 hours")
        .option("checkpointLocation", cp).start()
      all.grouped(40).foreach { b => input.addData(b); q.processAllAvailable() }
      q.stop()
    }
    runOnce(s"$dir/cp1")
    val before = spark.read.parquet(s"$dir/codes")
      .orderBy("vec_id").collect().map(_.toString).toSeq
    assert(before.size == all.size)
    // losing the checkpoint entirely: batch 0 of the fresh checkpoint must
    // be REJECTED at the first micro-batch, before anything is overwritten
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runOnce(s"$dir/cp2")
    }
    val msg = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).filter(_ != null).mkString(" | ")
    assert(msg.contains("FRESH checkpoint") && msg.contains("Clear the sink"),
      s"expected the fresh-checkpoint rejection, got: ${msg.take(300)}")
    // the documented recovery — clear the sink, replay from the source —
    // reproduces the index byte-for-byte (same offsets → same batchIds)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/codes"), true)
    runOnce(s"$dir/cp3")
    val after = spark.read.parquet(s"$dir/codes")
      .orderBy("vec_id").collect().map(_.toString).toSeq
    assert(after == before, "clear-and-replay must reproduce the index byte-for-byte")
  }

  test("decontaminateStream flags exactly the batch gate's docs at ingestion") {
    val sf = "/root/testdata/sf0.001"
    val bloom = graft.operators.Dedup.benchBloomFor(spark, sf)
    val batch = graft.operators.Dedup.corpusBloomDecontaminate(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val base = ts("2024-08-01 00:00:00").getTime
    val corpus = graft.sources.Tables.documents(spark, sf)
      .filter(pmod(col("doc_id"), lit(97)) =!= 0)
      .select(col("doc_id"), col("text")).collect().map { r =>
        StreamIngest.DocRow(r.getLong(0), new Timestamp(base + r.getLong(0)),
          r.getString(1))
      }
    // shuffled feed with re-delivery: the op is stateless, so duplicates
    // flag IDENTICALLY (idempotent per row) — the no-state contract
    val feed = new scala.util.Random(66).shuffle(corpus.toSeq ++ corpus.take(20))
    val dir = Files.createTempDirectory("graft-decon-stream").toString
    val input = MemoryStream[StreamIngest.DocRow](spark)
    val q = StreamIngest.decontaminateStream(input.toDS(), bloom)
      .writeStream.format("memory").queryName("decon_out")
      .outputMode("append")
      .option("checkpointLocation", s"$dir/cp")
      .start()
    feed.grouped(1 + feed.size / 4).foreach { b =>
      input.addData(b); q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("decon_out").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_flagged_shingles"))
      .toSet
    assert(batch.nonEmpty, "gate corpus must contain contaminated docs")
    assert(streamed.map(_._1) == batch.keySet && streamed == batch.toSet,
      s"stream/batch flag divergence: ${streamed.diff(batch.toSet).take(3)} " +
        s"vs ${batch.toSet.diff(streamed).take(3)}")
  }

  test("stream-built PQ index serves identical answers to the batch-built one") {
    val sf = "/root/testdata/sf0.001"
    val dir = Files.createTempDirectory("graft-pq-serve").toString
    spark.conf.set("graft.pq.dir", s"$dir/pq")
    spark.conf.set("graft.ivf.dir", s"$dir/ivf")
    try {
      // frozen model from the persisted artifacts (trains once here)
      val model = graft.operators.Similarity.loadPqModel(spark, sf)
      // stream the WHOLE corpus through the codes maintainer in shuffled
      // micro-batches
      val base = ts("2024-08-01 00:00:00").getTime
      val rows = graft.sources.Tables.embeddings(spark, sf).collect().map { r =>
        StreamIngest.VecRow(r.getAs[Long]("vec_id"),
          new Timestamp(base + r.getAs[Long]("vec_id")),
          r.getSeq[Float](r.fieldIndex("embedding")))
      }
      val feed = new scala.util.Random(65).shuffle(rows.toSeq)
      val input = MemoryStream[StreamIngest.VecRow](spark)
      val q = StreamIngest.pqCodesStream(input.toDS(), model, s"$dir/codes",
          watermark = "720 hours")
        .option("checkpointLocation", s"$dir/cp")
        .start()
      feed.grouped(1 + feed.size / 4).foreach { b =>
        input.addData(b); q.processAllAvailable()
      }
      q.stop()
      // the query over the STREAMED codes is the exact batch plan; with
      // encoding a pure function of the frozen model, the answers must
      // be identical row for row
      def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"),
          r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos"))).toSeq
      val streamed = rowsOf(graft.operators.Similarity
        .knnOverPqCodes(spark, sf, s"$dir/codes", nprobe = 2, rerank = 62))
      val batch = rowsOf(graft.operators.Similarity
        .knnIvfPqWith(spark, sf, nprobe = 2, rerank = 62))
      assert(batch.nonEmpty && streamed == batch,
        s"stream-built index diverged: ${streamed.diff(batch).take(3)}")
    } finally {
      spark.conf.unset("graft.pq.dir"); spark.conf.unset("graft.ivf.dir")
    }
  }

  test("knnOverPqCodes refuses codes streamed under a retrained model (stale geometry)") {
    // codes cannot be re-assigned at read (the codes table has no
    // embeddings), so serving over a stream directory written under a
    // DIFFERENT model must fail loudly — never decode old codes through
    // the current ADC tables (the CLAUDE.md derived-artifact rule,
    // applied to the streamed half of the codes store)
    val sf = "/root/testdata/sf0.001"
    val dir = Files.createTempDirectory("graft-pq-stale").toString
    spark.conf.set("graft.pq.dir", s"$dir/pq")
    spark.conf.set("graft.ivf.dir", s"$dir/ivf")
    try {
      val model = graft.operators.Similarity.loadPqModel(spark, sf)
      // a "previous training run": same shape, one rotation entry nudged
      val oldRot = model.rot.map(_.clone())
      oldRot(0)(0) = oldRot(0)(0) + 0.25
      val retired = model.copy(rot = oldRot)
      assert(graft.operators.Similarity.pqModelContentHash(retired) !=
        graft.operators.Similarity.pqModelContentHash(model))
      val base = ts("2024-08-01 00:00:00").getTime
      val rows = graft.sources.Tables.embeddings(spark, sf).limit(40).collect().map { r =>
        StreamIngest.VecRow(r.getAs[Long]("vec_id"),
          new Timestamp(base + r.getAs[Long]("vec_id")),
          r.getSeq[Float](r.fieldIndex("embedding")))
      }
      val input = MemoryStream[StreamIngest.VecRow](spark)
      val q = StreamIngest.pqCodesStream(input.toDS(), retired, s"$dir/codes",
          watermark = "720 hours")
        .option("checkpointLocation", s"$dir/cp").start()
      input.addData(rows.toSeq); q.processAllAvailable(); q.stop()
      val e = intercept[IllegalArgumentException] {
        graft.operators.Similarity
          .knnOverPqCodes(spark, sf, s"$dir/codes", nprobe = 2, rerank = 62)
      }
      assert(e.getMessage.contains("geometry"), e.getMessage)
    } finally {
      spark.conf.unset("graft.pq.dir"); spark.conf.unset("graft.ivf.dir")
    }
  }

  test("quantileSketchStream: deduped additive registers equal batch under re-delivery") {
    val rnd = new scala.util.Random(62)
    val baseMs = ts("2024-08-01 00:00:00").getTime
    val all = (0 until 900).map { i =>
      StreamIngest.ValueEvent(i.toLong,
        new Timestamp(baseMs + rnd.nextInt(8 * 86400) * 1000L),
        // spread across octaves incl. the clamp region (value <= 0)
        math.exp(rnd.nextDouble() * 14.0) / 100.0 - 0.02)
    }
    // re-deliver 40%: SUM is not idempotent, so only the dedup protects it
    val feed = rnd.shuffle(all ++ all.take(all.size * 2 / 5))
    val dir = Files.createTempDirectory("graft-stream-qsk").toString
    val input = MemoryStream[StreamIngest.ValueEvent](spark)
    val q = StreamIngest.quantileSketchStream(input.toDS(), watermark = "720 hours")
      .writeStream.format("memory").queryName("qsk_out")
      .outputMode("update")
      .option("checkpointLocation", s"$dir/cp")
      .start()
    feed.grouped(1 + feed.size / 6).foreach { b =>
      input.addData(b); q.processAllAvailable()
    }
    q.stop()
    // update mode re-emits running counts; dedup makes them monotone, so
    // converged value = last = max per key
    val folded = spark.table("qsk_out").collect()
      .groupBy(r => (r.getAs[Long]("day"), r.getAs[Long]("bucket")))
      .view.mapValues(_.map(_.getAs[Long]("n")).max).toMap
    import spark.implicits._
    val batch = graft.operators.Sketches.withHdrBucket(
        all.map(e => (e.ts, e.value)).toDF("ts", "value")
          .select(
            floor(unix_micros(col("ts")) / lit(86400000000L)).cast("long").as("day"),
            greatest(expr("CAST(round(value * 100) AS BIGINT)"), lit(1L)).as("cents")))
      .groupBy(col("day"), col("bucket")).agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getAs[Long]("day"), r.getAs[Long]("bucket")) -> r.getAs[Long]("n"))
      .toMap
    assert(batch.nonEmpty && folded == batch,
      s"histogram register mismatch: ${(batch.toSet -- folded.toSet).take(3)}")
    // fold across ALL days: summed registers = the whole-span histogram —
    // the merge the batch read-out runs before estimating
    val weekFold = folded.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    val whole = batch.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    assert(weekFold == whole)
  }

  test("vectorIndexStream: dedup'd cell-partitioned index; pruned serving equals brute") {
    val rnd = new scala.util.Random(23)
    val centers = Seq(
      Seq(10.0, 0.0, 0.0, 0.0), Seq(0.0, 10.0, 0.0, 0.0), Seq(0.0, 0.0, 10.0, 0.0))
    val base = ts("2024-10-01 00:00:00").getTime
    val vecs = (0 until 60).map { i =>
      val v = centers(i % 3).toArray.map(_.toFloat)
      (0 until 4).foreach(d => v(d) += rnd.nextFloat() - 0.5f)
      StreamIngest.VecRow(i.toLong,
        new Timestamp(base + i * 1000L), v.toSeq)
    }
    // 30% re-delivered with jittered timestamps: the dedup must absorb them
    val feed = rnd.shuffle(vecs ++ vecs.take(18).map(v =>
      v.copy(ts = new Timestamp(v.ts.getTime + 77L))))
    val dir = Files.createTempDirectory("graft-vecidx").toString
    val input = MemoryStream[StreamIngest.VecRow](spark)
    val q = StreamIngest.vectorIndexStream(input.toDS(), centers, s"$dir/idx",
        watermark = "720 hours")
      .option("checkpointLocation", s"$dir/cp")
      .start()
    feed.grouped(1 + feed.size / 4).foreach { b =>
      input.addData(b: _*); q.processAllAvailable()
    }
    q.stop()

    val idx = spark.read.parquet(s"$dir/idx")
    assert(idx.count() == 60L, "re-deliveries must not duplicate index rows")
    // streamed assignment == batch assignment under the same quantizer
    import spark.implicits._
    val batchDf = vecs.map(v => (v.vec_id, v.embedding)).toDF("vec_id", "embedding")
    val batchCells = batchDf
      .withColumn("cell", graft.operators.Similarity
        .nearestCellStructAuto(col("embedding"), centers).getField("cell"))
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell")).toMap
    idx.collect().foreach { r =>
      assert(r.getAs[Int]("cell") == batchCells(r.getAs[Long]("vec_id")),
        s"cell mismatch for vec ${r.getAs[Long]("vec_id")}")
    }

    // serving with all cells probed == brute top-3 on the full set
    val queries = batchDf.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val served = graft.operators.Similarity.knnOverVectorIndex(
        spark, s"$dir/idx", queries, centers, nprobe = 3, k = 3)
    def cosR(a: Seq[Float], b: Seq[Float]): BigDecimal = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val n = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum) *
        math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      BigDecimal(dot / n).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    }
    val byId = vecs.map(v => v.vec_id -> v.embedding).toMap
    val brute = (0L until 5L).flatMap { qid =>
      vecs.filter(_.vec_id != qid)
        .map(v => (v.vec_id, cosR(byId(qid), v.embedding)))
        .sortBy { case (id, c) => (-c, id) }.take(3)
        .zipWithIndex.map { case ((nid, _), i) => (qid, i + 1L, nid) }
    }.toSet
    val got = served.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank").toLong,
        r.getAs[Long]("neighbor_id"))).toSet
    assert(got == brute, s"\n only-served ${got -- brute}\n only-brute ${brute -- got}")

    // the cell isin filter (exactly what knnOverVectorIndex pushes) must
    // reach the scan as a PARTITION filter and cut the files read — the
    // directory layout is the inverted index
    val probeScanDf = spark.read.parquet(s"$dir/idx")
      .filter(col("cell").isin(batchCells(0L)))
    probeScanDf.collect()
    val scan = probeScanDf.queryExecution.executedPlan.collectLeaves().collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.getOrElse(fail("expected a FileSourceScanExec"))
    assert(scan.partitionFilters.exists(_.references.map(_.name).toSeq.contains("cell")),
      "cell predicate must be a partition filter, not a data filter")
    val totalFiles = spark.read.parquet(s"$dir/idx").inputFiles.length.toLong
    val scanned = scan.metrics("numFiles").value
    assert(scanned > 0 && scanned < totalFiles,
      s"partition pruning must cut the scan: read $scanned of $totalFiles files")
  }

  test("ivfDeltaStream: streamed lists equal batch index; delta serving exact; stale geometry re-assigns") {
    import graft.operators.Similarity
    val sf = "/root/testdata/sf0.001"
    val dir = Files.createTempDirectory("graft-ivf-delta").toString
    spark.conf.set("graft.ivf.dir", s"$dir/ivf")
    spark.conf.set("graft.ivfflat.dir", s"$dir/ivfflat")
    try {
      val cents = Similarity.loadOrTrainCentroids(spark, sf)
      val base = ts("2024-08-01 00:00:00").getTime
      def stream(rows: Seq[StreamIngest.VecRow], cs: Seq[Seq[Double]],
                 path: String, cp: String): Unit = {
        val input = MemoryStream[StreamIngest.VecRow](spark)
        val q = StreamIngest.ivfDeltaStream(input.toDS(), cs, path,
            watermark = "720 hours")
          .option("checkpointLocation", cp).start()
        rows.grouped(1 + rows.size / 3).foreach { b =>
          input.addData(b); q.processAllAvailable()
        }
        q.stop()
      }
      // 1. streamed assignment ≡ batch index: stream the WHOLE corpus
      //    under the live geometry; (vec_id, cell) sets must be identical
      val corpus = graft.sources.Tables.embeddings(spark, sf).collect().map { r =>
        StreamIngest.VecRow(r.getAs[Long]("vec_id"),
          new Timestamp(base + r.getAs[Long]("vec_id")),
          r.getSeq[Float](r.fieldIndex("embedding")))
      }.toSeq
      stream(corpus, cents, s"$dir/deltaAll", s"$dir/cpAll")
      def pairsOf(df: org.apache.spark.sql.DataFrame) = df
        .select(col("vec_id"), col("cell").cast("long").as("cell"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val streamed = pairsOf(spark.read.parquet(s"$dir/deltaAll"))
      val batchIdx = pairsOf(Similarity.ivfIndex(spark, sf))
      assert(streamed == batchIdx,
        s"streamed lists diverge: ${(streamed -- batchIdx).take(3)} / ${(batchIdx -- streamed).take(3)}")

      // 2. serving over batch + NEW streamed vectors, all cells probed,
      //    must equal exact brute force over the UNION corpus
      val rnd = new scala.util.Random(68)
      val dim = corpus.head.embedding.size
      val extra = (0 until 20).map { i =>
        StreamIngest.VecRow(100000L + i, new Timestamp(base + 999000L + i),
          Seq.fill(dim)(rnd.nextFloat() * 2f - 1f))
      }
      stream(extra, cents, s"$dir/deltaNew", s"$dir/cpNew")
      val served = Similarity.knnIvfWithStreamedDelta(spark, sf, s"$dir/deltaNew",
          nprobe = cents.size, k = 5)
        .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
          r.getAs[Long]("neighbor_id"))).toSeq
      def cosR(a: Seq[Float], b: Seq[Float]): BigDecimal = {
        val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
        val nn = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum) *
          math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
        BigDecimal(dot / nn).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      }
      val all = corpus ++ extra
      val byId = all.map(v => v.vec_id -> v.embedding).toMap
      val brute = (0L until 10L).flatMap { qid =>
        all.filter(_.vec_id != qid)
          .map(v => (v.vec_id, cosR(byId(qid), v.embedding)))
          .sortBy { case (id, c) => (-c, id) }.take(5)
          .zipWithIndex.map { case ((nid, _), i) => (qid, i + 1, nid) }
      }
      assert(served == brute,
        s"\n only-served ${(served.toSet -- brute.toSet).take(3)}\n only-brute ${(brute.toSet -- served.toSet).take(3)}")

      // 3. stale geometry: the same extra rows written under a RETRAINED
      //    (different) quantizer's hash must be re-assigned at read and
      //    serve identical answers — never probed against old cell ids
      val wrongCents = Seq(
        Seq.tabulate(dim)(i => if (i == 0) 1.0 else 0.0),
        Seq.tabulate(dim)(i => if (i == 0) -1.0 else 0.0))
      stream(extra, wrongCents, s"$dir/deltaStale", s"$dir/cpStale")
      val geoms = spark.read.parquet(s"$dir/deltaStale")
        .select(col("geom")).distinct().collect().map(_.getString(0)).toSeq
      assert(geoms == Seq("g" + Similarity.centroidContentHash(wrongCents)),
        s"delta must carry the writer quantizer's hash, got $geoms")
      val servedStale = Similarity.knnIvfWithStreamedDelta(spark, sf, s"$dir/deltaStale",
          nprobe = cents.size, k = 5)
        .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
          r.getAs[Long]("neighbor_id"))).toSeq
      assert(servedStale == served, "stale-geometry delta must re-assign, not mis-probe")
    } finally {
      spark.conf.unset("graft.ivf.dir"); spark.conf.unset("graft.ivfflat.dir")
    }
  }

  test("ivfDeltaStream serving enforces add-only: an overlapping vec_id ranks once, batch wins") {
    import graft.operators.Similarity
    val sf = "/root/testdata/sf0.001"
    val dir = Files.createTempDirectory("graft-ivf-dedup").toString
    spark.conf.set("graft.ivf.dir", s"$dir/ivf")
    spark.conf.set("graft.ivfflat.dir", s"$dir/ivfflat")
    try {
      val cents = Similarity.loadOrTrainCentroids(spark, sf)
      val base = ts("2024-08-01 00:00:00").getTime
      def stream(rows: Seq[StreamIngest.VecRow], cs: Seq[Seq[Double]],
                 path: String, cp: String): Unit = {
        val input = MemoryStream[StreamIngest.VecRow](spark)
        val q = StreamIngest.ivfDeltaStream(input.toDS(), cs, path,
            watermark = "720 hours")
          .option("checkpointLocation", cp).start()
        input.addData(rows); q.processAllAvailable(); q.stop()
      }
      def serve(delta: String) = Similarity
        .knnIvfWithStreamedDelta(spark, sf, delta, nprobe = cents.size, k = 5)
        .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
          r.getAs[Long]("neighbor_id"))).toSeq
      val baseline = serve(s"$dir/none") // no delta directory: batch only
      // poison: vec_ids 20..29 ALREADY live in the batch index, but the
      // delta re-ingests them carrying QUERY 0's embedding (cos = 1.0
      // against query 0) — without serve-time dedup each would seize a
      // top-k slot; with batch-wins enforcement serving must be
      // byte-identical to the batch-only baseline
      val q0 = graft.sources.Tables.embeddings(spark, sf)
        .filter(col("vec_id") === 0L).collect()
        .head.getSeq[Float](1)
      val poison = (20 until 30).map(i =>
        StreamIngest.VecRow(i.toLong, new Timestamp(base + i), q0))
      stream(poison, cents, s"$dir/dup", s"$dir/cpDup")
      assert(serve(s"$dir/dup") == baseline,
        "a re-ingested batch vec_id must not perturb serving (batch wins)")
      // same violation under a STALE geometry: the re-assigned rows must
      // also lose to the batch rows, not double-rank
      val dim = q0.size
      val wrongCents = Seq(
        Seq.tabulate(dim)(i => if (i == 0) 1.0 else 0.0),
        Seq.tabulate(dim)(i => if (i == 0) -1.0 else 0.0))
      stream(poison, wrongCents, s"$dir/dup", s"$dir/cpDupStale")
      assert(serve(s"$dir/dup") == baseline,
        "a stale-geometry re-ingest must not perturb serving either")
    } finally {
      spark.conf.unset("graft.ivf.dir"); spark.conf.unset("graft.ivfflat.dir")
    }
  }

  test("compactStreamIndex: folded delta serves byte-identical with bounded dirs") {
    import graft.operators.Similarity
    val sf = "/root/testdata/sf0.001"
    val dir = Files.createTempDirectory("graft-ivf-compact").toString
    spark.conf.set("graft.ivf.dir", s"$dir/ivf")
    spark.conf.set("graft.ivfflat.dir", s"$dir/ivfflat")
    try {
      val cents = Similarity.loadOrTrainCentroids(spark, sf)
      val base = ts("2024-08-01 00:00:00").getTime
      val dim = graft.sources.Tables.embeddings(spark, sf)
        .select(col("embedding")).head().getSeq[Float](0).size
      val rnd = new scala.util.Random(12)
      val extra = (0 until 32).map { i =>
        StreamIngest.VecRow(100000L + i, new Timestamp(base + i),
          Seq.fill(dim)(rnd.nextFloat() * 2f - 1f))
      }
      val input = MemoryStream[StreamIngest.VecRow](spark)
      val q = StreamIngest.ivfDeltaStream(input.toDS(), cents, s"$dir/delta",
          watermark = "720 hours")
        .option("checkpointLocation", s"$dir/cp").start()
      extra.grouped(8).foreach { b => input.addData(b); q.processAllAvailable() }
      q.stop()

      def serve() = Similarity
        .knnIvfWithStreamedDelta(spark, sf, s"$dir/delta", nprobe = cents.size, k = 5)
        .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
          r.getAs[Long]("neighbor_id"))).toSeq
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def batchDirs(): Seq[String] = {
        val geom = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/delta"))
          .filter(_.getPath.getName.startsWith("geom=")).head.getPath
        fs.listStatus(geom).map(_.getPath.getName).toSeq
          .filter(_.startsWith("batch=")).sorted
      }
      def dataFiles(): Int = {
        val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$dir/delta"), true)
        var n = 0
        while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
        n
      }
      val before = serve()
      assert(batchDirs().size >= 3, s"need >=3 micro-batches, got ${batchDirs()}")
      val filesBefore = dataFiles()

      StreamIngest.compactStreamIndex(spark, s"$dir/delta")
      assert(batchDirs().size == 2,
        s"compaction must leave folded + live, got ${batchDirs()}")
      assert(dataFiles() < filesBefore,
        s"compaction must reduce data files: $filesBefore -> ${dataFiles()}")
      assert(serve() == before, "post-compaction serving must be byte-identical")
      // idempotent: a second pass finds < 3 batch dirs and changes nothing
      StreamIngest.compactStreamIndex(spark, s"$dir/delta")
      assert(batchDirs().size == 2 && serve() == before)
    } finally {
      spark.conf.unset("graft.ivf.dir"); spark.conf.unset("graft.ivfflat.dir")
    }
  }

  test("compactEvery: in-stream compaction bounds dirs; serving equals the uncompacted run") {
    import graft.operators.Similarity
    val sf = "/root/testdata/sf0.001"
    val dir = Files.createTempDirectory("graft-ivf-autocompact").toString
    spark.conf.set("graft.ivf.dir", s"$dir/ivf")
    spark.conf.set("graft.ivfflat.dir", s"$dir/ivfflat")
    try {
      val cents = Similarity.loadOrTrainCentroids(spark, sf)
      val base = ts("2024-08-01 00:00:00").getTime
      val dim = graft.sources.Tables.embeddings(spark, sf)
        .select(col("embedding")).head().getSeq[Float](0).size
      val rnd = new scala.util.Random(99)
      val extra = (0 until 32).map { i =>
        StreamIngest.VecRow(200000L + i, new Timestamp(base + i),
          Seq.fill(dim)(rnd.nextFloat() * 2f - 1f))
      }
      def stream(path: String, cp: String, every: Int): Unit = {
        val input = MemoryStream[StreamIngest.VecRow](spark)
        val q = StreamIngest.ivfDeltaStream(input.toDS(), cents, path,
            watermark = "720 hours", compactEvery = every)
          .option("checkpointLocation", cp).start()
        extra.grouped(4).foreach { b => input.addData(b); q.processAllAvailable() }
        q.stop()
      }
      stream(s"$dir/plain", s"$dir/cpP", every = 0)
      stream(s"$dir/auto", s"$dir/cpA", every = 2)
      def serve(p: String) = Similarity
        .knnIvfWithStreamedDelta(spark, sf, p, nprobe = cents.size, k = 5)
        .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
          r.getAs[Long]("neighbor_id"))).toSeq
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def batchDirs(p: String): Int = {
        val geom = fs.listStatus(new org.apache.hadoop.fs.Path(p))
          .filter(_.getPath.getName.startsWith("geom=")).head.getPath
        fs.listStatus(geom).count(_.getPath.getName.startsWith("batch="))
      }
      // each processAllAvailable runs a data batch PLUS an empty
      // watermark-commit batch, and the sink writes both — exactly the
      // small-files decay compaction exists for
      assert(batchDirs(s"$dir/plain") >= 8,
        s"sanity: uncompacted run keeps every micro-batch dir, got ${batchDirs(s"$dir/plain")}")
      assert(batchDirs(s"$dir/auto") <= 3,
        s"auto-compaction must bound dirs, got ${batchDirs(s"$dir/auto")}")
      assert(serve(s"$dir/auto") == serve(s"$dir/plain"),
        "auto-compacted serving must equal the uncompacted run")
    } finally {
      spark.conf.unset("graft.ivf.dir"); spark.conf.unset("graft.ivfflat.dir")
    }
  }

  test("tieredFanout: in-stream tiered compaction bounds dirs; serving equals the uncompacted run") {
    // the append-forever deployment of the r13 tiered fold: the hook
    // fires after EVERY batch (a listing when no level is full) and only
    // ever merges fanout same-level runs — bounded dirs AND bounded
    // write amplification, with serving identical to an uncompacted run.
    import graft.operators.Similarity
    val sf = "/root/testdata/sf0.001"
    val dir = Files.createTempDirectory("graft-ivf-tieredstream").toString
    spark.conf.set("graft.ivf.dir", s"$dir/ivf")
    spark.conf.set("graft.ivfflat.dir", s"$dir/ivfflat")
    try {
      val cents = Similarity.loadOrTrainCentroids(spark, sf)
      val base = ts("2024-08-01 00:00:00").getTime
      val dim = graft.sources.Tables.embeddings(spark, sf)
        .select(col("embedding")).head().getSeq[Float](0).size
      val rnd = new scala.util.Random(41)
      val extra = (0 until 36).map { i =>
        StreamIngest.VecRow(400000L + i, new Timestamp(base + i),
          Seq.fill(dim)(rnd.nextFloat() * 2f - 1f))
      }
      def stream(path: String, cp: String, fanout: Int): Unit = {
        val input = MemoryStream[StreamIngest.VecRow](spark)
        val q = StreamIngest.ivfDeltaStream(input.toDS(), cents, path,
            watermark = "720 hours", tieredFanout = fanout)
          .option("checkpointLocation", cp).start()
        extra.grouped(3).foreach { b => input.addData(b); q.processAllAvailable() }
        q.stop()
      }
      stream(s"$dir/plain", s"$dir/cpP", fanout = 0)
      stream(s"$dir/tiered", s"$dir/cpT", fanout = 2)
      def serve(p: String) = Similarity
        .knnIvfWithStreamedDelta(spark, sf, p, nprobe = cents.size, k = 5)
        .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
          r.getAs[Long]("neighbor_id"))).toSeq
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def batchDirs(p: String): Int = {
        val geom = fs.listStatus(new org.apache.hadoop.fs.Path(p))
          .filter(_.getPath.getName.startsWith("geom=")).head.getPath
        fs.listStatus(geom).count(_.getPath.getName.startsWith("batch="))
      }
      val plainDirs = batchDirs(s"$dir/plain")
      assert(plainDirs >= 12,
        s"sanity: uncompacted run keeps every micro-batch dir, got $plainDirs")
      // fanout 2 over ~24 committed ids: ≤ 1 un-merged run per level +
      // live ⇒ ≤ log2(24)+2 ≈ 7 dirs
      assert(batchDirs(s"$dir/tiered") <= 7,
        s"tiered in-stream compaction must bound dirs, got ${batchDirs(s"$dir/tiered")}")
      assert(serve(s"$dir/tiered") == serve(s"$dir/plain"),
        "tiered in-stream serving must equal the uncompacted run")
      // the wiring is the shared maybeCompact hook — prove it on a SECOND
      // sink family (vectorIndexStream: no geom level, batch= at the root)
      def vstream(path: String, cp: String, fanout: Int): Unit = {
        val in2 = MemoryStream[StreamIngest.VecRow](spark)
        val q2 = StreamIngest.vectorIndexStream(in2.toDS(), cents, path,
            watermark = "720 hours", tieredFanout = fanout)
          .option("checkpointLocation", cp).start()
        extra.grouped(3).foreach { b => in2.addData(b); q2.processAllAvailable() }
        q2.stop()
      }
      vstream(s"$dir/vplain", s"$dir/vcpP", fanout = 0)
      vstream(s"$dir/vtiered", s"$dir/vcpT", fanout = 2)
      val qdf = extra.take(3).map(v => (v.vec_id, v.embedding))
        .toDF("query_id", "embedding")
      def vserve(p: String): Seq[String] = Similarity
        .knnOverVectorIndex(spark, p, qdf, cents, nprobe = cents.size, k = 5)
        .collect().map(_.toString).sorted.toSeq
      def vdirs(p: String): Int =
        fs.listStatus(new org.apache.hadoop.fs.Path(p))
          .count(_.getPath.getName.startsWith("batch="))
      assert(vdirs(s"$dir/vplain") >= 12 && vdirs(s"$dir/vtiered") <= 7,
        s"vectorIndexStream dirs: plain=${vdirs(s"$dir/vplain")} tiered=${vdirs(s"$dir/vtiered")}")
      assert(vserve(s"$dir/vtiered") == vserve(s"$dir/vplain"),
        "tiered vectorIndexStream serving must equal the uncompacted run")

      // the two disciplines are mutually exclusive AT BUILD time (before
      // any micro-batch runs)
      val input = MemoryStream[StreamIngest.VecRow](spark)
      val both = intercept[IllegalArgumentException] {
        StreamIngest.ivfDeltaStream(input.toDS(), cents, s"$dir/both",
          watermark = "720 hours", compactEvery = 2, tieredFanout = 2)
      }
      assert(both.getMessage.contains("ONE in-stream compaction discipline"))
      // fanout=1 must ALSO fail at build: thrown first at fold time it
      // would be swallowed by the give-up counter — three stderr lines,
      // then a silently never-compacted sink (r13 review)
      val one = intercept[IllegalArgumentException] {
        StreamIngest.ivfDeltaStream(input.toDS(), cents, s"$dir/one",
          watermark = "720 hours", tieredFanout = 1)
      }
      assert(one.getMessage.contains("tieredFanout must be >= 2"))
    } finally {
      spark.conf.unset("graft.ivf.dir"); spark.conf.unset("graft.ivfflat.dir")
    }
  }

  test("pqCodesStream tieredFanout: bounded dirs, code-identical serving, per-geom give-up isolation") {
    // the THIRD batchId-keyed sink family through the shared maybeCompact
    // hook (r13 verdict item 4): same 12-batch mirror-equality + dir-bound
    // treatment as ivfDeltaStream/vectorIndexStream, plus the r13-advice
    // per-(root, geom) failure budget — a permanently poisoned STALE geom
    // gives up after MaxCompactFailures while the live geom keeps folding.
    val dim = 64
    val ivfCents = Seq(
      Seq.tabulate(dim)(i => if (i == 0) 1.0 else 0.0),
      Seq.tabulate(dim)(i => if (i == 0) -1.0 else 0.0))
    val rot = Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
    val nSub = 4
    val cents = (0 until nSub).flatMap { s =>
      Seq((s, 0, Seq.fill(dim / nSub)(0.25)), (s, 1, Seq.fill(dim / nSub)(-0.25)))
    }
    val model = graft.operators.Similarity.PqModel(ivfCents, rot, cents, nSub)
    val geomDir = s"geom=g${graft.operators.Similarity.pqModelContentHash(model)}"
    val rnd = new scala.util.Random(14)
    val baseMs = ts("2024-08-01 00:00:00").getTime
    val rows = (0 until 36).map { i =>
      StreamIngest.VecRow(500000L + i, new Timestamp(baseMs + i),
        Seq.fill(dim)(rnd.nextFloat() * 2f - 1f))
    }
    val dir = Files.createTempDirectory("graft-pq-tiered").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def stream(path: String, cp: String, fanout: Int): Unit = {
      val input = MemoryStream[StreamIngest.VecRow](spark)
      val q = StreamIngest.pqCodesStream(input.toDS(), model, path,
          watermark = "720 hours", tieredFanout = fanout)
        .option("checkpointLocation", cp).start()
      rows.grouped(3).foreach { b => input.addData(b); q.processAllAvailable() }
      q.stop()
    }
    def codesOf(path: String): Map[Long, (Long, Seq[Int])] =
      spark.read.parquet(s"$path/$geomDir")
        .select(Seq(col("vec_id"), col("cell").cast("long").as("cell")) ++
          (0 until nSub).map(s => col(s"c$s")): _*)
        .collect().map(r => r.getAs[Long]("vec_id") ->
          (r.getAs[Long]("cell"), (0 until nSub).map(s => r.getAs[Int](s"c$s")))).toMap
    def batchDirs(path: String): Int =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/$geomDir"))
        .count(_.getPath.getName.startsWith("batch="))
    stream(s"$dir/plain", s"$dir/cpP", fanout = 0)
    stream(s"$dir/tiered", s"$dir/cpT", fanout = 2)
    assert(batchDirs(s"$dir/plain") >= 12,
      s"sanity: uncompacted run keeps every micro-batch dir, got ${batchDirs(s"$dir/plain")}")
    assert(batchDirs(s"$dir/tiered") <= 7,
      s"tiered in-stream compaction must bound dirs, got ${batchDirs(s"$dir/tiered")}")
    val plainCodes = codesOf(s"$dir/plain")
    assert(plainCodes.size == rows.size && codesOf(s"$dir/tiered") == plainCodes,
      "tiered codes must be identical to the uncompacted run's")

    // build-time contract on this family too: both disciplines rejected,
    // fanout=1 rejected (before any micro-batch can swallow it)
    val input = MemoryStream[StreamIngest.VecRow](spark)
    val both = intercept[IllegalArgumentException] {
      StreamIngest.pqCodesStream(input.toDS(), model, s"$dir/both",
        watermark = "720 hours", compactEvery = 2, tieredFanout = 2)
    }
    assert(both.getMessage.contains("ONE in-stream compaction discipline"))
    val one = intercept[IllegalArgumentException] {
      StreamIngest.pqCodesStream(input.toDS(), model, s"$dir/one",
        watermark = "720 hours", tieredFanout = 1)
    }
    assert(one.getMessage.contains("tieredFanout must be >= 2"))

    // per-geom budget under tiered: a poisoned STALE geom (unparseable
    // batch dir, e.g. a corrupt pre-retrain leftover) burns only ITS OWN
    // give-up budget; the live geom folds on every trigger throughout
    val poisoned = s"$dir/poisoned"
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$poisoned/geom=gstale/batch=bogus"))
    stream(poisoned, s"$dir/cpX", fanout = 2)
    assert(StreamIngest.compactFailureCount(poisoned, "geom=gstale")
        == StreamIngest.MaxCompactFailures,
      "the poisoned geom must give up at the cap")
    assert(StreamIngest.compactFailureCount(poisoned, geomDir) == 0,
      "the live geom's budget must be untouched by the stale geom's failures")
    assert(batchDirs(poisoned) <= 7,
      s"the live geom must keep folding despite the poisoned stale geom, " +
        s"got ${batchDirs(poisoned)} dirs")
    assert(codesOf(poisoned) == plainCodes,
      "ingestion and folding of the live geom must be unaffected")
  }

  test("compactEvery gives up loudly after persistent fold failures, ingestion unaffected") {
    // r13/ADVICE: a permanently broken compactor must not be silently
    // swallowed-and-retried forever. A poison dir (unparseable batch id)
    // makes every fold throw; after MaxCompactFailures consecutive
    // failures the hook stops attempting — the counter freezes at the cap
    // instead of growing with every further trigger — while every
    // micro-batch still lands in the sink.
    import graft.operators.Similarity
    val sf = "/root/testdata/sf0.001"
    val dir = Files.createTempDirectory("graft-compact-giveup").toString
    val path = s"$dir/idx"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cents = Similarity.loadOrTrainCentroids(spark, sf)
    val dim = graft.sources.Tables.embeddings(spark, sf)
      .select(col("embedding")).head().getSeq[Float](0).size
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path/geom=poison/batch=bogus"))
    StreamIngest.resetCompactFailures(path)
    val base = ts("2024-08-01 00:00:00").getTime
    val rnd = new scala.util.Random(7)
    val rows = (0 until 24).map { i =>
      StreamIngest.VecRow(300000L + i, new Timestamp(base + i),
        Seq.fill(dim)(rnd.nextFloat() * 2f - 1f))
    }
    val input = MemoryStream[StreamIngest.VecRow](spark)
    val q = StreamIngest.ivfDeltaStream(input.toDS(), cents, path,
        watermark = "720 hours", compactEvery = 1)
      .option("checkpointLocation", s"$dir/cp").start()
    rows.grouped(3).foreach { b => input.addData(b); q.processAllAvailable() }
    q.stop()
    assert(StreamIngest.compactFailureCount(path) == StreamIngest.MaxCompactFailures,
      s"counter must freeze at the give-up cap, got ${StreamIngest.compactFailureCount(path)}")
    // ingestion was never affected: every streamed vec_id is in the sink
    val ingested = spark.read.parquet(s"$path/geom=g${
      Similarity.centroidContentHash(cents)}")
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(rows.map(_.vec_id).toSet.subsetOf(ingested),
      s"ingestion must continue through fold failures (${ingested.size} rows)")
    // operator removes the poison and re-runs the offline path: folds work
    // again once the cause is gone (the documented recovery story)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/geom=poison"), true)
    StreamIngest.resetCompactFailures(path)
    StreamIngest.compactStreamIndex(spark, path)
    assert(StreamIngest.compactFailureCount(path) == 0)
    // and the OTHER documented recovery — restart the stream — must work
    // inside the same JVM: re-BUILDING a sink on this path clears the
    // frozen budget without the test hook (r13 review)
    StreamIngest.freezeCompactFailures(path)
    StreamIngest.ivfDeltaStream(MemoryStream[StreamIngest.VecRow](spark).toDS(),
      cents, path, watermark = "720 hours", compactEvery = 1)
    assert(StreamIngest.compactFailureCount(path) == 0,
      "a rebuilt stream must start with a fresh fold-failure budget")
  }

  test("compactStreamIndex: freshest-wins at rest; crash recovery rolls forward and back") {
    val dir = Files.createTempDirectory("graft-compact-recover").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def writeBatch(parent: String, id: Long,
                   rows: Seq[(Int, Long, Seq[Float])]): Unit =
      rows.toDF("cell", "vec_id", "embedding")
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$parent/batch=$id")
    def vecsOf(parent: String): Map[Long, (Long, Float)] =
      spark.read.parquet(parent)
        .select(col("vec_id"), col("batch").cast("long"),
          element_at(col("embedding"), 1))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getFloat(2))).toMap

    // --- freshest-wins at rest: vec 5 lives in batch 0 AND batch 1 with
    // different payloads; only the batch-1 row may survive the fold
    val p1 = s"$dir/idx"
    writeBatch(p1, 0L, (1 to 10).map(i => (i % 3, i.toLong, Seq(1.0f, 0.1f * i))))
    writeBatch(p1, 1L, Seq((0, 5L, Seq(2.0f, 9.9f)), (1, 11L, Seq(1.0f, 1.1f))))
    writeBatch(p1, 2L, Seq((2, 12L, Seq(1.0f, 1.2f)))) // live, never folded
    val before = vecsOf(p1)
    StreamIngest.compactStreamIndex(spark, p1)
    val after = vecsOf(p1)
    assert(after(5L) == (1L, 2.0f), s"freshest batch must win the fold: ${after(5L)}")
    assert(after.keySet == before.keySet, "no vec_id may appear or vanish")
    assert(after(12L)._1 == 2L, "the live batch dir must be untouched")
    assert(spark.read.parquet(p1).filter(col("vec_id") === 5L).count() == 1L)

    // --- roll-forward: manifest + _SUCCESS-complete temp present, folded
    // dirs still on disk (crash before the deletes) — recovery completes
    val p2 = s"$dir/fwd"
    writeBatch(p2, 0L, Seq((0, 1L, Seq(0.1f, 0.0f))))
    writeBatch(p2, 1L, Seq((0, 2L, Seq(0.2f, 0.0f))))
    writeBatch(p2, 2L, Seq((0, 3L, Seq(0.3f, 0.0f))))
    Seq((0, 1L, Seq(0.1f, 0.0f)), (0, 2L, Seq(0.2f, 0.0f)))
      .toDF("cell", "vec_id", "embedding")
      .write.mode("overwrite").partitionBy("cell").parquet(s"$p2/.compact-tmp")
    val man = fs.create(new org.apache.hadoop.fs.Path(s"$p2/.compact-manifest"), true)
    man.write("1\n0,1\n".getBytes("UTF-8")); man.close()
    StreamIngest.compactStreamIndex(spark, p2)
    assert(vecsOf(p2) == Map(1L -> (1L, 0.1f), 2L -> (1L, 0.2f), 3L -> (2L, 0.3f)),
      s"roll-forward must install the temp as batch=1: ${vecsOf(p2)}")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$p2/.compact-manifest")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$p2/batch=0")))

    // --- corrupted manifest (crash MID-manifest-write): deletes only start
    // after the manifest closes, so nothing was removed — recovery must
    // roll back (drop manifest + temp) and leave the batch dirs untouched
    val p5 = s"$dir/corrupt"
    writeBatch(p5, 0L, Seq((0, 1L, Seq(0.1f, 0.0f))))
    writeBatch(p5, 1L, Seq((0, 2L, Seq(0.2f, 0.0f))))
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$p5/.compact-tmp/cell=0"))
    val man5 = fs.create(new org.apache.hadoop.fs.Path(s"$p5/.compact-manifest"), true)
    man5.write("1 garbled".getBytes("UTF-8")); man5.close() // torn write
    StreamIngest.compactStreamIndex(spark, p5)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$p5/.compact-manifest")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$p5/.compact-tmp")))
    assert(vecsOf(p5) == Map(1L -> (0L, 0.1f), 2L -> (1L, 0.2f)),
      "a corrupted manifest must roll back, never throw or delete data")

    // --- all-empty folded dirs (watermark-commit batches before any data):
    // must not crash on schema inference; the empty non-target dirs drop
    val p4 = s"$dir/empty"
    (0L to 2L).foreach(i => fs.mkdirs(new org.apache.hadoop.fs.Path(s"$p4/batch=$i")))
    StreamIngest.compactStreamIndex(spark, p4)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$p4/batch=0")),
      "empty non-target folded dirs must drop")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$p4/batch=2")),
      "the live dir must survive")

    // --- roll-back: manifest + INCOMPLETE temp (no _SUCCESS) — recovery
    // must delete both and leave every batch dir exactly as it was
    val p3 = s"$dir/back"
    writeBatch(p3, 0L, Seq((0, 1L, Seq(0.1f, 0.0f))))
    writeBatch(p3, 1L, Seq((0, 2L, Seq(0.2f, 0.0f))))
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$p3/.compact-tmp/cell=0"))
    val man3 = fs.create(new org.apache.hadoop.fs.Path(s"$p3/.compact-manifest"), true)
    man3.write("0\n0\n".getBytes("UTF-8")); man3.close()
    StreamIngest.compactStreamIndex(spark, p3)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$p3/.compact-tmp")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$p3/.compact-manifest")))
    assert(vecsOf(p3) == Map(1L -> (0L, 0.1f), 2L -> (1L, 0.2f)),
      "roll-back must leave the sink exactly as written")
  }

  test("compaction swap order: fold visible first, retirement last, mid-swap crashes recover") {
    // r13 reader-isolation reorder: finishCompaction now renames the old
    // target ASIDE (invisible .compact-old) and the temp IN before any
    // folded dir drops — a concurrent reader sees transient duplication
    // (freshest-wins-safe), never a window with every folded row absent.
    // The two new crash states that ordering introduces must both recover.
    val dir = Files.createTempDirectory("graft-compact-swap").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def writeAt(path: String, rows: Seq[(Int, Long, Seq[Float])]): Unit =
      rows.toDF("cell", "vec_id", "embedding")
        .write.mode("overwrite").partitionBy("cell").parquet(path)
    def vecsOf(parent: String): Map[Long, (Long, Float)] =
      spark.read.parquet(parent)
        .select(col("vec_id"), col("batch").cast("long"),
          element_at(col("embedding"), 1))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getFloat(2))).toMap
    def gone(p: String) = !fs.exists(new org.apache.hadoop.fs.Path(p))

    // --- crash BETWEEN rename-aside and rename-in: batch=<target> absent,
    // .compact-old holds its pre-fold data, temp complete — recovery must
    // install the temp (which supersedes old) and retire everything
    val pA = s"$dir/midswap"
    writeAt(s"$pA/batch=0", Seq((0, 1L, Seq(0.1f, 0.0f))))
    writeAt(s"$pA/batch=2", Seq((0, 3L, Seq(0.3f, 0.0f)))) // live
    writeAt(s"$pA/.compact-old", Seq((0, 2L, Seq(0.2f, 0.0f)))) // was batch=1
    writeAt(s"$pA/.compact-tmp",
      Seq((0, 1L, Seq(0.1f, 0.0f)), (0, 2L, Seq(0.2f, 0.0f))))
    val manA = fs.create(new org.apache.hadoop.fs.Path(s"$pA/.compact-manifest"), true)
    manA.write("1\n0,1\n".getBytes("UTF-8")); manA.close()
    StreamIngest.compactStreamIndex(spark, pA)
    assert(vecsOf(pA) == Map(1L -> (1L, 0.1f), 2L -> (1L, 0.2f), 3L -> (2L, 0.3f)),
      s"mid-swap recovery must install the temp as batch=1: ${vecsOf(pA)}")
    assert(gone(s"$pA/.compact-old") && gone(s"$pA/.compact-tmp") &&
      gone(s"$pA/.compact-manifest") && gone(s"$pA/batch=0"))

    // --- crash AFTER rename-in, before retirement: fold installed, but
    // .compact-old and the folded dirs linger under the manifest —
    // recovery must retire them and leave the installed fold untouched
    val pB = s"$dir/postswap"
    writeAt(s"$pB/batch=0", Seq((0, 1L, Seq(0.9f, 0.0f)))) // superseded copy
    writeAt(s"$pB/batch=1",
      Seq((0, 1L, Seq(0.1f, 0.0f)), (0, 2L, Seq(0.2f, 0.0f)))) // the fold
    writeAt(s"$pB/batch=2", Seq((0, 3L, Seq(0.3f, 0.0f)))) // live
    writeAt(s"$pB/.compact-old", Seq((0, 2L, Seq(0.8f, 0.0f))))
    val manB = fs.create(new org.apache.hadoop.fs.Path(s"$pB/.compact-manifest"), true)
    manB.write("1\n0,1\n".getBytes("UTF-8")); manB.close()
    StreamIngest.compactStreamIndex(spark, pB)
    assert(vecsOf(pB) == Map(1L -> (1L, 0.1f), 2L -> (1L, 0.2f), 3L -> (2L, 0.3f)),
      s"post-swap recovery must keep the installed fold: ${vecsOf(pB)}")
    assert(gone(s"$pB/.compact-old") && gone(s"$pB/.compact-manifest") &&
      gone(s"$pB/batch=0"))

    // --- the duplication window itself is freshest-wins-safe: with the
    // fold installed AND the superseded dirs still visible (the exact
    // state a concurrent reader can list), serve-side dedup returns the
    // same rows as after full retirement
    val pC = s"$dir/dupwindow"
    writeAt(s"$pC/batch=0", Seq((0, 1L, Seq(0.9f, 0.0f))))
    writeAt(s"$pC/batch=1",
      Seq((0, 1L, Seq(0.1f, 0.0f)), (0, 2L, Seq(0.2f, 0.0f))))
    writeAt(s"$pC/batch=2", Seq((0, 3L, Seq(0.3f, 0.0f))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("batch").cast("long").desc)
    val served = spark.read.parquet(pC)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("vec_id"), element_at(col("embedding"), 1))
      .collect().map(r => r.getLong(0) -> r.getFloat(1)).toMap
    assert(served == Map(1L -> 0.1f, 2L -> 0.2f, 3L -> 0.3f),
      s"freshest-wins dedup must mask transient duplication: $served")
  }

  test("compactStreamIndexTiered: serving byte-identical under incremental maintenance; dirs bounded") {
    // r13 verdict item 3 (LSM-style tiered folding for append-forever
    // sinks): drive 22 micro-batches one at a time through the tiered
    // maintenance hook, mirroring every write into an uncompacted copy —
    // the freshest-wins serve result must match the mirror at EVERY step
    // (the serving-byte-identical contract), and the live dir count must
    // stay bounded by (fanout−1)·levels + live instead of growing with B.
    val dir = Files.createTempDirectory("graft-compact-tiered").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = s"$dir/idx"          // exercises the geom= level routing
    val parent = s"$root/geom=g1"
    val mirror = s"$dir/mirror"
    def rowsFor(b: Int): Seq[(Int, Long, Seq[Float])] =
      // fresh ids per batch + vec 7 REWRITTEN every batch (freshest must
      // win across fold boundaries) + vec 100+b%3 cycling (overwrites at
      // window edges)
      (0 until 5).map(i => (i % 3, b * 10L + i, Seq(b + 0.1f * i, 1.0f))) ++
        Seq((0, 7L, Seq(b.toFloat, 7.0f)), (1, 1000L + b % 3, Seq(b.toFloat, 3.0f)))
    def served(p: String): Map[Long, Float] = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id")).orderBy(col("batch").cast("long").desc)
      spark.read.parquet(p)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("vec_id"), element_at(col("embedding"), 1))
        .collect().map(r => r.getLong(0) -> r.getFloat(1)).toMap
    }
    def dirCount(): Int =
      fs.listStatus(new org.apache.hadoop.fs.Path(parent))
        .count(_.getPath.getName.startsWith("batch="))
    val fanout = 4
    for (b <- 0 until 22) {
      val rows = rowsFor(b)
      rows.toDF("cell", "vec_id", "embedding")
        .write.mode("overwrite").partitionBy("cell").parquet(s"$parent/batch=$b")
      rows.toDF("cell", "vec_id", "embedding")
        .write.mode("overwrite").partitionBy("cell").parquet(s"$mirror/batch=$b")
      StreamIngest.compactStreamIndexTiered(spark, root, fanout = fanout)
      assert(served(parent) == served(mirror),
        s"tiered fold changed serving at batch $b")
      // levels at B ≤ 22, fanout 4: coverage < 64 → ≤ 3 levels (0,1,2)
      assert(dirCount() <= (fanout - 1) * 3 + 1,
        s"dir count must stay bounded, got ${dirCount()} at batch $b")
    }
    // 22 batches folded tiered: 0..15 cascade into one level-2 run keyed
    // 15, 16..19 into a level-1 run keyed 19, 20 level-0, 21 live
    val names = fs.listStatus(new org.apache.hadoop.fs.Path(parent))
      .map(_.getPath.getName).filter(_.startsWith("batch=")).sorted.toSeq
    assert(names == Seq("batch=15", "batch=19", "batch=20", "batch=21"),
      s"expected the tiered layout, got $names")
    // idempotent: nothing left to fold, serving unchanged
    val before = served(parent)
    StreamIngest.compactStreamIndexTiered(spark, root, fanout = fanout)
    assert(served(parent) == before && dirCount() == 4)
  }

  test("compactStreamIndexTiered: mid-tier crash states recover and the cascade resumes") {
    // a crash mid-CASCADE leaves at most one manifest cycle in flight;
    // the next tiered call must roll it forward (complete temp) or back
    // (torn manifest) and then RESUME the remaining cascade steps.
    val dir = Files.createTempDirectory("graft-tiered-crash").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def writeAt(path: String, rows: Seq[(Int, Long, Seq[Float])]): Unit =
      rows.toDF("cell", "vec_id", "embedding")
        .write.mode("overwrite").partitionBy("cell").parquet(path)
    def served(p: String): Map[Long, Float] = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id")).orderBy(col("batch").cast("long").desc)
      spark.read.parquet(p)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("vec_id"), element_at(col("embedding"), 1))
        .collect().map(r => r.getLong(0) -> r.getFloat(1)).toMap
    }
    def dirNames(p: String): Seq[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(p))
        .map(_.getPath.getName).filter(_.startsWith("batch=")).sorted.toSeq

    // batches 0..7 + live 8; vec 100 written in batch 1 AND batch 5 —
    // the fresher copy must survive both window folds
    def seed(p: String): Unit = {
      (0 to 8).foreach { i =>
        val extra = if (i == 1 || i == 5) Seq((1, 100L, Seq(i.toFloat, 9f)))
                    else Seq.empty
        writeAt(s"$p/batch=$i", Seq((0, i.toLong, Seq(0.1f * i, 0f))) ++ extra)
      }
    }
    val expect = (0 to 8).map(i => i.toLong -> 0.1f * i).toMap + (100L -> 5.0f)

    // --- roll FORWARD mid-cascade: fold#1 ([0..3] → 3) crashed after its
    // manifest + complete temp, before finishCompaction; recovery must
    // install it, then the cascade's fold#2 ([4..7] → 7) must still run
    val pF = s"$dir/fwd"
    seed(pF)
    writeAt(s"$pF/.compact-tmp",
      (0 to 3).map(i => (0, i.toLong, Seq(0.1f * i, 0f))) :+ (1, 100L, Seq(1f, 9f)))
    val manF = fs.create(new org.apache.hadoop.fs.Path(s"$pF/.compact-manifest"), true)
    manF.write("3\n0,1,2,3\n".getBytes("UTF-8")); manF.close()
    StreamIngest.compactStreamIndexTiered(spark, pF, fanout = 4)
    assert(dirNames(pF) == Seq("batch=3", "batch=7", "batch=8"),
      s"roll-forward + resumed cascade must leave two runs + live: ${dirNames(pF)}")
    assert(served(pF) == expect, s"served ${served(pF)}")

    // --- roll BACK mid-cascade: torn manifest, incomplete temp — recovery
    // drops both, then the full cascade runs from scratch
    val pB = s"$dir/back"
    seed(pB)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$pB/.compact-tmp/cell=0"))
    val manB = fs.create(new org.apache.hadoop.fs.Path(s"$pB/.compact-manifest"), true)
    manB.write("3 torn".getBytes("UTF-8")); manB.close()
    StreamIngest.compactStreamIndexTiered(spark, pB, fanout = 4)
    assert(dirNames(pB) == Seq("batch=3", "batch=7", "batch=8"),
      s"roll-back + fresh cascade: ${dirNames(pB)}")
    assert(served(pB) == expect, s"served ${served(pB)}")
  }

  test("a poisoned geom level cannot block folding of the healthy geoms") {
    // a stale pre-retrain geom with an unparseable batch dir must not
    // abort maintenance of the CURRENT geom — under the in-stream
    // give-up counter a first-geom abort would become a permanent outage
    // for the whole sink (r13 review). The failure still surfaces.
    val dir = Files.createTempDirectory("graft-geom-poison").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def writeAt(path: String, rows: Seq[(Int, Long, Seq[Float])]): Unit =
      rows.toDF("cell", "vec_id", "embedding")
        .write.mode("overwrite").partitionBy("cell").parquet(path)
    for (variant <- Seq("flat", "tiered")) {
      val root = s"$dir/$variant"
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/geom=gstale/batch=bogus"))
      (0 to 4).foreach(i =>
        writeAt(s"$root/geom=ggood/batch=$i", Seq((0, i.toLong, Seq(0.1f * i, 0f)))))
      val e = intercept[Exception] {
        if (variant == "flat") StreamIngest.compactStreamIndex(spark, root)
        else StreamIngest.compactStreamIndexTiered(spark, root, fanout = 4)
      }
      assert(e.getMessage != null, s"$variant must still surface the failure")
      val goodDirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/geom=ggood"))
        .map(_.getPath.getName).count(_.startsWith("batch="))
      // both variants fold committed [0..3] into batch=3 beside live 4
      assert(goodDirs == 2,
        s"$variant: the healthy geom must have folded despite the poison, got $goodDirs dirs")
    }
  }

  test("compactStreamIndexTiered: flat-folded runs read as high-level and stay untouched; empty windows drop") {
    val dir = Files.createTempDirectory("graft-tiered-levels").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def writeAt(path: String, rows: Seq[(Int, Long, Seq[Float])]): Unit =
      rows.toDF("cell", "vec_id", "embedding")
        .write.mode("overwrite").partitionBy("cell").parquet(path)
    def dirNames(p: String): Seq[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(p))
        .map(_.getPath.getName).filter(_.startsWith("batch=")).sorted.toSeq

    // a prior FLAT fold left one run keyed 49 (coverage 50 → inferred
    // level 2 at fanout 4): four fresh level-0 runs fold among THEMSELVES,
    // never into the big run — its bytes are not rewritten
    val p1 = s"$dir/mixed"
    writeAt(s"$p1/batch=49", Seq((0, 1L, Seq(1f, 0f)), (0, 2L, Seq(2f, 0f))))
    (50 to 54).foreach(i => writeAt(s"$p1/batch=$i", Seq((0, i.toLong, Seq(i.toFloat, 0f)))))
    val bigDirFiles = fs.listStatus(new org.apache.hadoop.fs.Path(s"$p1/batch=49/cell=0"))
      .map(s => (s.getPath.getName, s.getModificationTime, s.getLen)).toSeq.sorted
    StreamIngest.compactStreamIndexTiered(spark, p1, fanout = 4)
    assert(dirNames(p1) == Seq("batch=49", "batch=53", "batch=54"),
      s"only the four level-0 runs may fold: ${dirNames(p1)}")
    val bigDirAfter = fs.listStatus(new org.apache.hadoop.fs.Path(s"$p1/batch=49/cell=0"))
      .map(s => (s.getPath.getName, s.getModificationTime, s.getLen)).toSeq.sorted
    assert(bigDirAfter == bigDirFiles, "the high-level run's files must be untouched")

    // an all-EMPTY window (watermark-commit batches): the empty non-target
    // dirs drop without a schema-inference crash, target + live remain
    val p2 = s"$dir/empty"
    (0 to 4).foreach(i => fs.mkdirs(new org.apache.hadoop.fs.Path(s"$p2/batch=$i")))
    StreamIngest.compactStreamIndexTiered(spark, p2, fanout = 4)
    assert(dirNames(p2) == Seq("batch=3", "batch=4"),
      s"empty window must retire to target + live: ${dirNames(p2)}")
  }

  test("index streams fail fast on a legacy flat cell=* sink layout") {
    val dir = Files.createTempDirectory("graft-legacy-layout").toString
    new java.io.File(s"$dir/idx/cell=0").mkdirs()
    val input = MemoryStream[StreamIngest.VecRow](spark)
    val cents = Seq(Seq.fill(4)(0.5), Seq.fill(4)(-0.5))
    val e = intercept[IllegalArgumentException] {
      StreamIngest.vectorIndexStream(input.toDS(), cents, s"$dir/idx")
    }
    assert(e.getMessage.contains("legacy FLAT cell=*"),
      s"expected the re-ingest message, got: ${e.getMessage}")
    // a fresh (absent) directory and the new layout both pass the probe
    StreamIngest.vectorIndexStream(input.toDS(), cents, s"$dir/fresh")
    new java.io.File(s"$dir/idx2/batch=0/cell=0").mkdirs()
    StreamIngest.vectorIndexStream(input.toDS(), cents, s"$dir/idx2")
  }
}
