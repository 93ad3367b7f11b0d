package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

import graft.operators.LatestValue
import graft.serving.ParquetOnlineStore
import graft.streaming.StreamIngest

final case class EventRow(event_id: Long, ts: Timestamp, user_id: Long,
                          event_type: String, value: Double)

class StreamIngestSpec extends SparkSpecBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  /** Run a writer until all currently-available data is processed. */
  private def runOnce(w: DataStreamWriter[Row], checkpoint: String): StreamingQuery =
    w.option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

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
    runOnce(writer, s"$dir/cp1").awaitTermination()
    input.addData(batch2: _*)
    runOnce(writer, s"$dir/cp2").awaitTermination()

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
    runOnce(writer, s"$dir/cp").awaitTermination()
    batch2.toDF().write.mode("append").parquet(s"$dir/in")
    runOnce(writer, s"$dir/cp").awaitTermination() // same checkpoint: only new files
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
    runOnce(writer, s"$dir/cp").awaitTermination()
    batch2.toDF().write.mode("append").parquet(s"$dir/in")
    runOnce(writer, s"$dir/cp").awaitTermination()
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
      runOnce(fs.materializeStream(table, store, rows.schema),
        s"$dir/cp-$table").awaitTermination()
      store.snapshot(spark).select("user_id").collect().map(_.getLong(0)).toSet
    }
    assert(streamedKeys("activity_ttl") == Set(1L),
      "stale key must lapse in the fused merge")
    assert(streamedKeys("activity_nottl") == Set(1L, 2L),
      "a table without a max_age keeps every key")
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
}
