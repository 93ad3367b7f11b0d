package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}
import org.apache.spark.sql.types.StructType

import graft.model.{FileStreamSourceSpec, KafkaSourceSpec, KinesisSourceSpec, StreamSourceSpec}

/** Structured-Streaming ingestion — the stream half of the reference's
  * decoupled ingest path (README: "ingesting data into the online store is
  * decoupled from reading"; stream DataSource in FeatureTable.java:94-97).
  *
  * Continuous materialization: micro-batch → latest-per-key store write
  * via foreachBatch (the same store merge as batch materialization, so
  * batch and stream materialization cannot diverge semantically). This is
  * the only streaming job: `FeatureStore.materializeStream` opens a table's
  * stream source with [[readStreamSource]] and writes it with
  * [[latestUpsert]].
  */
object StreamIngest {

  /** Open a registry stream-source spec as a streaming DataFrame, applying
    * its field mapping (reference: DataSource.java fieldMapping). Only file
    * sources are executable in this sandbox (no Kafka/Kinesis broker or
    * connector jars on the classpath); the Kafka/Kinesis specs carry the
    * reference's full model + validation (DataSourceValidator parity) and
    * map 1:1 onto `readStream.format("kafka"/"kinesis")` options on a real
    * cluster — swapping this match arm is the only change needed. That
    * claim is executable: with session conf `graft.stream.demo=rate`, a
    * Kafka/Kinesis spec opens a rate-backed demo transport instead of
    * throwing, and StreamIngestSpec drives materializeStream →
    * getOnlineFeatures end-to-end from a KafkaSourceSpec through it. */
  def readStreamSource(spark: SparkSession, spec: StreamSourceSpec,
                       schema: StructType): DataFrame = spec match {
    case FileStreamSourceSpec(path, fmt, _, mapping) =>
      val raw = spark.readStream.schema(schema).format(fmt).load(path)
      mapping.foldLeft(raw) { case (df, (from, to)) => df.withColumnRenamed(from, to) }
    case k: KafkaSourceSpec =>
      if (demoRate(spark)) rateBacked(spark, schema, k.fieldMapping)
      else throw new UnsupportedOperationException(
        s"Kafka source ${k.bootstrapServers}/${k.topic}: no Kafka connector/broker in this environment")
    case k: KinesisSourceSpec =>
      if (demoRate(spark)) rateBacked(spark, schema, k.fieldMapping)
      else throw new UnsupportedOperationException(
        s"Kinesis source ${k.region}/${k.streamName}: no Kinesis connector in this environment")
  }

  private def demoRate(spark: SparkSession): Boolean =
    spark.conf.getOption("graft.stream.demo").contains("rate")

  /** Demo transport for broker-backed specs when no connector jars exist:
    * Spark's deterministic `rate-micro-batch` source stands in for the
    * broker, and each declared schema column is synthesized from the rate
    * stream's (timestamp, value). ONLY the broker bytes + payload decode
    * are simulated — spec resolution, field mapping, and everything
    * downstream (project column, LatestValue upsert, serving) run the
    * production path, which is the part this sandbox can prove. */
  private def rateBacked(spark: SparkSession, schema: StructType,
                         mapping: Map[String, String]): DataFrame = {
    import org.apache.spark.sql.types._
    val rate = spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", 20).load()
    val cols = schema.fields.map { f =>
      val c: org.apache.spark.sql.Column = f.dataType match {
        case TimestampType => col("timestamp")
        case LongType      => col("value")
        case IntegerType   => pmod(col("value"), lit(1000)).cast("int")
        case DoubleType    => pmod(col("value"), lit(1000)).cast("double") / lit(10.0)
        case FloatType     => (pmod(col("value"), lit(1000)).cast("double") / lit(10.0)).cast("float")
        case BooleanType   => pmod(col("value"), lit(2)) === 0
        case StringType    => concat(lit("k"), pmod(col("value"), lit(5)).cast("string"))
        case other         => lit(null).cast(other)
      }
      c.as(f.name)
    }
    val raw = rate.select(cols.toIndexedSeq: _*)
    mapping.foldLeft(raw) { case (df, (from, to)) => df.withColumnRenamed(from, to) }
  }

  /** Continuous latest-value materialization: every non-empty micro-batch
    * goes to `write` as (rows, store keys, latest-wins order, value
    * columns) — a store write such as `ParquetOnlineStore.upsert`. */
  def latestUpsert(stream: DataFrame, keys: Seq[String], orderCols: Seq[String],
                   valueCols: Seq[String])(
      write: (DataFrame, Seq[String], Seq[String], Seq[String]) => Unit)
      : DataStreamWriter[Row] =
    stream.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) write(batch, keys, orderCols, valueCols)
      }
}
