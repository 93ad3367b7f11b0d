package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.model.{FileStreamSourceSpec, KafkaSourceSpec, KinesisSourceSpec, StreamSourceSpec}

/** Structured-Streaming ingestion — the stream half of the reference's
  * decoupled ingest path (README: "ingesting data into the online store is
  * decoupled from reading"; stream DataSource in FeatureTable.java:94-97).
  *
  * Continuous materialization: micro-batch → latest-per-key store write
  * via foreachBatch (the same store merge as batch materialization, so
  * batch and stream materialization cannot diverge semantically). The
  * other operators maintain what batch queries read — sketch registers,
  * vector indexes, decontamination flags — plus interval joins and
  * jitter-tolerant dedup.
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

  /** Jitter-tolerant streaming dedup: drop re-deliveries of the same keys
    * even when the retry carries a DIFFERENT event timestamp (proxies
    * re-stamping at send time, a common at-least-once reality an exact
    * (keys, ts) match cannot absorb).
    * `dropDuplicatesWithinWatermark` keeps the first-seen row per key and
    * holds key state only until the watermark passes it — bounded state,
    * unlike a global dropDuplicates on keys alone, whose state grows with
    * every key ever seen and dies at stream scale. */
  def dedupStreamJittered(stream: DataFrame, tsCol: String, keys: Seq[String],
                          watermark: String): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Watermarked stream-stream interval join — the streaming twin of the
    * batch `events_attribution` as-of query: every right-side row (e.g. a
    * purchase) pairs with each left-side row (e.g. a click) of the same
    * key whose timestamp lies in [rightTs − windowSec, rightTs]. The time
    * bound is what makes this runnable forever: with both sides
    * watermarked AND the join range closed, Spark derives a state
    * watermark per side and evicts buffered rows once they can no longer
    * match — unbounded state is exactly how an unconstrained stream-stream
    * join dies in production. Column names must be disjoint across sides
    * (rename before calling); picking the LATEST match per right row is a
    * downstream aggregation, batch-identical by construction. */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   leftKey: String, rightKey: String,
                   leftTs: String, rightTs: String,
                   windowSec: Long, watermark: String): DataFrame =
    left.withWatermark(leftTs, watermark)
      .join(right.withWatermark(rightTs, watermark),
        col(leftKey) === col(rightKey) &&
          col(leftTs) <= col(rightTs) &&
          col(leftTs) >= col(rightTs) - expr(s"INTERVAL $windowSec SECONDS"))

  /** Input row for [[registerSketchStream]]. */
  final case class DayEvent(user_id: Long, ts: java.sql.Timestamp)
  /** Input row for [[errorBudgetStream]]. */
  final case class ErrEvent(ts: java.sql.Timestamp, event_type: String)

  /** Streaming twin of the daily error-budget table
    * ([[graft.operators.Growth.eventsErrorBudgetOf]]): a watermarked
    * tumbling-day aggregate in UPDATE mode — running (day, n_events,
    * n_errors) totals whose last-update-per-day fold feeds the SAME
    * dense-grid/trailing-frame finisher the batch gate uses
    * ([[graft.operators.Growth.errorBudgetFrame]]). Day counting is
    * purely additive, so the streaming state is Spark's own windowed-agg
    * accumulator (no custom state); exactly-once accumulation across
    * arbitrary batching is the engine's contract, and the ZERO-DAY rows
    * a stream can never emit (a silent day produces no update) are
    * restored by the shared finisher's calendar grid — the reason the
    * finisher, not the stream, owns the grid. Compose
    * [[dedupStreamJittered]] upstream for at-least-once transports. */
  def errorBudgetStream(events: Dataset[ErrEvent], watermark: String = "1 hour")
      : DataFrame =
    events.toDF()
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_errors"))
      .select(
        floor(unix_micros(col("window.start")) / 86400000000L).cast("long").as("day"),
        col("n_events"), col("n_errors"))

  /** Streaming twin of the per-day HLL registers behind
    * [[graft.operators.Sketches.eventsWauSketchOf]]: a watermarked
    * UPDATE-mode max aggregate on (day, bucket). Registers are the
    * canonical stream-friendly statistic — element-wise MAX is
    * idempotent, commutative and monotone, so arbitrary batching,
    * re-delivery and late events all fold to the same converged
    * registers with Spark's own windowed accumulator as the only state
    * (contrast count-distinct, which would need custom exactly-once
    * state). Downstream, the batch
    * summary/estimate pipeline reads the converged registers unchanged. */
  def registerSketchStream(events: Dataset[DayEvent], watermark: String = "1 hour")
      : DataFrame = {
    import org.apache.spark.sql.functions.{floor => ffloor}
    val h = graft.operators.Sketches.mixedIdHash(col("user_id"))
    events.toDF()
      .withWatermark("ts", watermark)
      .select(col("ts"),
        ffloor(unix_micros(col("ts")) / lit(86400000000L)).cast("long").as("day"),
        pmod(h, lit(graft.operators.Sketches.M.toLong)).as("bucket"),
        graft.operators.Sketches.rhoCol(shiftright(h, 6)).as("rho"))
      .groupBy(window(col("ts"), "1 day"), col("day"), col("bucket"))
      .agg(max(col("rho")).as("m_reg"))
      .select(col("day"), col("bucket"), col("m_reg"))
  }

  /** Input row for [[quantileSketchStream]]. */
  final case class ValueEvent(event_id: Long, ts: java.sql.Timestamp,
    value: Double)

  /** Streaming twin of the HDR quantile registers
    * ([[graft.operators.Sketches.qQuantileSketchOf]]): per-day histogram
    * registers (day, bucket, n) in update mode, where the batch read-out
    * (cumulative crossing → bucket lower bound) folds any window of days
    * by summing registers first.
    *
    * The contrast with [[registerSketchStream]] is the point: HLL
    * registers merge by MAX (idempotent — re-delivery is free), histogram
    * registers merge by SUM (NOT idempotent — a re-delivered event would
    * count twice). So the additive aggregate sits behind a watermarked
    * `dropDuplicates` on event identity: dedup state retires with the
    * watermark, and the count aggregate sees each event exactly once.
    * This is the supported dedup→aggregate stateful-operator chain, all
    * Spark-managed state — no custom exactly-once bookkeeping needed
    * because event ids make duplicates LOCALLY recognizable. Sub-cent and
    * non-positive values clamp to the v = 1 bucket (the sketch domain is
    * v ≥ 1), identically in the batch comparator. */
  def quantileSketchStream(events: Dataset[ValueEvent], watermark: String = "1 hour")
      : DataFrame = {
    import org.apache.spark.sql.functions.{floor => ffloor}
    val deduped = events.toDF()
      .withWatermark("ts", watermark)
      .dropDuplicates("event_id")
    val bucketed = graft.operators.Sketches.withHdrBucket(
      deduped.select(col("ts"),
        ffloor(unix_micros(col("ts")) / lit(86400000000L)).cast("long").as("day"),
        greatest(expr("CAST(round(value * 100) AS BIGINT)"), lit(1L)).as("cents")))
    bucketed
      .groupBy(window(col("ts"), "1 day"), col("day"), col("bucket"))
      .agg(count(lit(1)).as("n"))
      .select(col("day"), col("bucket"), col("n"))
  }

  /** After this many CONSECUTIVE fold failures on one fold UNIT the hook
    * stops retrying that unit: a persistently failing compactor
    * (permissions, corrupt footer) would otherwise be
    * swallowed-and-retried forever while the sink silently degrades back
    * to unbounded small-file growth — the give-up line is the loud,
    * greppable signal that maintenance is broken (r12 advice). Ingestion
    * itself is never affected.
    *
    * The budget is keyed per (root, geom) fold unit, NOT per sink root
    * (r13 advice): a permanently poisoned STALE geom otherwise burns the
    * whole sink's budget and the give-up freezes maintenance for the
    * healthy CURRENT geom too — turning one corrupt pre-retrain leftover
    * into a live-index outage. Per-unit budgets let the dead geom give up
    * loudly while the live geom keeps folding forever. */
  private[graft] val MaxCompactFailures = 3
  private val compactFailures =
    new java.util.concurrent.ConcurrentHashMap[String, Int]()
  private def unitKey(root: String, geom: Option[String]): String =
    geom.fold(root)(g => s"$root#$g")
  private def unitKeysOf(root: String): Iterator[String] = {
    import scala.jdk.CollectionConverters._
    compactFailures.keySet.iterator.asScala
      .filter(k => k == root || k.startsWith(root + "#"))
  }
  /** Test hook: forget recorded fold failures for `root` (all geoms). */
  private[graft] def resetCompactFailures(root: String): Unit =
    unitKeysOf(root).toList.foreach(compactFailures.remove(_): Unit)
  /** Test hook: max consecutive fold failures across `root`'s units. */
  private[graft] def compactFailureCount(root: String): Int = {
    val counts = unitKeysOf(root).map(compactFailures.getOrDefault(_, 0))
    if (counts.isEmpty) 0 else counts.max
  }
  /** Test hook: per-geom failure count (geom = directory name). */
  private[graft] def compactFailureCount(root: String, geom: String): Int =
    compactFailures.getOrDefault(unitKey(root, Some(geom)), 0)
  /** Test hook: freeze `root`'s root-unit budget as a give-up would. */
  private[graft] def freezeCompactFailures(root: String): Unit =
    compactFailures.put(root, MaxCompactFailures): Unit
  /** Test hook: freeze one geom unit's budget as a give-up would. */
  private[graft] def freezeCompactFailures(root: String, geom: String): Unit =
    compactFailures.put(unitKey(root, Some(geom)), MaxCompactFailures): Unit

  /** Build-time contract for the sinks' two in-stream compaction knobs:
    * pick ONE discipline (flat `compactEvery` for delta sinks a re-index
    * keeps small; `tieredFanout` for append-forever sinks) — failing at
    * `.start()` beats a per-micro-batch failure mid-stream. */
  private def requireOneCompactionMode(compactEvery: Int,
                                       tieredFanout: Int, op: String): Unit = {
    require(compactEvery == 0 || tieredFanout == 0,
      s"$op: choose ONE in-stream compaction discipline — compactEvery " +
        "(flat fold, delta sinks) or tieredFanout (tiered fold, " +
        "append-forever sinks), not both")
    // validate the fanout HERE, not first inside a micro-batch: a
    // tieredFanout=1 that only threw at fold time would be swallowed by
    // the give-up counter — three stderr lines, then a silently
    // never-compacted sink (r13 review)
    require(tieredFanout == 0 || tieredFanout >= 2,
      s"$op: tieredFanout must be >= 2 (got $tieredFanout)")
  }

  private def maybeCompact(spark: SparkSession, root: String,
                           batchId: Long, compactEvery: Int,
                           tieredFanout: Int = 0): Unit = {
    // Cadence note: the FLAT fold rewrites the sink's full committed row
    // set, so write amplification over B batches is O(B²/compactEvery) —
    // sized for DELTA sinks, which stay small by design (a periodic
    // offline re-index folds the delta into the batch artifact and
    // restarts it). Pick compactEvery so one delta rewrite ≈ a few
    // micro-batches of ingest. An unbounded APPEND-FOREVER sink sets
    // `tieredFanout` instead: the tiered fold fires after EVERY batch (a
    // directory listing when no level is full) and bounds maintenance
    // writes at O(B·log B) — see [[compactStreamIndexTiered]].
    val due =
      if (tieredFanout > 0) batchId > 0
      else compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0
    if (due) {
      // Enumerate fold units HERE (one per geom level, or the root for
      // geom-less sinks) so the failure budget and the give-up are
      // per-unit: a permanently poisoned stale geom gives up after
      // MaxCompactFailures while the healthy current geom keeps folding
      // on every trigger (r13 advice — the per-root budget turned one
      // corrupt leftover into a whole-sink maintenance outage).
      val rootP = new org.apache.hadoop.fs.Path(root)
      val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val units: Seq[(Option[String], String)] =
        if (!fs.exists(rootP)) Seq.empty
        else {
          val geoms = fs.listStatus(rootP).toIndexedSeq
            .filter(s => s.isDirectory && s.getPath.getName.startsWith("geom="))
          if (geoms.nonEmpty)
            geoms.map(g => (Some(g.getPath.getName), g.getPath.toString))
          else Seq((None, root))
        }
      units.foreach { case (geom, parent) =>
        val key = unitKey(root, geom)
        val fails = compactFailures.getOrDefault(key, 0)
        if (fails >= MaxCompactFailures) () // this unit gave up loudly below
        else
          // maintenance must not kill ingestion: a failed fold leaves the
          // sink exactly as the recovery protocol can resume it, and
          // aborting the batch here would replay into the same failure
          try {
            if (tieredFanout > 0)
              tieredFoldDirs(spark, parent, "vec_id", tieredFanout)
            else compactBatchDirs(spark, parent, "vec_id")
            compactFailures.remove(key): Unit
          }
          catch {
            case e: Exception =>
              val n = fails + 1
              compactFailures.put(key, n): Unit
              val unitName = geom.fold(root)(g => s"$root ($g)")
              if (n >= MaxCompactFailures)
                System.err.println(s"[graft] GIVING UP on in-stream compaction " +
                  s"of $unitName after $n consecutive failures — this unit will " +
                  "grow unbounded small files (other geoms unaffected) until " +
                  "the offline " +
                  (if (tieredFanout > 0) "compactStreamIndexTiered"
                   else "compactStreamIndex") +
                  s" maintenance path is run and the stream restarted: ${e.getMessage}")
              else
                System.err.println(s"[graft] in-stream compaction of $unitName " +
                  s"failed ($n/$MaxCompactFailures; ingestion unaffected; next " +
                  s"trigger retries): ${e.getMessage}")
          }
      }
    }
  }

  /** Input row for [[vectorIndexStream]]. */
  final case class VecRow(vec_id: Long, ts: java.sql.Timestamp,
                          embedding: Seq[Float])

  /** Streaming maintenance of the IVF vector index — the ingestion half
    * of a live vector store: each micro-batch of embeddings is deduped on
    * vec_id (at-least-once transport; `dropDuplicatesWithinWatermark`
    * state retires with the watermark), assigned to its nearest coarse
    * cell under the FROZEN quantizer (assignment is stateless per row —
    * the same broadcast-centroids expression the batch index uses, so
    * stream- and batch-built indexes cannot diverge), and appended to a
    * parquet index PARTITIONED BY cell. Serving then reads only the
    * probed cells via partition pruning ([[graft.operators.Similarity
    * .knnOverVectorIndex]]): the directory layout IS the inverted index.
    * Centroids are trained once offline and passed in frozen — the
    * standard IVF deployment (faiss trains once, adds forever); drift is
    * an offline re-train + re-index, not a streaming concern. */
  /** Fail fast if `root` holds the pre-r11 FLAT sink layout (`cell=*`
    * directly under the index root, no `batch=`/`geom=` level): resuming
    * a stream in place over the old layout would mix the two structures
    * and Spark partition discovery dies mid-read with "Conflicting
    * directory structures" — an explicit re-ingest message at stream
    * START beats that. One filesystem metadata call. */
  private def requireNoLegacyFlatLayout(spark: SparkSession, root: String,
      op: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) {
      val legacy = fs.listStatus(p).toIndexedSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("cell="))
      require(legacy.isEmpty,
        s"$op: $root holds a legacy FLAT cell=* sink layout (pre-batchId " +
          "exactly-once sinks); mixing it with the batch=<id>-keyed layout " +
          "breaks partition discovery. Rebuild the index: delete the " +
          "directory (and the stream checkpoint) and re-ingest.")
    }
  }

  /** Fail fast on a FRESH-CHECKPOINT restart over a populated sink (r13
    * advice): Structured Streaming batchIds are dense from 0 PER
    * CHECKPOINT, and both freshest-wins serving and tiered level
    * inference key on the id — a stream pointed at an existing sink
    * under a NEW checkpoint re-keys fresh data beneath old runs keyed
    * higher, which then silently WIN freshest-wins over it. batch 0
    * arriving at a parent whose max committed id exceeds 0 can only be
    * that case (a same-checkpoint replay rewrites at most the existing
    * max id, never below it), so the detection is exact and costs one
    * listing on the stream's first micro-batch only. Recovery: clear the
    * sink directory, or resume from the original checkpoint.
    *
    * Known blind spot (inherent): a sink holding ONLY batch=0 cannot
    * distinguish a fresh checkpoint from a legitimate batch-0 replay
    * (the common crash-recovery case, which must stay allowed), so a
    * fresh checkpoint there silently overwrites the old batch-0 rows —
    * plain replacement, not the freshest-wins INVERSION this guard
    * exists to stop, and bounded to one micro-batch of data. */
  private def requireCheckpointMatchesSink(spark: SparkSession,
      parent: String, batchId: Long, op: String): Unit = {
    if (batchId == 0L) {
      val p = new org.apache.hadoop.fs.Path(parent)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) {
        val maxId = fs.listStatus(p).toIndexedSeq
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
          .flatMap(s => scala.util.Try(
            s.getPath.getName.stripPrefix("batch=").toLong).toOption)
        if (maxId.nonEmpty && maxId.max > 0L)
          throw new IllegalStateException(
            s"$op: batch 0 of a FRESH checkpoint arrived at $parent, which " +
              s"already holds committed batches up to ${maxId.max}. New rows " +
              "would be keyed BELOW existing runs and lose freshest-wins to " +
              "stale data. Clear the sink directory (and re-ingest) or " +
              "restart from the original checkpoint.")
      }
    }
  }

  def vectorIndexStream(vecs: Dataset[VecRow], centroids: Seq[Seq[Double]],
                        indexPath: String, watermark: String = "1 hour",
                        compactEvery: Int = 0, tieredFanout: Int = 0)
      : DataStreamWriter[Row] = {
    requireNoLegacyFlatLayout(vecs.sparkSession, indexPath, "vectorIndexStream")
    requireOneCompactionMode(compactEvery, tieredFanout, "vectorIndexStream")
    // a (re)built stream gets a FRESH fold-failure budget: the give-up
    // message's documented recovery — fix the cause, run the offline
    // compactor, RESTART THE STREAM — must work inside one long-lived
    // driver JVM, not only across a JVM bounce (r13 review)
    resetCompactFailures(indexPath)
    val assigned = dedupStreamJittered(vecs.toDF(), "ts", Seq("vec_id"), watermark)
    assigned.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        // batchId-keyed overwrite, not a bare append: if the query crashes
        // between a sink append and the checkpoint commit, Structured
        // Streaming REPLAYS the batch — an append would land the same
        // vec_ids twice and the duplicates would occupy top-k slots
        // downstream. Replaying the same offsets produces the same rows,
        // so overwriting the batch's own subdirectory is exactly-once by
        // construction; cell stays a (nested) partition column, so probed
        // cells still prune at the scan.
        requireCheckpointMatchesSink(batch.sparkSession, indexPath, batchId,
          "vectorIndexStream")
        batch
          .withColumn("cell", graft.operators.Similarity
            .nearestCellStructAuto(col("embedding"), centroids).getField("cell"))
          .select(col("cell"), col("vec_id"), col("embedding"))
          .write.mode("overwrite").partitionBy("cell")
          .parquet(s"$indexPath/batch=$batchId")
        maybeCompact(batch.sparkSession, indexPath, batchId, compactEvery,
          tieredFanout)
      }
  }

  /** Streaming maintenance of the PERSISTED IVFFlat inverted lists
    * ([[graft.operators.Similarity.ivfIndex]]): arriving vectors are
    * deduped, assigned to their nearest coarse cell under the FROZEN
    * quantizer, and appended cell-partitioned under a directory layout
    * that carries the quantizer's CONTENT HASH —
    * `deltaPath/geom=g<hash>/batch=<id>/cell=<c>/` — so the delta is
    * pinned to the geometry it was encoded under exactly like the batch
    * artifact's key. The serving side
    * ([[graft.operators.Similarity.knnIvfWithStreamedDelta]]) probes only
    * matching-geometry rows through partition pruning and RE-ASSIGNS any
    * stale-geometry rows on the fly (the rebuild trigger: a retrained
    * quantizer can never silently serve old cell ids — the same class of
    * failure the batch index's content-hash key closes). batchId-keyed
    * overwrite makes replays exactly-once (see [[vectorIndexStream]]). */
  def ivfDeltaStream(vecs: Dataset[VecRow], centroids: Seq[Seq[Double]],
                     deltaPath: String, watermark: String = "1 hour",
                     compactEvery: Int = 0, tieredFanout: Int = 0)
      : DataStreamWriter[Row] = {
    requireNoLegacyFlatLayout(vecs.sparkSession, deltaPath, "ivfDeltaStream")
    requireOneCompactionMode(compactEvery, tieredFanout, "ivfDeltaStream")
    // a (re)built stream gets a FRESH fold-failure budget: the give-up
    // message's documented recovery — fix the cause, run the offline
    // compactor, RESTART THE STREAM — must work inside one long-lived
    // driver JVM, not only across a JVM bounce (r13 review)
    resetCompactFailures(deltaPath)
    val g = graft.operators.Similarity.centroidContentHash(centroids)
    val assigned = dedupStreamJittered(vecs.toDF(), "ts", Seq("vec_id"), watermark)
    assigned.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        requireCheckpointMatchesSink(batch.sparkSession,
          s"$deltaPath/geom=g$g", batchId, "ivfDeltaStream")
        batch
          .withColumn("cell", graft.operators.Similarity
            .nearestCellStructAuto(col("embedding"), centroids).getField("cell"))
          .select(col("cell"), col("vec_id"), col("embedding"))
          .write.mode("overwrite").partitionBy("cell")
          .parquet(s"$deltaPath/geom=g$g/batch=$batchId")
        maybeCompact(batch.sparkSession, deltaPath, batchId, compactEvery,
          tieredFanout)
      }
  }

  // ------------------------------------------------------- sink compaction

  private val CompactTmp = ".compact-tmp"
  private val CompactManifest = ".compact-manifest"
  private val CompactOld = ".compact-old"

  /** Fold COMMITTED micro-batch directories of a batchId-keyed stream sink
    * into one — the small-files bound for the hottest read path: at
    * production cadence [[ivfDeltaStream]]/[[pqCodesStream]]/
    * [[vectorIndexStream]] accumulate one `batch=<id>` subdirectory per
    * micro-batch FOREVER, and every serving scan re-lists and re-foots
    * all of them. Run periodically (or from the maintenance job that
    * would retrain/re-index); after compaction each sink parent holds at
    * most 2 batch directories until new micro-batches arrive.
    *
    * Semantics and safety:
    *  - Only batches BELOW the max id fold: Structured Streaming replays
    *    at most the last uncommitted batch, and the presence of batch m
    *    proves every batch < m committed (m is generated only after m−1's
    *    commit), so a post-crash replay can only rewrite `batch=<max>` —
    *    never a folded directory.
    *  - Folded rows keep the serve-time freshest-wins contract AT REST:
    *    within the folded set only the max-batch row per [[dedupKey]]
    *    survives (exactly the row [[graft.operators.Similarity
    *    .knnIvfWithStreamedDelta]]'s dedup would pick), and the survivors
    *    re-key under the highest FOLDED id, which stays below the live
    *    batch — so cross-band priorities (batch artifact > fresher delta)
    *    are unchanged and serving is byte-identical (spec-pinned).
    *  - Crash-safe via a roll-forward manifest: the folded output is
    *    fully written to a dot-prefixed temp dir (invisible to partition
    *    discovery) FIRST, then a manifest records (target, folded ids),
    *    then folded dirs drop and the temp renames into place, then the
    *    manifest drops. Recovery on the next call rolls forward iff the
    *    manifest + a _SUCCESS-complete temp exist, rolls back otherwise.
    *
    * Deltas fold within the SINK, not into the batch artifact: the
    * artifact's key is a function of the source tables' fingerprint, so
    * rows merged into it would not survive the artifact's own
    * re-derivation (retrain, GC, fingerprint change) — they'd silently
    * vanish from the index. Geom-keyed sinks compact per `geom=` level. */
  def compactStreamIndex(spark: SparkSession, root: String,
                         dedupKey: String = "vec_id"): Unit = {
    val rootP = new org.apache.hadoop.fs.Path(root)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootP)) return
    val geoms = fs.listStatus(rootP).toIndexedSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("geom="))
    if (geoms.nonEmpty)
      foldEveryGeom(geoms)(g => compactBatchDirs(spark, g, dedupKey))
    else compactBatchDirs(spark, root, dedupKey)
  }

  /** Folds every geom level even when one throws (a stale pre-retrain
    * geom with a corrupt footer must not block maintenance of the CURRENT
    * geom — under the in-stream give-up counter a first-geom abort would
    * otherwise become a permanent outage for the whole sink, r13 review);
    * the first failure still surfaces, later ones ride as suppressed. */
  private def foldEveryGeom(geoms: Seq[org.apache.hadoop.fs.FileStatus])(
      fold: String => Unit): Unit = {
    val errs = geoms.flatMap { g =>
      try { fold(g.getPath.toString); None }
      catch { case e: Exception => Some(e) }
    }
    errs.headOption.foreach { e =>
      errs.drop(1).foreach(e.addSuppressed)
      throw e
    }
  }

  private def compactBatchDirs(spark: SparkSession, parent: String,
                               dedupKey: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(parent)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverCompaction(fs, p)
    val ids = fs.listStatus(p).toIndexedSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
      .map(_.getPath.getName.stripPrefix("batch=").toLong).sorted
    // < 3 dirs = at most one committed batch besides the live one —
    // nothing worth folding
    if (ids.size < 3) return
    val live = ids.max
    val folded = ids.filter(_ < live)
    // foldWindow handles the all-EMPTY folded set (watermark-commit
    // micro-batches write only _SUCCESS): dropping the empty non-target
    // dirs IS the compaction — no schema-inference crash
    foldWindow(spark, fs, p, parent, folded, dedupKey)
  }

  private def batchDirHasData(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, id: Long): Boolean = {
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(p, s"batch=$id"), true)
    var found = false
    while (!found && it.hasNext)
      found = it.next().getPath.getName.endsWith(".parquet")
    found
  }

  /** One manifest-protocol fold cycle: merge the id-ADJACENT committed
    * runs `foldIds` into `batch=<max foldId>` with freshest-wins dedup on
    * `dedupKey`. Shared by the flat fold (window = every committed run)
    * and the tiered fold (window = `fanout` same-level runs); both
    * inherit the temp→manifest→swap→retire crash protocol verbatim. */
  private def foldWindow(spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, parent: String,
      foldIds: Seq[Long], dedupKey: String): Unit = {
    val target = foldIds.max
    if (!foldIds.exists(batchDirHasData(fs, p, _))) {
      // intentionally manifest-FREE deletes (the one fold path outside the
      // crash protocol): every dir in the window is empty of data files
      // (watermark-commit micro-batches write only _SUCCESS), so no row
      // can be lost, deletes are idempotent, and a crash mid-loop just
      // re-lists the leftovers next trigger (r13 advice — documented so a
      // reader doesn't assume every retire is manifest-protected)
      foldIds.filter(_ != target).foreach { i =>
        fs.delete(new org.apache.hadoop.fs.Path(p, s"batch=$i"), true)
      }
      return
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(dedupKey)).orderBy(col("batch").desc)
    spark.read.parquet(parent)
      .filter(col("batch").isin(foldIds: _*)) // partition-prunes to the window
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .drop("__rn", "batch")
      .write.mode("overwrite").partitionBy("cell")
      .parquet(new org.apache.hadoop.fs.Path(p, CompactTmp).toString)
    val out = fs.create(new org.apache.hadoop.fs.Path(p, CompactManifest), true)
    try out.write(s"$target\n${foldIds.mkString(",")}\n"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    finishCompaction(fs, p, target, foldIds)
  }

  /** LSM-style tiered fold for APPEND-FOREVER batchId-keyed sinks — the
    * write-amplification bound [[compactStreamIndex]] deliberately lacks
    * (SURVEY Round-12d leftover): the flat fold rewrites the sink's FULL
    * committed row set every trigger — O(B²/K) bytes over B batches at
    * trigger cadence K, sized for delta sinks a periodic offline re-index
    * keeps small, wrong for a sink that only grows. Tiered folding merges
    * `fanout` id-adjacent SAME-LEVEL runs into one level-up run (fold K
    * micro-batches into a level-1 run, K level-1 runs into level-2, …):
    * each row is rewritten at most once per level promotion, so total
    * maintenance writes are O(B·log_fanout B) rows and live batch dirs
    * stay ≤ (fanout−1)·levels + 1 (ScaleProbe `compaction` measures the
    * flat hook's per-window amplification growing linearly while this
    * stays flat).
    *
    * Run levels are INFERRED from the id layout, never stored: every run
    * is a merge of an id-adjacent range keyed by its max id (the same
    * target convention as the flat fold), so a run's COVERAGE — its id
    * minus its predecessor's — counts exactly the original micro-batches
    * it absorbed, and level = floor(log_fanout coverage). No side
    * metadata to corrupt or drift; a sink previously folded flat simply
    * reads as one high-level run and stays untouched until enough peers
    * accumulate. Only id-adjacent equal-level windows merge, so the
    * freshest-wins-at-rest contract and cross-run priorities hold exactly
    * as in the flat fold: survivors re-key under the window's max id,
    * below every fresher run and the live batch — serving is
    * byte-identical (spec-pinned).
    *
    * Crash safety is the SAME roll-forward manifest protocol: each
    * cascade step is one complete temp→manifest→swap→retire cycle, so a
    * crash mid-cascade leaves at most one step in flight, which
    * [[recoverCompaction]] rolls forward (complete temp) or back
    * (incomplete/torn manifest) on the next call of either compactor, and
    * the remaining cascade resumes (mid-tier crash spec). */
  def compactStreamIndexTiered(spark: SparkSession, root: String,
                               dedupKey: String = "vec_id",
                               fanout: Int = 4): Unit = {
    require(fanout >= 2, s"tiered compaction needs fanout >= 2, got $fanout")
    val rootP = new org.apache.hadoop.fs.Path(root)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootP)) return
    val geoms = fs.listStatus(rootP).toIndexedSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("geom="))
    if (geoms.nonEmpty)
      foldEveryGeom(geoms)(g => tieredFoldDirs(spark, g, dedupKey, fanout))
    else tieredFoldDirs(spark, root, dedupKey, fanout)
  }

  private def tieredFoldDirs(spark: SparkSession, parent: String,
                             dedupKey: String, fanout: Int): Unit = {
    val p = new org.apache.hadoop.fs.Path(parent)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverCompaction(fs, p)
    var more = true
    while (more) {
      more = false
      val ids = fs.listStatus(p).toIndexedSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
        .map(_.getPath.getName.stripPrefix("batch=").toLong).sorted
      if (ids.size >= fanout + 1) { // `fanout` committed runs + the live batch
        val live = ids.max
        val runs = ids.filter(_ < live)
        // coverage = original micro-batch ids this run absorbed: its id
        // minus its predecessor's (Structured Streaming batchIds are dense
        // from 0 per checkpoint, so the first run's coverage is id+1 —
        // the density assumption a FRESH checkpoint over a populated sink
        // would break, which [[requireCheckpointMatchesSink]] rejects at
        // the sinks' first micro-batch); empty watermark-commit dirs
        // dropped by earlier folds only inflate a successor's coverage —
        // harmless (lazier promotion)
        val cov = runs.zip(-1L +: runs.init).map { case (i, prev) => i - prev }
        def levelOf(c: Long): Int = {
          var l = 0; var t = fanout.toLong
          while (c >= t && l < 62) { l += 1; t *= fanout }
          l
        }
        val lv = cov.map(levelOf)
        // fold the lowest-level (oldest on ties) window of `fanout`
        // id-ADJACENT equal-level runs; adjacency is required, not assumed
        // — only adjacent-range merges keep freshest-wins priorities
        // intact under any pre-existing layout (e.g. a prior flat fold)
        val windows = (0 to runs.size - fanout).filter { i =>
          (1 until fanout).forall(j => lv(i + j) == lv(i))
        }
        if (windows.nonEmpty) {
          val w0 = windows.minBy(i => (lv(i), i))
          foldWindow(spark, fs, p, parent, runs.slice(w0, w0 + fanout), dedupKey)
          more = true // cascade: the new run may have filled the next level
        }
      }
    }
  }

  /** Makes the fold visible, then retires the superseded dirs.
    * Idempotent given a _SUCCESS-complete temp — recovery re-runs it.
    *
    * Reader isolation (r12 advice): the fold output becomes visible
    * FIRST and the superseded dirs disappear LAST, so a concurrent
    * serving scan that lists mid-protocol sees transient DUPLICATION —
    * safe, because every serving consumer dedups freshest-wins on
    * (batch, vec_id) and the folded copy carries the id that wins — and
    * never a window with every folded row absent (the old
    * delete-then-rename order). The one non-atomic instant left is the
    * `batch=<target>` swap: rename the live dir aside to an invisible
    * name, rename the temp in — two adjacent metadata ops during which
    * only TARGET's rows are unlisted, and a reader that listed the old
    * dir before the swap can hit deleted files (inherent to
    * listing-based reads over any overwrite). In-stream `compactEvery`
    * folds therefore assume readers either tolerate a retry on that
    * race or run folds from the offline maintenance path. */
  private def finishCompaction(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, target: Long, folded: Seq[Long]): Unit = {
    val tgt = new org.apache.hadoop.fs.Path(p, s"batch=$target")
    val tmp = new org.apache.hadoop.fs.Path(p, CompactTmp)
    val old = new org.apache.hadoop.fs.Path(p, CompactOld)
    if (fs.exists(tmp)) { // else the swap already happened; only retirement remains
      // a .compact-old leftover means a prior run crashed mid-swap with a
      // complete temp still present — the temp supersedes it
      if (fs.exists(old)) fs.delete(old, true)
      if (fs.exists(tgt))
        require(fs.rename(tgt, old), s"compaction: rename-aside of $tgt failed")
      require(fs.rename(tmp, tgt), s"compaction: rename into $tgt failed")
    }
    fs.delete(old, true)
    folded.filter(_ != target).foreach { i =>
      fs.delete(new org.apache.hadoop.fs.Path(p, s"batch=$i"), true)
    }
    fs.delete(new org.apache.hadoop.fs.Path(p, CompactManifest), false)
    ()
  }

  /** Completes or rolls back a compaction interrupted mid-protocol. */
  private def recoverCompaction(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Unit = {
    val man = new org.apache.hadoop.fs.Path(p, CompactManifest)
    val tmp = new org.apache.hadoop.fs.Path(p, CompactTmp)
    val tmpComplete = fs.exists(tmp) &&
      fs.exists(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS"))
    if (fs.exists(man)) {
      val in = fs.open(man)
      val txt = try scala.io.Source.fromInputStream(in).mkString finally in.close()
      // a crash MID-manifest-write leaves a partial file; deletes start
      // only after the manifest CLOSES, so an unparseable manifest means
      // nothing was deleted — roll back like the incomplete-temp case
      val parsed = scala.util.Try {
        val lines = txt.trim.split("\n")
        val target = lines(0).trim.toLong
        val folded = lines.lift(1).map(_.trim).filter(_.nonEmpty)
          .map(_.split(",").map(_.toLong).toSeq).getOrElse(Seq(target))
        (target, folded)
      }
      if (parsed.isFailure) {
        if (fs.exists(tmp)) fs.delete(tmp, true)
        fs.delete(man, false)
        return
      }
      val (target, folded) = parsed.get
      if (tmpComplete) finishCompaction(fs, p, target, folded) // roll forward
      else if (!fs.exists(tmp)) {
        // the swap already happened — batch=<target> holds the data;
        // finishCompaction skips the swap and performs only the
        // idempotent retirement (.compact-old, folded dirs, manifest)
        finishCompaction(fs, p, target, folded)
      } else {
        // manifest without a complete temp: the fold never finished and
        // nothing was deleted (deletes start only after the manifest,
        // which follows a _SUCCESS-complete temp) — roll back
        fs.delete(tmp, true); fs.delete(man, false); ()
      }
    } else if (fs.exists(tmp)) {
      fs.delete(tmp, true) // orphan temp from a pre-manifest crash
      ()
    }
    // belt-and-braces: a .compact-old can only exist under a manifest
    // (deleted before it), but never leave one invisible-pinning bytes
    if (!fs.exists(man))
      fs.delete(new org.apache.hadoop.fs.Path(p, CompactOld), true): Unit
  }

  /** Input row for [[decontaminateStream]]. */
  final case class DocRow(doc_id: Long, ts: java.sql.Timestamp, text: String)

  /** Ingestion-time benchmark decontamination — contamination filtering
    * where it actually wants to live: flagging AFTER a contaminated doc
    * has already entered the training corpus means re-sweeping the
    * corpus per benchmark refresh; flagging at ingestion is one
    * projection per arriving doc. The benchmark's shingle Bloom artifact
    * is built ONCE offline ([[graft.operators.Dedup.buildBenchBloom]] —
    * KB-sized, the train-once/frozen-model discipline) and broadcast as
    * a literal; each arriving doc counts its distinct flagged shingles
    * in a single per-row array fold. STATELESS: the one streaming op
    * here needing no stateful operator at all — no watermark, no state
    * store, no shuffle; duplicates flag identically (idempotent per
    * row). Same artifact + probe expression as the batch gate
    * (`corpus_bloom_decontaminate`), so stream and batch flags cannot
    * diverge (batch-parity spec, including the no-false-negatives Bloom
    * guarantee inherited from the shared probe). Returns flagged docs
    * (doc_id, ts, n_flagged_shingles) in append mode. */
  def decontaminateStream(docs: Dataset[DocRow],
                          bloom: graft.operators.Dedup.BenchBloom): DataFrame =
    docs.toDF()
      .withColumn("n_flagged_shingles", graft.operators.Dedup.bloomFlagCol(bloom))
      .filter(col("n_flagged_shingles") > 0L)
      .select(col("doc_id"), col("ts"), col("n_flagged_shingles"))

  /** Streaming maintenance of the PQ CODES index — the compressed half
    * of the live vector store ([[vectorIndexStream]] maintains the
    * coarse-cell partitioning; this maintains the 4-bit-code
    * representation the 100 TB ANN scan actually reads). Each
    * micro-batch is deduped on vec_id and residual-encoded under the
    * FROZEN model (coarse centroids + OPQ rotation + per-subspace
    * codebooks, loaded once from the persisted PQ artifact via
    * [[graft.operators.Similarity.loadPqModel]]), then appended to a
    * parquet codes table partitioned by cell — serving scans only the
    * probed cells' codes via partition pruning, exactly the batch
    * IVF+PQ candidate side. Retraining stays batch (the faiss add-only
    * discipline); encoding is a pure per-row function of the frozen
    * model, so streamed codes are BYTE-EQUAL to a batch encode of the
    * same rows under any batching (spec-pinned). */
  def pqCodesStream(vecs: Dataset[VecRow],
                    model: graft.operators.Similarity.PqModel,
                    indexPath: String, watermark: String = "1 hour",
                    compactEvery: Int = 0, tieredFanout: Int = 0)
      : DataStreamWriter[Row] = {
    requireNoLegacyFlatLayout(vecs.sparkSession, indexPath, "pqCodesStream")
    requireOneCompactionMode(compactEvery, tieredFanout, "pqCodesStream")
    // a (re)built stream gets a FRESH fold-failure budget: the give-up
    // message's documented recovery — fix the cause, run the offline
    // compactor, RESTART THE STREAM — must work inside one long-lived
    // driver JVM, not only across a JVM bounce (r13 review)
    resetCompactFailures(indexPath)
    val deduped = dedupStreamJittered(vecs.toDF(), "ts", Seq("vec_id"), watermark)
    // the directory layout carries the WRITER model's content hash —
    // codes are meaningless under any other model and cannot be
    // re-assigned at read (no embeddings in the codes table), so
    // knnOverPqCodes gates on this level and fails loudly after a
    // retrain instead of decoding through the wrong ADC tables
    val g = graft.operators.Similarity.pqModelContentHash(model)
    deduped.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // batchId-keyed overwrite (see [[vectorIndexStream]]): a crash
        // between append and checkpoint commit replays the batch, and a
        // bare append would double the replayed vec_ids' code rows —
        // silently occupying shortlist slots in knnOverPqCodes. Replay of
        // the same offsets re-encodes identical rows under the frozen
        // model, so per-batch overwrite makes the sink exactly-once.
        requireCheckpointMatchesSink(batch.sparkSession,
          s"$indexPath/geom=g$g", batchId, "pqCodesStream")
        graft.operators.Similarity
          .encodePq(batch.select(col("vec_id"), col("embedding")), model)
          .write.mode("overwrite").partitionBy("cell")
          .parquet(s"$indexPath/geom=g$g/batch=$batchId")
        maybeCompact(batch.sparkSession, indexPath, batchId, compactEvery,
          tieredFanout)
      }
  }

  /** Convenience: run a writer until all currently-available data is
    * processed (test/demo helper; production would use its own trigger). */
  def runOnce(w: DataStreamWriter[Row], checkpoint: String): StreamingQuery =
    w.option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
}
