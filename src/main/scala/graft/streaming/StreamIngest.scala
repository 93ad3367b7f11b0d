package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.model.{FileStreamSourceSpec, KafkaSourceSpec, KinesisSourceSpec, StreamSourceSpec}
import graft.serving.OnlineStore

/** Structured-Streaming ingestion — the stream half of the reference's
  * decoupled ingest path (README: "ingesting data into the online store is
  * decoupled from reading"; stream DataSource in FeatureTable.java:94-97).
  *
  * Two standard shapes:
  *  - continuous materialization: micro-batch → latest-per-key upsert into an
  *    OnlineStore via foreachBatch (exactly the batch LatestValue operator, so
  *    batch and stream materialization cannot diverge semantically);
  *  - windowed aggregation with watermarked event time (the streaming twin of
  *    Analytics.eventsTumble).
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

  /** Continuous latest-value materialization into an online store. */
  def latestUpsert(
      stream: DataFrame,
      store: OnlineStore,
      keys: Seq[String],
      orderCols: Seq[String],
      valueCols: Seq[String]): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) store.upsert(batch, keys, orderCols, valueCols)
      }

  /** Continuous materialization with the TTL fused into each micro-batch
    * merge (ParquetOnlineStore.upsertCompacting): long-running streaming
    * ingest is exactly the workload where lapsed keys otherwise accumulate
    * between compaction jobs — fusing the cutoff into the merge's own
    * read-merge-write gives the stream TTL hygiene per batch for free.
    * The cutoff is evaluated at each batch's processing time (the same
    * "now" serving uses), so a key lapses in the store at the moment it
    * would stop serving a value anyway (OUTSIDE_MAX_AGE → NOT_FOUND). */
  def latestUpsertCompacting(
      stream: DataFrame,
      store: graft.serving.ParquetOnlineStore,
      keys: Seq[String],
      orderCols: Seq[String],
      valueCols: Seq[String],
      eventTsCol: String,
      maxAgeSec: Long): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          store.upsertCompacting(batch, keys, orderCols, valueCols,
            eventTsCol, maxAgeSec,
            new java.sql.Timestamp(System.currentTimeMillis()))
      }

  /** Streaming ingestion dedup: drop exact re-deliveries of the same
    * (keys, event-ts) within the watermark horizon — the streaming twin of
    * LatestValue.dedup for at-least-once sources. */
  def dedupStream(stream: DataFrame, tsCol: String, keys: Seq[String],
                  watermark: String): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .dropDuplicates(keys :+ tsCol)

  /** Jitter-tolerant streaming dedup: drop re-deliveries of the same keys
    * even when the retry carries a DIFFERENT event timestamp (proxies
    * re-stamping at send time, a common at-least-once reality
    * [[dedupStream]]'s exact (keys, ts) match cannot absorb).
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

  /** Watermarked tumbling-window aggregation over an event stream. */
  def windowedAgg(stream: DataFrame, tsCol: String, windowLen: String,
                  watermark: String): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen).as("win"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("total_value"))
      .select(col("win.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Watermarked hopping-window aggregation (streaming twin of
    * Analytics.eventsHop): each event lands in windowLen/slide windows. */
  def hoppingAgg(stream: DataFrame, tsCol: String, windowLen: String,
                 slide: String, watermark: String): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen, slide).as("win"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("total_value"))
      .select(col("win.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Watermarked session-window aggregation — the streaming twin of
    * Analytics.eventsSessionize (30-min-gap sessions), using Spark's native
    * `session_window` state store instead of a batch sort+scan: sessions
    * merge incrementally as events arrive and close when the watermark
    * passes gap past the last event. */
  def sessionAgg(stream: DataFrame, tsCol: String, keyCol: String,
                 gap: String, watermark: String): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap).as("sess"), col(keyCol))
      .agg(count(lit(1)).as("n_events"),
        min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"),
        round(sum(col("value")), 4).as("total_value"))
      .select(col(keyCol), col("session_start"), col("session_end"),
        col("n_events"), col("total_value"))

  /** Input row for [[sessionizeStateful]]. */
  final case class SessEvent(user_id: Long, ts: java.sql.Timestamp,
                             event_id: Long, value: Double)

  /** Per-user session state: `ord` is the ordinal of the CURRENT (or last
    * closed) session — the cross-session counter native `session_window`
    * cannot carry. */
  final case class SessState(ord: Long, open: Boolean, startMs: Long,
                             endMs: Long, n: Long, sumE4: Long)

  /** One closed session (column shape = batch `events_sessionize`). */
  final case class SessionRow(user_id: Long, session_id: Long,
                              n_events: Long, session_start: java.sql.Timestamp,
                              session_end: java.sql.Timestamp, total_value_e4: Long)

  /** Custom-state sessionization via `flatMapGroupsWithState` — the
    * streaming operator `session_window` CANNOT express: per-user ORDINAL
    * session ids (session 1, 2, 3 … per key), because numbering a user's
    * next session requires state that survives across closed sessions.
    * Column-for-column the streaming twin of batch `events_sessionize`
    * (Analytics.scala): 30-min default gap, value sum as integral e4.
    *
    * Mechanics: events group-shuffle once on user_id; within a micro-batch
    * each group's slice is sorted in memory (bounded by the batch, never
    * the stream); sessions that close INSIDE the batch emit immediately,
    * the open tail is stored with an event-time timeout at end+gap, and
    * the watermark firing that timeout emits it. After emitting, the state
    * row is kept (open = false) so the ordinal survives — one ~40-byte row
    * per user, the same per-key state any latest-value materialization
    * carries; a deployment that can't afford per-key residue uses
    * [[sessionAgg]] and keys sessions by start instead of ordinal.
    * Timeout timestamps clamp to watermark+1 because Spark rejects
    * timeouts at-or-before the current watermark (a batch can contain
    * events already straddling it).
    *
    * Out-of-order arrivals across micro-batches: the open session's
    * aggregate interval is merged INTO the sorted batch timeline and the
    * combined list is re-sessionized, so a late event (within the
    * watermark) that lands before the open session's start extends it
    * backward when within the gap, and forms its own EARLIER session when
    * beyond it. Inserting that earlier session before the open one is
    * batch-correct for ordinals: every event the operator sees is ≥ the
    * watermark, and every previously EMITTED session ended > gap before
    * the watermark that fired it — so late events always sort after all
    * emitted sessions, and only the not-yet-emitted open session needs
    * renumbering, which this does by numbering the merged timeline
    * consecutively from the state's counter. Value e4 rounds HALF_UP via
    * BigDecimal — the same away-from-zero rule as batch `round()`
    * (math.rint's half-to-even diverges on exact .5 boundaries). */
  def sessionizeStateful(events: Dataset[SessEvent], gapMinutes: Int = 30,
                         watermark: String = "1 hour"): Dataset[SessionRow] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L
    def emit(user: Long, s: SessState): SessionRow =
      SessionRow(user, s.ord, s.n, new java.sql.Timestamp(s.startMs),
        new java.sql.Timestamp(s.endMs), s.sumE4)
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessionRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[SessEvent], state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            if (s.open) { state.update(s.copy(open = false)); Iterator(emit(user, s)) }
            else Iterator.empty
          } else {
            // one session-in-progress on the merged timeline
            case class Iv(startMs: Long, endMs: Long, n: Long, sumE4: Long)
            def e4(v: Double): Long =
              BigDecimal(v * 10000).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
            val st0 = state.getOption
            val items =
              (st0.filter(_.open).map(s => Iv(s.startMs, s.endMs, s.n, s.sumE4)).toSeq ++
                rows.toArray.sortBy(e => (e.ts.getTime, e.event_id))
                  .map(e => Iv(e.ts.getTime, e.ts.getTime, 1L, e4(e.value))))
                .sortBy(iv => (iv.startMs, iv.endMs))
            val merged = scala.collection.mutable.ArrayBuffer.empty[Iv]
            items.foreach { iv =>
              if (merged.nonEmpty && iv.startMs - merged.last.endMs <= gapMs)
                merged(merged.size - 1) = Iv(
                  math.min(merged.last.startMs, iv.startMs),
                  math.max(merged.last.endMs, iv.endMs),
                  merged.last.n + iv.n, merged.last.sumE4 + iv.sumE4)
              else merged += iv
            }
            if (merged.isEmpty) Iterator.empty
            else {
              // number the merged timeline consecutively from the counter:
              // the open session keeps its ordinal unless a late-but-earlier
              // session was inserted before it (see scaladoc)
              val base = st0 match {
                case Some(s) if s.open => s.ord - 1
                case Some(s)           => s.ord
                case None              => 0L
              }
              val out = merged.init.zipWithIndex.map { case (iv, i) =>
                emit(user, SessState(base + i + 1, open = true,
                  iv.startMs, iv.endMs, iv.n, iv.sumE4))
              }
              val last = merged.last
              val open = SessState(base + merged.size, open = true,
                last.startMs, last.endMs, last.n, last.sumE4)
              state.update(open)
              state.setTimeoutTimestamp(
                math.max(open.endMs + gapMs, state.getCurrentWatermarkMs() + 1))
              out.iterator
            }
          }
      }
  }

  /** Streaming corpus dedup: each micro-batch of documents folds through
    * the SAME incremental band-index pipeline as batch
    * `dedup_incremental` (Dedup.dedupIncrementalBatch — first-seen wins,
    * every seen doc indexed, index streamed / delta broadcast), and the
    * per-doc keep decisions append to `decisionsPath`. Batch and stream
    * ingestion therefore CANNOT diverge: the keep-set equals folding the
    * same batches by hand, which the incremental contract makes equal to
    * the global smaller-id rule under append-only ids (spec-proven). The
    * stream's unit of progress is the micro-batch, which is exactly the
    * bounded "delta" the index probe broadcasts. */
  def dedupCorpusStream(stream: DataFrame, indexPath: String,
                        decisionsPath: String): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          graft.operators.Dedup.dedupIncrementalBatch(batch, indexPath)
            .write.mode("append").parquet(decisionsPath)
        }
      }

  /** Input row for [[pathMineStream]]. */
  final case class PathEvent(user_id: Long, ts: java.sql.Timestamp,
                             event_id: Long, event_type: String)

  /** Per-user path-mining state: the two most recent event types plus the
    * last event's µs time — the sliding 3-gram window plus the lag(1)
    * timestamp, ~50 bytes per user. */
  final case class PathState(lastUs: Long, last1: String, last2: String)

  /** One mined step, emitted per event: `gap_s` is the exact-integer-second
    * gap to the same user's previous event (null on the user's first —
    * batch `events_inter_arrival`'s grain), and (`step1`, `step2`,
    * `event_type`) is the 3-step path COMPLETED by this event (step1/step2
    * null until the user has two events of history — batch
    * `events_top_paths`' triple). */
  final case class PathStep(user_id: Long, ts: java.sql.Timestamp,
                            event_type: String, gap_s: java.lang.Long,
                            step1: String, step2: String)

  private def micros(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  /** Streaming twin of the path-mining family's analytic shuffle: batch
    * `events_top_paths` / `events_inter_arrival` / `events_transitions`
    * all ride ONE user_id exchange feeding lag()/lead() — this is that
    * exchange as `flatMapGroupsWithState` carrying a 3-gram sliding window
    * per user, so each arriving event immediately yields its completed
    * path triple and its inter-arrival gap. Downstream windowed
    * aggregations (path counts, gap stats) compose on the emitted stream;
    * batch parity of the substrate is spec-proven column-for-column
    * (StreamIngestSpec).
    *
    * Ordering contract: events are sorted within each micro-batch (the
    * sessionizeStateful discipline), so in-order streams match batch
    * exactly. A CROSS-batch late arrival appends to the user's chain in
    * ARRIVAL order — unlike sessions (interval algebra merges), an
    * already-emitted lag/lead context cannot be retracted in append mode;
    * that is the documented divergence, bounded by the watermark. */
  def pathMineStream(events: Dataset[PathEvent], watermark: String = "1 hour")
      : Dataset[PathStep] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[PathState, PathStep](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[PathEvent], state: GroupState[PathState]) =>
          val evs = rows.toArray.sortBy(e => (micros(e.ts), e.event_id))
          var st = state.getOption.getOrElse(PathState(Long.MinValue, null, null))
          val out = evs.map { e =>
            val us = micros(e.ts)
            val gap: java.lang.Long =
              if (st.lastUs == Long.MinValue) null
              else java.lang.Long.valueOf(Math.floorDiv(us - st.lastUs, 1000000L))
            val step = PathStep(user, e.ts, e.event_type, gap, st.last2, st.last1)
            st = PathState(us, e.event_type, st.last1)
            step
          }
          state.update(st)
          out.iterator
      }
  }

  final case class DayEvent(user_id: Long, ts: java.sql.Timestamp)
  /** Disjoint, ascending, non-adjacent [start, end] epoch-day islands. */
  final case class StreakState(intervals: List[(Long, Long)])
  final case class StreakRow(user_id: Long, n_active_days: Long,
                             n_streaks: Long, longest_streak: Long)

  /** Streaming twin of the batch `events_streaks` gaps-and-islands
    * operator: per-user consecutive-day activity runs maintained as
    * disjoint day-interval state — the SAME interval algebra the
    * sessionizeStateful rework proved out, at day granularity with
    * adjacency (gap = 1 day) as the merge rule. Because a late day can
    * BRIDGE two islands, intervals (not scalar counters) are the only
    * state shape that stays batch-exact under out-of-order arrival;
    * state size is bounded by the user's island count (calendar-bounded),
    * the flatMapGroupsWithState analogue of the batch operator's
    * day-grain window. Emits each touched user's refreshed
    * (n_active_days, n_streaks, longest_streak) per micro-batch; the
    * LAST row per user equals the batch answer on the same events
    * (spec-proven, including a cross-batch island bridge).
    *
    * Watermark caveat: under `GroupStateTimeout.NoTimeout` Spark does NOT
    * drop watermark-late rows before `flatMapGroupsWithState`, so the
    * watermark here only bounds DOWNSTREAM composition (windowed aggs
    * over the emitted stream) — arbitrarily-late days still merge into
    * state, which is exactly what keeps the operator batch-exact (the
    * spec's bridge case relies on it). Switching to EventTimeTimeout
    * would make the watermark real and break batch parity for late
    * arrivals — don't, without revisiting the spec. */
  def streaksStream(events: Dataset[DayEvent], watermark: String = "1 hour")
      : Dataset[StreakRow] = {
    import events.sparkSession.implicits._
    def insert(ivs: List[(Long, Long)], d: Long): List[(Long, Long)] = {
      val (lo, rest) = ivs.partition(_._2 < d - 1)
      val (touch, hi) = rest.partition(_._1 <= d + 1)
      val merged =
        if (touch.isEmpty) (d, d)
        else (math.min(touch.head._1, d), math.max(touch.last._2, d))
      lo ::: merged :: hi
    }
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[StreakState, StreakRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[DayEvent], state: GroupState[StreakState]) =>
          val days = rows.map(e => Math.floorDiv(micros(e.ts), 86400000000L)).toSet
          var ivs = state.getOption.map(_.intervals).getOrElse(Nil)
          days.foreach(d => ivs = insert(ivs, d))
          state.update(StreakState(ivs))
          val lens = ivs.map(i => i._2 - i._1 + 1L)
          Iterator.single(StreakRow(user, lens.sum, lens.length.toLong, lens.max))
      }
  }

  final case class FunnelEvent(user_id: Long, ts: java.sql.Timestamp,
                               event_type: String)
  /** Stage-chained funnel state (µs times; Long.MaxValue = unset): the
    * first-view minimum, the current stage-2/3 minima, and the PENDING
    * candidates — stage events seen before their gate opened (a click
    * before any view, a purchase before any qualifying click) that a late
    * earlier-stage arrival could still promote. Pending lists are pruned
    * against the current minima (anything ≥ the stage minimum can never
    * become it: stage minima only decrease), so in-order traffic keeps
    * them at the user's pre-first-view event count, not their history. */
  final case class FunnelState(minView: Long, bestClick: Long, bestPurch: Long,
                               pendClicks: List[Long], pendPurch: List[Long])
  final case class FunnelRow(user_id: Long, t1_us: java.lang.Long,
                             t2_us: java.lang.Long, t3_us: java.lang.Long)

  /** Streaming twin of batch `events_funnel`: per user the stage-chained
    * minima t1 = min(view), t2 = min(click ≥ t1), t3 = min(purchase ≥ t2)
    * as `flatMapGroupsWithState` — each micro-batch emits every touched
    * user's refreshed stage times; the funnel COUNTS are one aggregation
    * over the latest row per user (the fields are monotone non-increasing
    * and fill-only, so "latest" = field-wise min, which is how the spec
    * folds the emitted stream).
    *
    * Unlike the lag/lead substrate ([[pathMineStream]]'s documented
    * append-mode divergence), funnel state is EXACTLY recoverable under
    * arbitrary cross-batch lateness: a late view can re-open stage 2, so
    * the state keeps not-yet-admissible stage events as pending
    * candidates and re-resolves the chain each batch — spec-proven equal
    * to batch semantics under fully shuffled batching. NoTimeout keeps
    * late rows flowing into state (the [[streaksStream]] caveat); the
    * watermark only bounds downstream composition. */
  def funnelStream(events: Dataset[FunnelEvent],
      stages: Seq[String] = Seq("view", "click", "purchase"),
      watermark: String = "1 hour"): Dataset[FunnelRow] = {
    import events.sparkSession.implicits._
    require(stages.length == 3, "funnelStream chains exactly three stages")
    val Seq(s1, s2, s3) = stages
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          val st = state.getOption.getOrElse(
            FunnelState(Long.MaxValue, Long.MaxValue, Long.MaxValue, Nil, Nil))
          var mv = st.minView
          var pc = st.pendClicks
          var pp = st.pendPurch
          rows.foreach { e =>
            val us = micros(e.ts)
            if (e.event_type == s1) mv = math.min(mv, us)
            // a candidate ≥ the current stage minimum can never become it
            else if (e.event_type == s2) { if (us < st.bestClick) pc ::= us }
            else if (e.event_type == s3) { if (us < st.bestPurch) pp ::= us }
          }
          // re-resolve the chain: a lowered t1 can admit pending clicks,
          // and a lowered t2 can admit pending purchases
          var bc = st.bestClick
          if (mv != Long.MaxValue) {
            val adm = pc.filter(_ >= mv)
            if (adm.nonEmpty) bc = math.min(bc, adm.min)
            pc = pc.filter(_ < bc)
          }
          var bp = st.bestPurch
          if (bc != Long.MaxValue) {
            val adm = pp.filter(_ >= bc)
            if (adm.nonEmpty) bp = math.min(bp, adm.min)
            pp = pp.filter(_ < bp)
          }
          state.update(FunnelState(mv, bc, bp, pc, pp))
          def opt(v: Long): java.lang.Long =
            if (v == Long.MaxValue) null else java.lang.Long.valueOf(v)
          Iterator.single(FunnelRow(user, opt(mv), opt(bc), opt(bp)))
      }
  }

  /** Sorted distinct epoch days this user has been active. */
  final case class ActiveDaysState(srcDays: List[Long])
  /** One exactly-once contribution: `kind` = "dau" (first sight of this
    * user on `day`) or "wau" (`day` newly covered by the user's trailing
    * 7-day windows). */
  final case class ActiveContrib(user_id: Long, day: Long, kind: String)

  /** Streaming twin of batch `events_active_users` (DAU/WAU): the batch
    * form's blocker in a stream is count-DISTINCT, which streaming
    * aggregation cannot do. This operator dissolves the distinct instead
    * of fighting it: per-user state remembers which (user, day) sightings
    * and which trailing-window contribution days have ALREADY been
    * emitted, and emits each exactly once stream-wide — after which
    * DAU(d) / WAU(d) are plain (non-distinct) counts of "dau"/"wau" rows
    * any stateless sink or windowed count can fold, in any order, across
    * any batching.
    *
    * Exactly-once is order-independent because coverage is a union: a
    * contribution day t is owed iff some src day lands in [t−6, t], and
    * whichever src day FIRST covers t emits it — late or shuffled arrival
    * moves which day emits, never whether or how often. State is the
    * user's distinct active-day list (calendar-bounded, the
    * [[streaksStream]] state class). NoTimeout keeps watermark-late days
    * merging into state (same caveat as streaksStream: the watermark
    * bounds downstream composition only). */
  def activeUsersStream(events: Dataset[DayEvent], watermark: String = "1 hour")
      : Dataset[ActiveContrib] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[ActiveDaysState, ActiveContrib](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[DayEvent], state: GroupState[ActiveDaysState]) =>
          var seen = state.getOption.map(_.srcDays.toSet).getOrElse(Set.empty[Long])
          val out = scala.collection.mutable.ArrayBuffer.empty[ActiveContrib]
          val days = rows.map(e => Math.floorDiv(micros(e.ts), 86400000000L))
            .toSet.diff(seen).toArray.sorted
          days.foreach { d =>
            out += ActiveContrib(user, d, "dau")
            var t = d
            while (t <= d + 6) {
              // t already covered iff an existing src day lies in [t-6, t]
              if (!seen.exists(s => s >= t - 6 && s <= t))
                out += ActiveContrib(user, t, "wau")
              t += 1
            }
            seen += d
          }
          state.update(ActiveDaysState(seen.toList.sorted))
          out.iterator
      }
  }

  final case class LifecycleContrib(user_id: Long, day: Long, cls: String,
    delta: Long)

  /** Streaming twin of the batch growth-accounting ledger
    * ([[graft.operators.Growth.eventsLifecycle]]): per-user DELTA
    * contributions (day, class, ±1) such that summing deltas per
    * (day, class) — then clipping churn to the observed day grid, the
    * batch presentation rule — reproduces the batch ledger under ANY
    * batching of the same events, including late days that land BETWEEN
    * already-seen days.
    *
    * Exactly-once with retraction: each user's state is the sorted set of
    * known active days; a new day d with floor-neighbor p and
    * ceiling-neighbor n (1) emits d's own class from p (none → new,
    * p = d−1 → retained, else resurrected), (2) RE-classifies n if d
    * changed its predecessor (the old class — new when p was absent,
    * resurrected otherwise — flips to retained when d = n−1, to
    * resurrected when p was absent and d < n−1; a −1/+1 pair), and
    * (3) maintains churn: p's standing churn-at-(p+1) retracts iff
    * d = p+1, and d adds churn at d+1 unless n = d+1. n's own churn is
    * untouched (its successor didn't change). Every emission is O(1) per
    * arriving day against a per-user state bounded by the activity
    * horizon — the flatMapGroupsWithState shape that scales to
    * 100 TB streams (state is per-user days, not per-event).
    *
    * Parity contract (spec-proven under shuffled batching): classes sum
    * exactly; churn sums exactly on every day ≤ the batch grid's max —
    * the stream also carries each current-max day's open churn at max+1,
    * which the batch grid clip discards and a consumer joining to the
    * dense grid discards identically. */
  def lifecycleStream(events: Dataset[DayEvent], watermark: String = "1 hour")
      : Dataset[LifecycleContrib] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[ActiveDaysState, LifecycleContrib](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[DayEvent], state: GroupState[ActiveDaysState]) =>
          var seen = state.getOption.map(_.srcDays.toSet).getOrElse(Set.empty[Long])
          val out = scala.collection.mutable.ArrayBuffer.empty[LifecycleContrib]
          def classOf(prev: Option[Long], d: Long): String = prev match {
            case None                  => "new"
            case Some(p) if p == d - 1 => "retained"
            case Some(_)               => "resurrected"
          }
          val days = rows.map(e => Math.floorDiv(micros(e.ts), 86400000000L))
            .toSet.diff(seen).toArray.sorted
          days.foreach { d =>
            val p = seen.filter(_ < d) match { case s if s.isEmpty => None; case s => Some(s.max) }
            val n = seen.filter(_ > d) match { case s if s.isEmpty => None; case s => Some(s.min) }
            out += LifecycleContrib(user, d, classOf(p, d), 1L)
            n.foreach { nd =>
              val oldCls = classOf(p, nd)
              val newCls = classOf(Some(d), nd)
              if (oldCls != newCls) {
                out += LifecycleContrib(user, nd, oldCls, -1L)
                out += LifecycleContrib(user, nd, newCls, 1L)
              }
            }
            p.foreach { pd =>
              if (d == pd + 1) out += LifecycleContrib(user, pd + 1, "churned", -1L)
            }
            if (!n.contains(d + 1))
              out += LifecycleContrib(user, d + 1, "churned", 1L)
            seen += d
          }
          state.update(ActiveDaysState(seen.toList.sorted))
          out.iterator
      }
  }

  final case class RetentionContrib(user_id: Long, cohort_wk: Long,
    week_offset: Long, delta: Long)

  /** Streaming twin of weekly cohort retention
    * ([[graft.operators.Analytics.eventsRetention]]): per-user DELTA
    * contributions (cohort_week, week_offset, ±1) whose per-(cohort,
    * offset) fold equals the batch triangle's distinct-user counts under
    * any batching. Weeks are the Monday-truncated epoch-week index
    * (floorDiv(epoch_day + 3, 7) — 1970-01-01 was a Thursday), the same
    * buckets `date_trunc('week')` yields.
    *
    * The hard case is COHORT REASSIGNMENT: a user's cohort is their
    * earliest active week, and a late event from an earlier week moves it
    * — every previously emitted (cohort, offset) pair for that user is
    * then wrong, because offsets are relative to the cohort. State is the
    * user's sorted active-week set; when the minimum drops, the user's
    * whole triangle row retracts (−1 per old pair) and re-emits against
    * the new cohort — O(weeks-per-user) work, bounded by the calendar
    * horizon, only on the rare reassignment. Otherwise each new active
    * week costs exactly one (cohort, w − cohort, +1) row. Distinct-count
    * over users dissolves into a plain delta sum, the
    * [[activeUsersStream]] discipline. */
  def retentionStream(events: Dataset[DayEvent], watermark: String = "1 hour")
      : Dataset[RetentionContrib] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[ActiveDaysState, RetentionContrib](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[DayEvent], state: GroupState[ActiveDaysState]) =>
          // state reuses ActiveDaysState, holding WEEK indexes
          val seen = state.getOption.map(_.srcDays.toSet).getOrElse(Set.empty[Long])
          val fresh = rows
            .map(e => Math.floorDiv(Math.floorDiv(micros(e.ts), 86400000000L) + 3, 7L))
            .toSet.diff(seen)
          val out = scala.collection.mutable.ArrayBuffer.empty[RetentionContrib]
          if (fresh.nonEmpty) {
            val all = seen ++ fresh
            val oldMin = if (seen.isEmpty) Long.MaxValue else seen.min
            val newMin = all.min
            if (newMin < oldMin) {
              // cohort reassignment: retract the old triangle row, emit new
              seen.foreach(w =>
                out += RetentionContrib(user, oldMin, w - oldMin, -1L))
              all.foreach(w =>
                out += RetentionContrib(user, newMin, w - newMin, 1L))
            } else {
              fresh.foreach(w =>
                out += RetentionContrib(user, oldMin, w - oldMin, 1L))
            }
            state.update(ActiveDaysState(all.toList.sorted))
          }
          out.iterator
      }
  }

  /** Convenience: run a writer until all currently-available data is
    * processed (test/demo helper; production would use its own trigger). */
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
    * finisher, not the stream, owns the grid. Compose [[dedupStream]]
    * upstream for at-least-once transports. */
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
    * (contrast count-distinct, which [[activeUsersStream]] had to
    * dissolve with custom exactly-once state). Downstream, the batch
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

  /** Materialize [[registerSketchStream]]'s update stream into a DURABLE
    * per-day register table, and serve the trailing-7-day WAU curve from
    * it — the serving loop the batch gate (`events_wau_sketch`) proved
    * the register algebra for. foreachBatch max-merges each micro-batch
    * into the parquet table (read-merge-write through the
    * StorePaths.writeParquetAtomic swap): element-wise MAX is idempotent/commutative/monotone,
    * so update-mode re-emissions, re-deliveries, and arbitrary batch
    * boundaries all converge to the same table — which is why the merge
    * needs no transactional log, only atomic replacement. The curve
    * read-out is [[graft.operators.Sketches.wauCurveFromRegisters]],
    * the IDENTICAL code path the batch gate runs — streamed and batch
    * curves are register-exact equal (spec-pinned). */
  def registerTableStream(events: Dataset[DayEvent], tablePath: String,
                          watermark: String = "1 hour"): DataStreamWriter[Row] =
    registerSketchStream(events, watermark)
      .writeStream.outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        mergeRegisterTable(batch, tablePath)
      }

  /** One max-merge upsert of a register batch into the parquet table —
    * also the recovery path: replaying ANY suffix of batches (or the
    * whole stream) against an existing table is idempotent. */
  private[graft] def mergeRegisterTable(batch: DataFrame, tablePath: String): Unit = {
    val spark = batch.sparkSession
    val cols = Seq("day", "bucket", "m_reg").map(col)
    val incoming = batch.select(cols: _*)
    val merged =
      if (graft.serving.StorePaths.exists(spark, tablePath))
        spark.read.parquet(tablePath).select(cols: _*).unionByName(incoming)
          .groupBy(col("day"), col("bucket"))
          .agg(org.apache.spark.sql.functions.max(col("m_reg")).as("m_reg"))
      else incoming.groupBy(col("day"), col("bucket"))
        .agg(org.apache.spark.sql.functions.max(col("m_reg")).as("m_reg"))
    graft.serving.StorePaths.writeParquetAtomic(merged, tablePath)
  }

  /** The live WAU curve off the maintained register table. */
  def wauCurveFromTable(spark: SparkSession, tablePath: String): DataFrame =
    graft.operators.Sketches.wauCurveFromRegisters(spark.read.parquet(tablePath))

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
    * because event ids (unlike [[activeUsersStream]]'s cross-window
    * coverage) make duplicates LOCALLY recognizable. Sub-cent and
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

  final case class ConvEvent(user_id: Long, ts: java.sql.Timestamp,
    event_type: String)
  /** One live session interval: event-time bounds in micros + how many
    * purchase events it absorbed (the conversion flag is nPurch > 0;
    * the COUNT makes merges associative). */
  final case class ConvIv(startUs: Long, endUs: Long, nPurch: Long)
  final case class ConvState(ivs: List[ConvIv])
  final case class ConvContrib(user_id: Long, day: Long, sess_delta: Long,
    conv_delta: Long)

  /** Streaming twin of per-day session conversion
    * ([[graft.operators.Growth.eventsSessionConversionOf]]): per-user
    * DELTA contributions (day-of-session-START, ±sessions, ±conversions)
    * whose per-day fold equals the batch table under ANY batching —
    * the retraction discipline of [[retentionStream]] applied to
    * gap-sessionization's three late-event hazards:
    *  - a late event can BRIDGE two existing sessions (two sessions
    *    retract, one merged session emits),
    *  - PREPEND before a session's start (its day attribution moves),
    *  - add the first purchase to an already-emitted session (its
    *    conversion flag flips).
    * State per user is the session INTERVAL list — (start, end,
    * purchase-count) only, never the events (bounded by sessions, not
    * activity; the count keeps merges associative where a boolean would
    * lose how many purchases each side carried). Sessions are connected
    * components of the ≤gap adjacency over event times — order-
    * independent, so arrival order cannot change the converged result.
    * Contributions are suppressed when an absorbed event changes neither
    * the session's start DAY nor its conversion flag (also what makes a
    * re-delivered duplicate event contribution-neutral: it always lands
    * inside its own session). The gap compares SECOND-truncated times
    * ("> 1800 s starts a session"), exactly the batch rule's
    * `cast(ts as long)` arithmetic; day attribution keeps full micros. */
  def sessionConversionStream(events: Dataset[ConvEvent],
                              gapSec: Long = 1800L,
                              watermark: String = "1 hour")
      : Dataset[ConvContrib] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[ConvState, ConvContrib](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[ConvEvent], state: GroupState[ConvState]) =>
          var ivs = state.getOption.map(_.ivs).getOrElse(Nil)
          val out = scala.collection.mutable.ArrayBuffer.empty[ConvContrib]
          def dayOf(iv: ConvIv): Long = Math.floorDiv(iv.startUs, 86400000000L)
          def convOf(iv: ConvIv): Long = if (iv.nPurch > 0) 1L else 0L
          def sec(us: Long): Long = Math.floorDiv(us, 1000000L)
          rows.foreach { e =>
            val tUs = micros(e.ts)
            val p = if (e.event_type == "purchase") 1L else 0L
            val (touch, rest) = ivs.partition(iv =>
              sec(tUs) >= sec(iv.startUs) - gapSec && sec(tUs) <= sec(iv.endUs) + gapSec)
            val merged = ConvIv(
              (tUs +: touch.map(_.startUs)).min,
              (tUs +: touch.map(_.endUs)).max,
              touch.map(_.nPurch).sum + p)
            val unchanged = touch match {
              case old :: Nil => dayOf(old) == dayOf(merged) && convOf(old) == convOf(merged)
              case _          => false
            }
            if (!unchanged) {
              touch.foreach(old =>
                out += ConvContrib(user, dayOf(old), -1L, -convOf(old)))
              out += ConvContrib(user, dayOf(merged), 1L, convOf(merged))
            }
            ivs = (merged :: rest).sortBy(_.startUs)
          }
          state.update(ConvState(ivs))
          out.iterator
      }
  }

  /** In-stream hook for [[compactStreamIndex]]: fires every
    * `compactEvery` micro-batches AFTER the batch's own sink write, so
    * the just-written (possibly still-uncommitted) batch is the max id
    * and never folds — replay safety is exactly the offline call's.
    * Idempotent under replay: a replayed batch re-runs the compaction,
    * which either no-ops (< 3 dirs) or folds the same committed set. */
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

  /** Input row for [[pitJoinStream]]: ONE unioned stream of feature
    * updates (`kind = "feat"`: ts = feature event time, `value` = the
    * feature value, row_id ignored) and serving requests (`kind = "req"`:
    * ts = entity time, `row_id` = the caller's row identity, value
    * ignored). One stream rather than two because the join's state is
    * per-entity-key either way and a union keys both sides through the
    * same single shuffle. */
  final case class PitRow(user_id: Long, ts: java.sql.Timestamp, kind: String,
                          row_id: Long, value: Double)

  /** Per-key [[pitJoinStream]] state: the retained feature timeline and
    * the not-yet-answerable requests, as parallel arrays (tiny, codable
    * with Spark's product encoder; both bounded — see the scaladoc). */
  final case class PitJoinState(featTs: Array[Long], featVal: Array[Double],
                                pendTs: Array[Long], pendId: Array[Long])

  /** One served request — column-for-column the batch
    * [[graft.operators.PointInTimeJoin.asof]] row shape (row_id, key,
    * entity ts, matched feature ts/value; None = no feature in range). */
  final case class PitServed(row_id: Long, user_id: Long,
                             entity_ts: java.sql.Timestamp,
                             feat_ts: Option[java.sql.Timestamp],
                             feat_value: Option[Double])

  /** Streaming point-in-time join — the reference's historical-retrieval
    * semantics (latest feature at-or-before entity time, optional max
    * age) applied to a LIVE request stream: training-data generation and
    * online enrichment from the same operator, the streaming twin of
    * batch `pit_join` / `pit_join_maxage`.
    *
    * Why not a stream-stream interval join: Spark's interval join needs a
    * FINITE time window on both sides, but "latest at-or-before" has an
    * unbounded lookback (a request may match a feature written years
    * ago). The state that makes unbounded lookback bounded is exactly the
    * online store's: per key, only the LATEST feature at-or-before the
    * watermark can ever serve a future request, so everything older
    * retires. Custom state holds:
    *  - features: the latest one ≤ watermark plus any not-yet-final ones
    *    above it (bounded by the watermark delay), each (ts, value) with
    *    same-ts duplicates collapsed to max value — the batch oracle's
    *    (key, ts, max(value)) feature grain;
    *  - pending requests: those with ts ≥ watermark (bounded by the
    *    watermark delay; anything older answered and emitted already).
    * A request emits exactly once, when the watermark passes STRICTLY
    * beyond its ts — only then can no feature at-or-before it still
    * arrive (arrivals carry ts ≥ watermark, and a tie at ts = watermark
    * could otherwise land later). Emission happens inline when the
    * request is already answerable and via event-time timeout otherwise.
    * With `maxAgeSec` set, a key whose whole timeline has lapsed past
    * max-age GCs its state entirely on a timeout — per-key residue is
    * then zero for dead keys, one (ts, value) pair for live ones; without
    * it, residue is the latest pair per key, the same footprint any
    * latest-value materialization carries. */
  def pitJoinStream(rows: Dataset[PitRow], maxAgeSec: Option[Long] = None,
                    watermark: String = "1 hour"): Dataset[PitServed] = {
    import rows.sparkSession.implicits._
    val maxAgeUs = maxAgeSec.map(_ * 1000000L)
    rows
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[PitJoinState, PitServed](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[PitRow], state: GroupState[PitJoinState]) =>
          val wm = state.getCurrentWatermarkMs() * 1000L // ms → µs event time
          val st = state.getOption.getOrElse(
            PitJoinState(Array.empty, Array.empty, Array.empty, Array.empty))
          // fold arrivals into the state's timeline + pending set
          var feats = st.featTs.zip(st.featVal)
          var pend = st.pendTs.zip(st.pendId)
          val arrivals = it.toArray
          val newFeats = arrivals.filter(_.kind == "feat")
            .map(r => (micros(r.ts), r.value))
          if (newFeats.nonEmpty)
            feats = (feats ++ newFeats).groupBy(_._1).view
              .mapValues(_.map(_._2).max).toArray.sortBy(_._1)
          pend = pend ++ arrivals.filter(_.kind == "req")
            .map(r => (micros(r.ts), r.row_id))
          // answer every request the watermark has finalized
          val (ready, stillPend) = pend.partition(_._1 < wm)
          val out = ready.sortBy(p => (p._1, p._2)).map { case (tUs, rowId) =>
            val inRange = feats.filter { case (f, _) =>
              f <= tUs && maxAgeUs.forall(a => f >= tUs - a) }
            val hit = inRange.sortBy(f => (f._1, f._2)).lastOption
            PitServed(rowId, user, new java.sql.Timestamp(tUs / 1000L),
              hit.map(h => new java.sql.Timestamp(h._1 / 1000L)),
              hit.map(_._2))
          }
          // retire history: of the features ≤ watermark only the latest
          // can ever serve again (and with max-age, only while unlapsed)
          val (past, future) = feats.partition(_._1 <= wm)
          val keptPast = past.sortBy(_._1).lastOption
            .filter { case (f, _) => maxAgeUs.forall(a => f >= wm - a) }
          val kept = (keptPast.toArray ++ future).sortBy(_._1)
          if (kept.isEmpty && stillPend.isEmpty) {
            if (state.exists) state.remove()
          } else {
            state.update(PitJoinState(kept.map(_._1), kept.map(_._2),
              stillPend.map(_._1), stillPend.map(_._2)))
            // wake when the oldest pending request finalizes; else (with a
            // TTL) when the whole timeline will have lapsed, to GC the key
            val wakeUs: Option[Long] =
              if (stillPend.nonEmpty) Some(stillPend.map(_._1).min + 1)
              else maxAgeUs.map(a => kept.map(_._1).max + a + 1)
            wakeUs.foreach(u => state.setTimeoutTimestamp(
              math.max(u / 1000L, state.getCurrentWatermarkMs() + 1)))
          }
          out.iterator
      }
  }

  /** Input token for [[heavyHittersStream]]. */
  final case class TokRow(gram: String)
  /** One retained counter: estimate `n_est` overestimates the true count
    * by at most `err` (the evicted minimum the slot inherited). */
  final case class HHEntry(gram: String, n_est: Long, err: Long)
  final case class HHState(ver: Long, entries: List[HHEntry])
  /** Summary row: `ver` is the per-shard state version — a consumer takes
    * the max-ver rows per shard as the current summary (append-mode sinks
    * accumulate snapshots; the version makes "current" selectable). */
  final case class HHRow(shard: Int, ver: Long, gram: String,
                         n_est: Long, err: Long)

  /** Streaming heavy hitters — the bounded-memory twin of
    * [[graft.operators.HeavyHitters.corpusHeavyHitters]] (whose phase-1
    * Misra-Gries pass is the batch analogue), via SpaceSaving (Metwally
    * et al., ICDT'05): per hash-shard, a CAPPED set of `capacity`
    * counters; a full summary meeting a new key evicts the minimum
    * counter, and the newcomer inherits min+1 with `err` = the evicted
    * minimum. Invariants (any arrival order, any batching): every key
    * with true count > N_shard/capacity is retained, and for every
    * retained key true ≤ n_est ≤ true + err — so the summary is a
    * candidate SUPERSET of the exact heavy hitters and the batch gate's
    * exact confirm join applies unchanged downstream.
    *
    * This is the third streaming-register pattern in the module, and the
    * one the other two can't express: [[registerSketchStream]] merges by
    * MAX (idempotent, Spark-managed), [[quantileSketchStream]] by SUM
    * behind dedup (Spark-managed) — a top-k summary needs EVICTION,
    * i.e. keyed state with a bounded footprint, which is exactly what
    * `flatMapGroupsWithState` provides: state is O(shards × capacity)
    * REGARDLESS of vocabulary size, the property that makes the operator
    * viable over an unbounded token stream where per-gram counting state
    * would grow with the vocabulary.
    *
    * Sharding is BY GRAM (all occurrences of a gram meet one state), so
    * per-shard guarantees compose: a corpus-global heavy hitter is heavy
    * in its own shard. Each batch emits the shard's full summary
    * (≤ capacity rows) under a bumped version — tiny by construction. */
  def heavyHittersStream(toks: Dataset[TokRow], capacity: Int = 64,
                         nShards: Int = 8): Dataset[HHRow] = {
    import toks.sparkSession.implicits._
    toks
      .groupByKey(r => Math.floorMod(r.gram.hashCode, nShards))
      .flatMapGroupsWithState[HHState, HHRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (shard: Int, rows: Iterator[TokRow], state: GroupState[HHState]) =>
          val prev = state.getOption.getOrElse(HHState(0L, Nil))
          val counters = scala.collection.mutable.HashMap.empty[String, (Long, Long)]
          prev.entries.foreach(e => counters(e.gram) = (e.n_est, e.err))
          rows.foreach { r =>
            counters.get(r.gram) match {
              case Some((n, err)) => counters(r.gram) = (n + 1L, err)
              case None if counters.size < capacity =>
                counters(r.gram) = (1L, 0L)
              case None =>
                // evict the minimum estimate (gram asc tie-break: the
                // choice among equal minima is arbitrary for the bounds
                // but made deterministic for replay/debugging)
                val (mg, (mn, _)) = counters.minBy { case (g, (n, _)) => (n, g) }
                counters.remove(mg)
                counters(r.gram) = (mn + 1L, mn)
            }
          }
          val entries = counters.iterator
            .map { case (g, (n, e)) => HHEntry(g, n, e) }.toList
          val ver = prev.ver + 1L
          state.update(HHState(ver, entries))
          entries.iterator.map(e => HHRow(shard, ver, e.gram, e.n_est, e.err))
      }
  }

  /** Input row for [[botFlagStream]]. */
  final case class BotEvent(user_id: Long, ts: java.sql.Timestamp, event_id: Long)
  final case class BotGap(delta_s: Long, n: Long, err: Long)
  final case class BotState(ver: Long, lastTsUs: Long, lastMinute: Long,
                            minuteCount: Long, burstMax: Long, nEvents: Long,
                            nGaps: Long, gaps: List[BotGap])
  final case class BotRow(user_id: Long, ver: Long, n_events: Long,
                          burst_max: Long, modal_delta_s: Long,
                          modal_share_bp: Long, bot_flag: Long)

  /** Streaming twin of [[graft.operators.Growth.eventsBotFlag]] — bot
    * detection AT INGESTION, where traffic hygiene actually wants to run
    * (flagging after the counts are poisoned is too late). Per-user state
    * is O(capacity): burst tracking carries (current minute, count, max)
    * and the cadence histogram is a SpaceSaving summary
    * ([[heavyHittersStream]]'s eviction pattern applied per user) — and
    * the bound is PROVABLY sufficient for the batch flag rule: the rule
    * fires on modal share ≥ 2500 bp = ¼, SpaceSaving at capacity 64
    * guarantees retention of any gap over 1/64 of the user's gaps, and
    * when the gap alphabet fits the capacity the whole summary is exact
    * (the batch-parity case, spec-pinned).
    *
    * Ordering caveat (the streaks/path-mining class, same contract):
    * per-batch rows fold in (ts, event_id) order, but a cross-batch late
    * event cannot retro-insert a gap — its gap-vs-last-seen is skipped
    * when negative, and a late minute counts alone. The batch op is the
    * retrospective truth; this twin is the in-flight approximation whose
    * guarantees above are what the flag rule needs. Emission carries the
    * per-user state version (append sinks accumulate; max-ver = current). */
  def botFlagStream(events: Dataset[BotEvent], capacity: Int = 64)
      : Dataset[BotRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[BotState, BotRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[BotEvent], state: GroupState[BotState]) =>
          var s = state.getOption.getOrElse(
            BotState(0L, Long.MinValue, Long.MinValue, 0L, 0L, 0L, 0L, Nil))
          val counters = scala.collection.mutable.HashMap.empty[Long, (Long, Long)]
          s.gaps.foreach(g => counters(g.delta_s) = (g.n, g.err))
          def addGap(d: Long): Unit = counters.get(d) match {
            case Some((n, e)) => counters(d) = (n + 1L, e)
            case None if counters.size < capacity => counters(d) = (1L, 0L)
            case None =>
              val (mg, (mn, _)) = counters.minBy { case (g, (n, _)) => (n, g) }
              counters.remove(mg)
              counters(d) = (mn + 1L, mn)
          }
          var (lastTs, lastMin, minCnt, burst, nEv, nGaps) =
            (s.lastTsUs, s.lastMinute, s.minuteCount, s.burstMax, s.nEvents, s.nGaps)
          rows.toSeq.sortBy(e => (micros(e.ts), e.event_id)).foreach { e =>
            val tUs = micros(e.ts)
            nEv += 1
            val minute = Math.floorDiv(tUs, 60000000L)
            if (minute == lastMin) minCnt += 1
            else { lastMin = minute; minCnt = 1L }
            if (minCnt > burst) burst = minCnt
            if (lastTs != Long.MinValue && tUs >= lastTs) {
              addGap(Math.floorDiv(tUs - lastTs, 1000000L))
              nGaps += 1
            }
            if (tUs >= lastTs) lastTs = tUs
          }
          val gaps = counters.iterator.map { case (d, (n, e)) => BotGap(d, n, e) }.toList
          val ver = s.ver + 1L
          state.update(BotState(ver, lastTs, lastMin, minCnt, burst, nEv, nGaps, gaps))
          val (modalD, modalN) =
            if (gaps.isEmpty) (0L, 0L)
            else { val m = gaps.maxBy(g => (g.n, -g.delta_s)); (m.delta_s, m.n) }
          val shareBp = if (nGaps > 0) modalN * 10000L / nGaps else 0L
          val flag = if (burst >= 10L || (nEv >= 20L && shareBp >= 2500L)) 1L else 0L
          Iterator.single(BotRow(user, ver, nEv, burst,
            if (nGaps > 0) modalD else 0L, shareBp, flag))
      }
  }

  def runOnce(w: DataStreamWriter[Row], checkpoint: String): StreamingQuery =
    w.option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
}
