package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, count, count_distinct, lit, unix_micros}

import graft.FeatureStore
import graft.model.{Entity, Feature, FeatureRef, FeatureTable, Registry, ValueKind}
import graft.operators.PointInTimeJoin
import graft.sources.BatchSource

import Main._

/** offline_batch: one client runs a seeded mix of getHistoricalFeatures
  * (backward, two tables) and getTrainingSet (plus a forward label window)
  * over a 100k-row entity frame against 2 × 500k feature rows, writing each
  * training set to parquet. */
object OfflineBench {
  private val SetupReps = 3
  private val WarmCalls = 3
  // both call kinds run two as-of passes: backward over stats and txn, or
  // backward over stats plus the forward label window over txn
  private val StatsRefs = Seq(FeatureRef("stats", "clicks"), FeatureRef("stats", "dwell"))
  private val Refs = StatsRefs ++ Seq(FeatureRef("txn", "items"), FeatureRef("txn", "amount"))
  private val Label = FeatureRef("txn", "amount")

  final case class Call(k: Long, training: Boolean, seconds: Double, id: Long,
                        out: String, error: Option[String])

  /** One set-up: write the inputs and the registry under `dir`, then reopen
    * the store from the saved registry. Returns the store and the registry
    * save/load times. */
  private def setUp(ctx: Ctx, g: Gen.Offline, dir: String): (FeatureStore, Double, Double) = {
    val spark = ctx.spark
    val files = ctx.cores * 2
    Gen.write(spark, g.statsRows, i => g.stats.row(g.seed, g.zipf, i), s"$dir/stats",
      "clicks", "dwell", ntz = true, files)
    Gen.write(spark, g.txnRows, i => g.txn.row(g.seed, g.zipf, i), s"$dir/txn",
      "items", "amount", ntz = false, files)
    Gen.writeEntities(spark, g, s"$dir/entities", files)
    val reg = new Registry
    reg.applyEntity(Entity("user_id", ValueKind.Int64K))
    reg.applyTable(FeatureTable("stats", Seq("user_id"),
      Seq(Feature("clicks", ValueKind.Int64K), Feature("dwell", ValueKind.DoubleK)),
      maxAgeSec = Some(g.statsMaxAgeSec), eventTsCol = "event_ts",
      batchSourcePath = Some(s"$dir/stats")))
    reg.applyTable(FeatureTable("txn", Seq("user_id"),
      Seq(Feature("items", ValueKind.Int64K), Feature("amount", ValueKind.DoubleK)),
      maxAgeSec = Some(g.txnMaxAgeSec), eventTsCol = "event_ts",
      batchSourcePath = Some(s"$dir/txn")))
    val (_, saveS) = secondsOf(Registry.save(reg, spark, s"$dir/registry"))
    val (fs, loadS) = secondsOf(FeatureStore.load(spark, s"$dir/registry"))
    (fs, saveS, loadS)
  }

  private def retrieve(fs: FeatureStore, entities: DataFrame, g: Gen.Offline,
                       training: Boolean, tracer: Tracer): DataFrame =
    if (training)
      tracer.span("FeatureStore.getTrainingSet")(
        fs.getTrainingSet(entities, "ts", StatsRefs, Label, g.labelWindowSec))
    else
      tracer.span("FeatureStore.getHistoricalFeatures")(
        fs.getHistoricalFeatures(entities, "ts", Refs))

  /** Closed loop of one client until `seconds` have passed. */
  private def phase(ctx: Ctx, fs: FeatureStore, entities: DataFrame, g: Gen.Offline,
                    tracer: Tracer, k0: Long, seconds: Double): Seq[Call] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val calls = mutable.ArrayBuffer.empty[Call]
    var k = k0
    while (System.nanoTime() < deadline) {
      val training = g.isTraining(k)
      val out = ctx.dir(s"out/$k")
      var id = 0L
      val t = System.nanoTime()
      val err = try {
        tracer.call("client.retrieve") {
          id = tracer.currentCall
          val df = retrieve(fs, entities, g, training, tracer)
          tracer.span("spark.write")(df.write.mode("overwrite").parquet(out))
        }
        None
      } catch { case e: Exception => Some(classify(e)) }
      calls += Call(k, training, (System.nanoTime() - t) / 1e9, id, out, err)
      k += 1
    }
    calls.toSeq
  }

  def run(ctx: Ctx, sessionS: Double): Outcome = {
    val spark = ctx.spark
    val g = Gen.Offline(ctx.seed)
    // set-up, several times; the last copy serves the run
    val reps = (0 until SetupReps).map { r =>
      val ((fs, saveS, loadS), s) = secondsOf(setUp(ctx, g, ctx.dir(s"setup$r")))
      if (r > 0) deleteTree(ctx.dir(s"setup${r - 1}"))
      (fs, s, saveS, loadS)
    }
    val fs = reps.last._1
    val dir = ctx.dir(s"setup${SetupReps - 1}")
    val entities = spark.read.parquet(s"$dir/entities")
    val off = new Tracer(spark.sparkContext, enabled = false)
    // warm-up: `WarmCalls` full-size calls of both kinds, written like the
    // timed ones, so the timed calls run on compiled code
    val (_, warmS) = secondsOf((0 until WarmCalls).foreach { k =>
      retrieve(fs, entities, g, training = k % 2 == 0, off)
        .write.mode("overwrite").parquet(ctx.dir("out/warm"))
    })
    deleteTree(ctx.dir("out/warm"))
    val setupS = sessionS + median(reps.map(_._2)) + warmS
    System.err.println(f"[perfbench] setup: session $sessionS%.2fs, inputs " +
      reps.map(r => f"${r._2}%.2f").mkString("/") + f"s, warm-up $warmS%.2fs")

    var next = 0L
    val (us, tr) = Layers.phases(ctx) { (tracer, seconds) =>
      val calls = phase(ctx, fs, entities, g, tracer, next, seconds)
      next += calls.size
      calls
    }
    val untraced = us.flatten
    val traced = tr.map(_._1).getOrElse(Nil)
    val calls = untraced ++ traced
    val failures = new Failures
    calls.flatMap(_.error).foreach(failures.add)
    System.err.println("[perfbench] call seconds: " +
      calls.map(c => f"${c.seconds}%.2f").mkString(" "))
    println(s"[perfbench] offline_batch: ${calls.size} calls, failures by class: ${failures.render}")

    val (correct, checkS) = secondsOf(check(ctx, g, calls.filter(_.error.isEmpty)))
    System.err.println(f"[perfbench] checks: $checkS%.2fs")
    calls.foreach(c => deleteTree(c.out))
    val e2e = endToEnd(untraced, g.entityRows)
    val metrics = tr match {
      case None => Seq(("setup_s", setupS, "s")) ++ e2e
      case Some((t, tracer, listener)) =>
        perLayer(ctx, g, dir, entities, tracer, listener, t, e2e,
          endToEnd(t, g.entityRows), reps.map(_._3), reps.map(_._4))
    }
    Outcome(metrics, calls.size.toLong, failures.total, correct)
  }

  private def endToEnd(calls: Seq[Call], rowsPerCall: Long): Seq[(String, Double, String)] = {
    val ok = calls.filter(_.error.isEmpty).map(_.seconds)
    require(ok.nonEmpty, "no successful retrieval call")
    Seq(("call_p50_ms", median(ok) * 1000, "ms"),
      ("call_p80_ms", pct(ok, 0.80) * 1000, "ms"),
      ("rows_per_s", ok.size * rowsPerCall / ok.sum, "rows/s"))
  }

  // ---------------------------------------------------------- traced run

  private def perLayer(ctx: Ctx, g: Gen.Offline, dir: String, entities: DataFrame,
                       tracer: Tracer, l: EngineListener, traced: Seq[Call],
                       e2eU: Seq[(String, Double, String)], e2eT: Seq[(String, Double, String)],
                       saveS: Seq[Double], loadS: Seq[Double]): Seq[(String, Double, String)] = {
    val spark = ctx.spark
    val noop = (df: DataFrame) => df.write.format("noop").mode("overwrite").save()
    def src(t: String) = BatchSource(s"$dir/$t", eventTsCol = "event_ts")
    def feats(t: String, names: Seq[String]) =
      BatchSource.read(spark, src(t)).select((Seq("user_id", "event_ts") ++ names).map(col): _*)
    // the layers beneath the facade, timed on the same inputs
    val readS = median((1 to 3).map(_ => secondsOf {
      noop(BatchSource.read(spark, src("stats"))); noop(BatchSource.read(spark, src("txn")))
    }._2))
    val (_, asofS) = secondsOf {
      noop(PointInTimeJoin.asof(
        PointInTimeJoin.asof(entities, feats("stats", Seq("clicks", "dwell")), Seq("user_id"),
          "ts", "event_ts", Seq("clicks", "dwell"), Some(g.statsMaxAgeSec), "stats__"),
        feats("txn", Seq("items", "amount")), Seq("user_id"), "ts", "event_ts",
        Seq("items", "amount"), Some(g.txnMaxAgeSec), "txn__"))
    }
    val (_, fwdS) = secondsOf(noop(PointInTimeJoin.asofForward(entities,
      feats("txn", Seq("amount")), Seq("user_id"), "ts", "event_ts", Seq("amount"),
      Some(g.labelWindowSec), "txn__label_")))
    Layers.common(ctx, tracer, l, traced.filter(_.error.isEmpty).map(c => (c.id, c.seconds)),
      e2eU, e2eT) ++ Seq(
      ("FeatureStore.getHistoricalFeatures_s",
        Layers.spanMedian(tracer, "FeatureStore.getHistoricalFeatures"), "s"),
      ("FeatureStore.getTrainingSet_s", Layers.spanMedian(tracer, "FeatureStore.getTrainingSet"), "s"),
      ("FeatureStore.getOnlineFeatures_s", 0.0, "s"),
      ("FeatureStore.materializeIncremental_s", 0.0, "s"),
      ("model.Registry.save_s", median(saveS), "s"),
      ("model.Registry.load_s", median(loadS), "s"),
      ("sources.read_s", readS, "s"),
      ("operators.PointInTimeJoin.asof_s", asofS, "s"),
      ("operators.PointInTimeJoin.asofForward_s", fwdS, "s"),
      ("operators.LatestValue.latest_s", 0.0, "s"),
      ("serving.snapshot_s", 0.0, "s"),
      ("serving.upsert_s", 0.0, "s"),
      ("serving.store_bytes", 0.0, "bytes"),
      ("serving.write_amp", 0.0, "ratio"),
      ("online.failed_share", 0.0, "ratio"),
      ("online.failed.file_not_exist", 0.0, "count"),
      ("online.failed.datatype_mismatch", 0.0, "count"),
      ("online.failed.other", 0.0, "count"))
  }

  // -------------------------------------------------------------- checks

  private val Sample = 300

  /** Every output has one row per entity row; a seeded sample of rows
    * equals a brute-force as-of over the regenerated feature rows. */
  private def check(ctx: Ctx, g: Gen.Offline, calls: Seq[Call]): Boolean = {
    val eids = (0 until Sample).map(j => Gen.below(Gen.h(g.seed, 51, j), g.entityRows)).distinct
    val ents = eids.map(Gen.entity(g.seed, g.zipf, _)).toArray
    val byKey: Map[Long, Array[Int]] = ents.indices.toArray.groupBy(e => ents(e)._2)
    // one pass over each regenerated table (split across the cores) keeps,
    // per sampled entity row, the latest row at or before its time and the
    // earliest at or after it
    def later(a: Gen.FRow, b: Gen.FRow) = if (a == null || (b != null && b.tsUs > a.tsUs)) b else a
    def earlier(a: Gen.FRow, b: Gen.FRow) = if (a == null || (b != null && b.tsUs < a.tsUs)) b else a
    def scanRange(t: Gen.TableSpec, from: Long, until: Long): (Array[Gen.FRow], Array[Gen.FRow]) = {
      val back = new Array[Gen.FRow](ents.length)
      val fwd = new Array[Gen.FRow](ents.length)
      var i = from
      while (i < until) {
        byKey.get(g.zipf.sample(Gen.unit(Gen.h(g.seed, t.stream, i)))).foreach { es =>
          val r = t.row(g.seed, g.zipf, i)
          es.foreach { e =>
            val ts = ents(e)._3
            if (r.tsUs <= ts) back(e) = later(back(e), r)
            if (r.tsUs >= ts) fwd(e) = earlier(fwd(e), r)
          }
        }
        i += 1
      }
      (back, fwd)
    }
    def scan(t: Gen.TableSpec): (Array[Gen.FRow], Array[Gen.FRow]) = {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      val chunk = (t.rows + ctx.cores - 1) / ctx.cores
      val parts = Await.result(Future.sequence((0 until ctx.cores).map(p =>
        Future(scanRange(t, p * chunk, math.min((p + 1) * chunk, t.rows))))),
        scala.concurrent.duration.Duration.Inf)
      parts.reduce((a, b) => (a._1.indices.map(e => later(a._1(e), b._1(e))).toArray,
        a._2.indices.map(e => earlier(a._2(e), b._2(e))).toArray))
    }
    val (statsBack, _) = scan(g.stats)
    val (txnBack, txnFwd) = scan(g.txn)
    def fresh(r: Gen.FRow, ts: Long, maxAgeSec: Long) =
      Option(r).filter(_.tsUs >= ts - maxAgeSec * 1000000L)
    def vals(r: Option[Gen.FRow]): Seq[Option[Any]] =
      Seq(r.map(_.tsUs), r.map(_.l), r.flatMap(x => Option(x.d)).map(_.doubleValue))
    // expected per eid: stats (ts, clicks, dwell), then txn (ts, items,
    // amount) for a historical call or the label (ts, 0/1, amount) for a
    // training-set call
    val expected: Map[Long, (Seq[Option[Any]], Seq[Option[Any]], Seq[Option[Any]])] =
      ents.indices.map { e =>
        val (eid, _, ts) = ents(e)
        val lb = Option(txnFwd(e)).filter(_.tsUs <= ts + g.labelWindowSec * 1000000L)
        eid -> (vals(fresh(statsBack(e), ts, g.statsMaxAgeSec)),
          vals(fresh(txnBack(e), ts, g.txnMaxAgeSec)),
          Seq(lb.map(_.tsUs), Some(if (lb.isDefined) 1L else 0L),
            lb.flatMap(r => Option(r.d)).map(_.doubleValue)))
      }.toMap
    if (calls.isEmpty) return true
    def us(c: String) = unix_micros(col(c).cast("timestamp"))
    val outs = calls.map { c =>
      val rest =
        if (c.training) Seq(us("txn__label_ts"), col("label"), col("txn__label_amount"))
        else Seq(us("txn__ts"), col("txn__items"), col("txn__amount"))
      ctx.spark.read.parquet(c.out).select(lit(c.k).as("call") +: col("eid") +:
        (Seq(us("stats__ts"), col("stats__clicks"), col("stats__dwell")) ++ rest)
          .zipWithIndex.map { case (e, i) => e.as(s"v$i") }: _*)
    }.reduce(_ unionByName _)
    var ok = true
    val counts = outs.groupBy("call").agg(count(lit(1)), count_distinct(col("eid"))).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    calls.foreach { c =>
      if (!counts.get(c.k).contains((g.entityRows, g.entityRows))) {
        ok = false
        System.err.println(s"[perfbench] CHECK FAILED call ${c.k}: (rows, distinct eids) = " +
          s"${counts.get(c.k)}, want ${g.entityRows} of each")
      }
    }
    val sampled = outs.filter(col("eid").isin(eids: _*)).collect().groupBy(_.getLong(0))
    calls.foreach { c =>
      val rows = sampled.getOrElse(c.k, Array.empty[Row])
      if (rows.map(_.getLong(1)).sorted.toSeq != eids.sorted) {
        ok = false
        System.err.println(s"[perfbench] CHECK FAILED call ${c.k}: sampled eids missing or repeated")
      }
      rows.foreach { r =>
        val (s, t, l) = expected(r.getLong(1))
        val want = s ++ (if (c.training) l else t)
        val got = (2 until r.length).map(i => Option(r.get(i)))
        if (got != want) {
          ok = false
          System.err.println(s"[perfbench] CHECK FAILED call ${c.k} eid ${r.getLong(1)}: " +
            s"got $got want $want")
        }
      }
    }
    ok
  }
}
