package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CyclicBarrier}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit, timestamp_micros}

import graft.FeatureStore
import graft.model.{Entity, Feature, FeatureRef, FeatureTable, Registry, ValueKind}
import graft.operators.LatestValue
import graft.serving.{MaterializationLog, OnlineStore, ParquetOnlineStore}
import graft.sources.BatchSource

import Main._

/** online_serving: two closed-loop readers call getOnlineFeatures with
  * 16-key requests against a 200k-key store; after every `ReadsPerCycle`
  * reads per reader a writer runs materializeIncremental, one hourly window
  * per tick, while the readers wait. Reads never overlap a store rewrite
  * and never ask the table whose source stores its event time as
  * TIMESTAMP_NTZ: both hit known serving defects, which [[probe]] reports,
  * so the timed workload holds only operations that can succeed. */
object OnlineBench {
  private val SetupReps = 3
  private val Readers = 2
  private val ReadsPerCycle = 10
  private val WarmReads = 12
  private val ProbeNtzReads = 8
  private val ProbeWrites = 3
  private val Origin = "2000-01-01 00:00:00"

  /** A table of the run: its registry name, its two features, and the
    * stream its one-row-per-key cover is generated from. */
  final case class Table(name: String, lname: String, dname: String, coverStream: Long) {
    def refs: Seq[FeatureRef] = Seq(FeatureRef(name, lname), FeatureRef(name, dname))
    def storeName: String = s"${name}_store"
  }
  private val Profile = Table("profile", "level", "score", 71)
  private val Stats = Table("stats", "visits", "rating", 81)

  final case class Read(client: Int, r: Long, table: Table, keys: Array[Long], seconds: Double,
                        id: Long, v0: Int, v1: Int, rows: Array[Row], error: Option[String])
  final case class Tick(w: Int, seconds: Double, id: Long, error: Option[String])

  final class Served(val fs: FeatureStore, dir: String) {
    val stores: Map[Table, ParquetOnlineStore] =
      Seq(Profile, Stats).map(t => t -> new ParquetOnlineStore(s"$dir/${t.storeName}")).toMap
    val log = new MaterializationLog(s"$dir/matlog")
    def storePath(t: Table): String = s"$dir/${t.storeName}"
  }

  /** Write the inputs and the registry under `dir`, reopen the store from
    * the saved registry and materialize everything before t0. Returns the
    * served state, the registry save/load times, and each writer window's
    * source file size. */
  private def setUp(ctx: Ctx, g: Gen.Online, dir: String)
      : (Served, Double, Double, Map[Int, Long]) = {
    val spark = ctx.spark
    val files = ctx.cores * 2
    val (seed, zipf) = (g.seed, g.zipf)
    Gen.write(spark, g.keys + g.extra.rows, i =>
        if (i < g.keys) Gen.cover(seed, Profile.coverStream, i) else g.extra.row(seed, zipf, i - g.keys),
      s"$dir/profile", Profile.lname, Profile.dname, ntz = false, files, extra = g.specialRows)
    // one file per writer window, moved into the same source directory
    val wr = g.windowRows
    Gen.write(spark, g.windows * wr, i => g.window((i / wr).toInt).row(seed, zipf, i % wr),
      s"$dir/windows", Profile.lname, Profile.dname, ntz = false, g.windows)
    val windowBytes = Files.list(Paths.get(s"$dir/windows")).iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("part-")).map { p =>
        val w = p.getFileName.toString.drop(5).takeWhile(_.isDigit).toInt
        Files.move(p, Paths.get(s"$dir/profile/part-window-$w.parquet"))
        w -> Files.size(Paths.get(s"$dir/profile/part-window-$w.parquet"))
      }.toMap
    require(windowBytes.size == g.windows, s"expected ${g.windows} window files")
    Gen.write(spark, g.statsKeys.toLong, i => Gen.cover(seed, Stats.coverStream, i),
      s"$dir/stats", Stats.lname, Stats.dname, ntz = true, files)
    val reg = new Registry
    reg.applyEntity(Entity("user_id", ValueKind.Int64K))
    Seq(Profile, Stats).foreach { t =>
      reg.applyTable(FeatureTable(t.name, Seq("user_id"),
        Seq(Feature(t.lname, ValueKind.Int64K), Feature(t.dname, ValueKind.DoubleK)),
        maxAgeSec = Some(g.maxAgeSec), eventTsCol = "event_ts",
        batchSourcePath = Some(s"$dir/${t.name}")))
    }
    val (_, saveS) = secondsOf(Registry.save(reg, spark, s"$dir/registry"))
    val (fs, loadS) = secondsOf(FeatureStore.load(spark, s"$dir/registry"))
    val served = new Served(fs, dir)
    Seq(Profile, Stats).foreach { t =>
      fs.materializeIncremental(t.name, served.stores(t), served.log, Gen.tsString(g.t0),
        origin = Origin, storeName = t.storeName)
    }
    (served, saveS, loadS, windowBytes)
  }

  private def read(ctx: Ctx, s: Served, g: Gen.Online, t: Table, keys: Array[Long],
                   tracer: Tracer): Array[Row] = {
    import ctx.spark.implicits._
    val store: OnlineStore =
      if (tracer.enabled) new TracedStore(s.stores(t), tracer) else s.stores(t)
    val req = keys.toSeq.toDF("user_id")
    val df = tracer.span("FeatureStore.getOnlineFeatures")(
      s.fs.getOnlineFeatures(store, req, t.refs, timestamp_micros(lit(g.reqTs))))
    tracer.span("spark.collect")(df.collect())
  }

  /** Request `r` of stream `c` against table `t`, timed; `version` counts
    * the writer windows applied so far. */
  private def readOnce(ctx: Ctx, s: Served, g: Gen.Online, t: Table, c: Int, r: Long,
                       version: AtomicInteger, tracer: Tracer): Read = {
    val keys = g.request(c, r)
    val v0 = version.get
    var id = 0L
    val t0 = System.nanoTime()
    val (rows, err) = try {
      (tracer.call("client.read") { id = tracer.currentCall; read(ctx, s, g, t, keys, tracer) },
        None)
    } catch { case e: Exception => (null, Some(classify(e))) }
    val secs = (System.nanoTime() - t0) / 1e9
    Read(c, r, t, keys, secs, id, v0, version.get, rows, err)
  }

  /** Apply the next writer window to the profile store, timed. */
  private def writeOnce(s: Served, g: Gen.Online, version: AtomicInteger,
                        tracer: Tracer): Tick = {
    val w = version.get
    val store: OnlineStore =
      if (tracer.enabled) new TracedStore(s.stores(Profile), tracer) else s.stores(Profile)
    var id = 0L
    val t0 = System.nanoTime()
    val err = try {
      tracer.call("client.materialize") {
        id = tracer.currentCall
        tracer.span("FeatureStore.materializeIncremental")(
          s.fs.materializeIncremental(Profile.name, store, s.log,
            Gen.tsString(g.t0 + (w + 1) * Gen.Hour), origin = Origin,
            storeName = Profile.storeName))
      }
      version.set(w + 1)
      None
    } catch { case e: Exception => Some(classify(e)) }
    Tick(w, (System.nanoTime() - t0) / 1e9, id, err)
  }

  /** Cycles for `seconds`: each reader sends `ReadsPerCycle` requests (fewer
    * once the time is up), then one writer window is applied while the
    * readers wait; `next` is each reader's next request. */
  private def phase(ctx: Ctx, s: Served, g: Gen.Online, tracer: Tracer, version: AtomicInteger,
                    next: Array[Long], seconds: Double): (Seq[Read], Seq[Tick], Double) = {
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    val reads = new ConcurrentLinkedQueue[Read]()
    val ticks = mutable.ArrayBuffer.empty[Tick]
    val readsDone = new CyclicBarrier(Readers + 1)
    val writeDone = new CyclicBarrier(Readers + 1)
    val stop = new AtomicBoolean(false)
    val readers = (0 until Readers).map { c =>
      new Thread(() => {
        while (!stop.get) {
          var i = 0
          while (i < ReadsPerCycle && System.nanoTime() < deadline) {
            reads.add(readOnce(ctx, s, g, Profile, c, next(c), version, tracer))
            next(c) += 1
            i += 1
          }
          readsDone.await()
          writeDone.await()
        }
      }, s"perfbench-reader-$c")
    }
    readers.foreach(_.start())
    while (!stop.get) {
      readsDone.await()
      if (System.nanoTime() < deadline && version.get < g.windows)
        ticks += writeOnce(s, g, version, tracer)
      if (System.nanoTime() >= deadline) stop.set(true)
      writeDone.await()
    }
    readers.foreach(_.join())
    (reads.asScala.toSeq, ticks.toSeq, (System.nanoTime() - start) / 1e9)
  }

  /** The two known serving defects, exercised untimed after the traced
    * run's phases and reported by error class instead of being avoided:
    * reads of the TIMESTAMP_NTZ table (getOnlineFeatures fails
    * DATATYPE_MISMATCH on its event time), then readers beside
    * `ProbeWrites` back-to-back writer windows (ParquetOnlineStore deletes
    * the live store before renaming the new one into place, so overlapping
    * reads fail FAILED_READ_FILE.FILE_NOT_EXIST). */
  private def probe(ctx: Ctx, s: Served, g: Gen.Online, version: AtomicInteger,
                    next: Array[Long]): (Seq[Read], Seq[Tick]) = {
    val off = new Tracer(ctx.spark.sparkContext, enabled = false)
    val ntz = (0 until ProbeNtzReads).map(r =>
      readOnce(ctx, s, g, Stats, 2 * Readers, r.toLong, version, off))
    val reads = new ConcurrentLinkedQueue[Read]()
    val done = new AtomicBoolean(false)
    val readers = (0 until Readers).map { c =>
      new Thread(() => {
        while (!done.get) {
          reads.add(readOnce(ctx, s, g, Profile, c, next(c), version, off))
          next(c) += 1
        }
      }, s"perfbench-probe-reader-$c")
    }
    readers.foreach(_.start())
    val ticks = try (0 until ProbeWrites).filter(_ => version.get < g.windows)
      .map(_ => writeOnce(s, g, version, off))
    finally done.set(true)
    readers.foreach(_.join())
    (ntz ++ reads.asScala.toSeq, ticks)
  }

  def run(ctx: Ctx, sessionS: Double): Outcome = {
    val spark = ctx.spark
    val g = Gen.Online(ctx.seed)
    val reps = (0 until SetupReps).map { r =>
      val ((served, saveS, loadS, wb), s) = secondsOf(setUp(ctx, g, ctx.dir(s"setup$r")))
      if (r > 0) deleteTree(ctx.dir(s"setup${r - 1}"))
      (served, s, saveS, loadS, wb)
    }
    val served = reps.last._1
    val windowBytes = reps.last._5
    val off = new Tracer(spark.sparkContext, enabled = false)
    // warm-up: the first writer window, then `WarmReads` reads per reader
    // on request streams no reader uses, so the timed reads run on compiled
    // planner code
    val (_, warmS) = secondsOf {
      served.fs.materializeIncremental(Profile.name, served.stores(Profile), served.log,
        Gen.tsString(g.t0 + Gen.Hour), origin = Origin, storeName = Profile.storeName)
      val warmers = (0 until Readers).map { c =>
        new Thread(() => (0 until WarmReads).foreach(r =>
          read(ctx, served, g, Profile, g.request(Readers + c, r), off)), s"perfbench-warm-$c")
      }
      warmers.foreach(_.start())
      warmers.foreach(_.join())
    }
    val setupS = sessionS + median(reps.map(_._2)) + warmS
    System.err.println(f"[perfbench] setup: session $sessionS%.2fs, inputs " +
      reps.map(r => f"${r._2}%.2f").mkString("/") + f"s, warm-up $warmS%.2fs")

    val version = new AtomicInteger(1)
    val next = Array.fill(Readers)(0L)
    val (us, tr) = Layers.phases(ctx)((tracer, seconds) =>
      phase(ctx, served, g, tracer, version, next, seconds))
    val (uReads, uTicks, uWall) = (us.flatMap(_._1), us.flatMap(_._2), us.map(_._3).sum)
    val (tReads, tTicks) = tr.map(t => (t._1._1, t._1._2)).getOrElse((Nil, Nil))
    val reads = uReads ++ tReads
    val ticks = uTicks ++ tTicks
    val failures = new Failures
    (reads.flatMap(_.error) ++ ticks.flatMap(_.error)).foreach(failures.add)
    val okReads = reads.filter(_.error.isEmpty).map(_.seconds).sorted
    System.err.println("[perfbench] successful read seconds by decile: " +
      (1 to 10).map(d => f"${pct(okReads, d / 10.0)}%.3f").mkString(" ") +
      "; writer tick seconds: " + ticks.map(t => f"${t.seconds}%.2f").mkString(" "))
    println(s"[perfbench] online_serving: ${reads.size} reads, ${ticks.size} writer ticks " +
      f"(p50 ${medianOr0(ticks.filter(_.error.isEmpty).map(_.seconds))}%.3fs), " +
      s"failures by class: ${failures.render}")

    // traced run only: the direct layer timings, then the defect probe,
    // which may leave the store broken and so runs last
    val dir = ctx.dir(s"setup${SetupReps - 1}")
    val noop = (df: DataFrame) => df.write.format("noop").mode("overwrite").save()
    val src = BatchSource(s"$dir/${Profile.name}", eventTsCol = "event_ts")
    val lastW = math.max(version.get - 1, 0)
    def window = BatchSource.readRange(spark, src, Gen.tsString(g.t0 + lastW * Gen.Hour),
      Gen.tsString(g.t0 + (lastW + 1) * Gen.Hour))
    val direct = tr.map { _ =>
      val readS = median((1 to 3).map(_ => secondsOf(noop(window))._2))
      val cols = Seq("__project", "user_id", "event_ts", Profile.lname, Profile.dname)
      val latestS = median((1 to 3).map(_ => secondsOf(noop(LatestValue.latest(
        served.stores(Profile).snapshot(spark).select(cols.map(col): _*)
          .unionByName(window.withColumn("__project", lit("default")).select(cols.map(col): _*)),
        Seq("__project", "user_id"), Seq("event_ts"),
        Seq("event_ts", Profile.lname, Profile.dname))))._2))
      (readS, latestS, bytesUnder(served.storePath(Profile)).toDouble)
    }
    val (pReads, pTicks) =
      if (tr.isEmpty) (Nil, Nil) else probe(ctx, served, g, version, next)
    val probeFailures = new Failures
    (pReads.flatMap(_.error) ++ pTicks.flatMap(_.error)).foreach(probeFailures.add)
    if (tr.nonEmpty)
      println(s"[perfbench] defect probe (untimed, not in attempted/failed): ${pReads.size} " +
        s"reads, ${pTicks.size} writer ticks, failures by class: ${probeFailures.render}")

    val (correct, checkS) = secondsOf(check(g, (reads ++ pReads).filter(_.error.isEmpty)))
    System.err.println(f"[perfbench] checks: $checkS%.2fs")
    val e2e = endToEnd(uReads, uWall, g.keysPerRequest)
    val metrics = (tr, direct) match {
      case (Some(((_, _, tWall), tracer, listener)), Some((readS, latestS, storeBytes))) =>
        val amp = tTicks.filter(t => t.error.isEmpty && windowBytes.contains(t.w)).map(t =>
          listener.callStats(t.id).bytesWritten.toDouble / windowBytes(t.w))
        val classes = probeFailures.counts
        def bucket(p: String => Boolean) = classes.filter(kv => p(kv._1)).values.sum.toDouble
        val fileNotExist = (c: String) =>
          Seq("FILE_NOT_EXIST", "PATH_NOT_FOUND", "FileNotFound").exists(c.contains)
        val mismatch = (c: String) => c.startsWith("DATATYPE_MISMATCH")
        Layers.common(ctx, tracer, listener,
          tReads.filter(_.error.isEmpty).map(r => (r.id, r.seconds)),
          e2e, endToEnd(tReads, tWall, g.keysPerRequest)) ++ Seq(
          ("FeatureStore.getHistoricalFeatures_s", 0.0, "s"),
          ("FeatureStore.getTrainingSet_s", 0.0, "s"),
          ("FeatureStore.getOnlineFeatures_s",
            Layers.spanMedian(tracer, "FeatureStore.getOnlineFeatures"), "s"),
          ("FeatureStore.materializeIncremental_s",
            Layers.spanMedian(tracer, "FeatureStore.materializeIncremental"), "s"),
          ("model.Registry.save_s", median(reps.map(_._3)), "s"),
          ("model.Registry.load_s", median(reps.map(_._4)), "s"),
          ("sources.read_s", readS, "s"),
          ("operators.PointInTimeJoin.asof_s", 0.0, "s"),
          ("operators.PointInTimeJoin.asofForward_s", 0.0, "s"),
          ("operators.LatestValue.latest_s", latestS, "s"),
          ("serving.snapshot_s", Layers.spanMedian(tracer, "serving.snapshot"), "s"),
          ("serving.upsert_s", Layers.spanMedian(tracer, "serving.upsert"), "s"),
          ("serving.store_bytes", storeBytes, "bytes"),
          ("serving.write_amp", medianOr0(amp), "ratio"),
          ("online.failed_share", probeFailures.total.toDouble / pReads.size, "ratio"),
          ("online.failed.file_not_exist", bucket(fileNotExist), "count"),
          ("online.failed.datatype_mismatch", bucket(mismatch), "count"),
          ("online.failed.other", bucket(c => !fileNotExist(c) && !mismatch(c)), "count"))
      case _ => Seq(("setup_s", setupS, "s")) ++ e2e
    }
    Outcome(metrics, (reads.size + ticks.size).toLong, failures.total, correct)
  }

  private def endToEnd(reads: Seq[Read], wallS: Double, keysPerRequest: Int)
      : Seq[(String, Double, String)] = {
    val ok = reads.filter(_.error.isEmpty).map(_.seconds)
    require(ok.nonEmpty, "no successful read")
    Seq(("call_p50_ms", median(ok) * 1000, "ms"),
      ("call_p80_ms", pct(ok, 0.80) * 1000, "ms"),
      ("rows_per_s", ok.size * keysPerRequest / wallS, "rows/s"))
  }

  // -------------------------------------------------------------- checks

  /** Each successful read returns one row per requested key whose values
    * and statuses equal, for one store version the read could have seen,
    * the latest generated row per key — recomputed here from the generator,
    * with PRESENT / NULL_VALUE / OUTSIDE_MAX_AGE / NOT_FOUND decided by the
    * same max-age rule (event time >= serving time - max age). */
  private def check(g: Gen.Online, reads: Seq[Read]): Boolean = {
    val wanted = reads.flatMap(_.keys).toSet
    val maxV = if (reads.isEmpty) 0 else math.min(reads.map(_.v1).max + 1, g.windows)
    // per table and key: (window index, -1 before t0; row)
    val rows = mutable.HashMap.empty[(String, Long), mutable.ArrayBuffer[(Int, Gen.FRow)]]
    def add(t: Table, w: Int, r: Gen.FRow): Unit =
      if (wanted(r.key)) rows.getOrElseUpdate((t.name, r.key), mutable.ArrayBuffer.empty) += ((w, r))
    wanted.filter(_ < g.keys).foreach(k => add(Profile, -1, Gen.cover(g.seed, Profile.coverStream, k)))
    wanted.filter(_ < g.statsKeys).foreach(k => add(Stats, -1, Gen.cover(g.seed, Stats.coverStream, k)))
    var i = 0L
    while (i < g.extra.rows) { add(Profile, -1, g.extra.row(g.seed, g.zipf, i)); i += 1 }
    g.specialRows.foreach(add(Profile, -1, _))
    (0 until maxV).foreach { w =>
      val spec = g.window(w)
      var j = 0L
      while (j < spec.rows) { add(Profile, w, spec.row(g.seed, g.zipf, j)); j += 1 }
    }
    val cutoff = g.reqTs - g.maxAgeSec * 1000000L
    def expect(t: Table, key: Long, v: Int): Seq[Any] = {
      val latest = rows.get((t.name, key)).toSeq.flatten.filter(_._1 < v).map(_._2)
        .maxByOption(_.tsUs)
      def field(value: Gen.FRow => Any): Seq[Any] = latest match {
        case None => Seq(null, "NOT_FOUND")
        case Some(r) if r.tsUs < cutoff => Seq(null, "OUTSIDE_MAX_AGE")
        case Some(r) if value(r) == null => Seq(null, "NULL_VALUE")
        case Some(r) => Seq(value(r), "PRESENT")
      }
      field(r => java.lang.Long.valueOf(r.l)) ++ field(_.d)
    }
    var ok = true
    reads.foreach { rd =>
      val t = rd.table
      val cols = Seq(t.lname, s"${t.lname}__status", t.dname, s"${t.dname}__status")
        .map(c => s"${t.name}__$c")
      val got = rd.rows.map(r => r.getAs[Long]("user_id") -> cols.map(c => r.getAs[Any](c))).toMap
      val versions = rd.v0 to math.min(rd.v1 + 1, g.windows)
      val match1 = got.size == rd.rows.length && got.keySet == rd.keys.toSet &&
        versions.exists(v => rd.keys.forall(k => got(k) == expect(t, k, v)))
      if (!match1) {
        ok = false
        System.err.println(s"[perfbench] CHECK FAILED read ${rd.client}/${rd.r} " +
          s"(versions $versions): got ${got.toSeq.take(4)} want " +
          rd.keys.take(4).map(k => k -> expect(t, k, rd.v0)).toSeq)
      }
    }
    ok
  }
}
