package perfbench

import Main._

/** The per-layer metrics both workloads share: the `spark` layer per
  * primary call, self time per layer, and the tracing overhead. */
object Layers {
  val SelfLayers: Seq[String] = Seq("client", "FeatureStore", "serving", "spark")

  /** The timed part of a run: one untraced phase of `ctx.seconds`, or in a
    * traced run a traced half between two untraced quarters, so the
    * untraced numbers the tracing overhead is measured against straddle the
    * traced ones. `phase(tracer, seconds)` runs one phase. */
  def phases[A](ctx: Ctx)(phase: (Tracer, Double) => A)
      : (Seq[A], Option[(A, Tracer, EngineListener)]) = {
    val sc = ctx.spark.sparkContext
    val off = new Tracer(sc, enabled = false)
    if (!ctx.trace) (Seq(phase(off, ctx.seconds)), None)
    else {
      val u1 = phase(off, ctx.seconds / 4)
      val l = EngineListener.attach(ctx.spark)
      val tr = new Tracer(sc, enabled = true)
      val t = phase(tr, ctx.seconds / 2)
      l.drain()
      EngineListener.detach(ctx.spark, l)
      val u2 = phase(off, ctx.seconds / 4)
      (Seq(u1, u2), Some((t, tr, l)))
    }
  }

  def spanMedian(tracer: Tracer, name: String): Double = {
    import scala.jdk.CollectionConverters._
    medianOr0(tracer.spans.asScala.filter(s => s.name == name && s.ok).map(_.seconds).toSeq)
  }

  /** `calls`: (call id, seconds) of the traced phase's successful primary
    * calls; `e2eU`/`e2eT`: the untraced and traced end-to-end numbers. */
  def common(ctx: Ctx, tracer: Tracer, l: EngineListener, calls: Seq[(Long, Double)],
             e2eU: Seq[(String, Double, String)], e2eT: Seq[(String, Double, String)])
      : Seq[(String, Double, String)] = {
    require(calls.nonEmpty, "no successful traced call")
    val n = calls.size.toDouble
    val stats = calls.map { case (id, _) => id -> l.callStats(id) }
    val roots = tracer.roots
    val rootOf = roots.map(s => s.call -> s).toMap
    def mean(f: CallStats => Double): Double = stats.map(s => f(s._2)).sum / n
    val outside = stats.map { case (id, s) =>
      val r = rootOf(id)
      val busy = Intervals.unionMs(s.taskIntervals.toSeq.map { case (a, b) =>
        (math.max(a, r.startMs), math.min(b, r.endMs)) }.filter(iv => iv._2 > iv._1))
      (r.endMs - r.startMs - busy) / 1000.0
    }
    val phaseMs = roots.map(_.endMs).max - roots.map(_.startMs).min
    val tasks = stats.map(_._2.tasks).sum.toDouble
    val stages = stats.map(_._2.stages).sum.toDouble
    val self = tracer.selfSeconds(calls.map(_._1).toSet)
    def e2e(xs: Seq[(String, Double, String)], name: String) = xs.find(_._1 == name).get._2
    Seq(
      ("calls.traced", n, "count"),
      ("spark.jobs", mean(_.jobs), "count"),
      ("spark.stages", mean(_.stages), "count"),
      ("spark.tasks_per_stage", if (stages == 0) 0.0 else tasks / stages, "count"),
      ("spark.planning_s", mean(_.planningMs) / 1000, "s"),
      ("spark.driver_outside_tasks_s", outside.sum / n, "s"),
      ("spark.task_s", mean(_.taskMs) / 1000, "s"),
      ("spark.shuffle_read_bytes", mean(_.shuffleRead.toDouble), "bytes"),
      ("spark.shuffle_write_bytes", mean(_.shuffleWrite.toDouble), "bytes"),
      ("spark.gc_s", mean(_.gcMs) / 1000, "s"),
      ("spark.core_busy_share", l.allTaskMs / (phaseMs * ctx.cores), "ratio")) ++
    SelfLayers.map(layer => (s"self.${layer}_s", self.getOrElse(layer, 0.0) / n, "s")) ++ Seq(
      ("trace.overhead_call_p50_share",
        e2e(e2eT, "call_p50_ms") / e2e(e2eU, "call_p50_ms") - 1, "ratio"),
      ("trace.overhead_rows_per_s_share",
        1 - e2e(e2eT, "rows_per_s") / e2e(e2eU, "rows_per_s"), "ratio"))
  }
}
