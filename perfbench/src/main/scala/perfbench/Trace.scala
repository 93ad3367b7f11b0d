package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a timed call into a layer. Spans of one client call share
  * `call`; `parent` is the enclosing span (0 for the call's root). Times
  * are epoch milliseconds with a nanosecond-precise duration. */
final case class Span(id: Long, parent: Long, call: Long, name: String,
                      startMs: Double, endMs: Double, ok: Boolean) {
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (endMs - startMs) / 1000.0
}

/** Spans recorded around the benchmark's calls into each layer. Disabled,
  * it only runs the bodies; enabled, it keeps every span in memory and
  * tags the calling thread's Spark jobs with the call id so the listener
  * can attribute jobs, stages and tasks to calls. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Span]] { override def initialValue(): List[Span] = Nil }
  val spans = new ConcurrentLinkedQueue[Span]()
  /** Origin of the epoch-ms clock: wall clock at start plus nanoTime. */
  private val originMs = System.currentTimeMillis().toDouble
  private val originNs = System.nanoTime()
  def nowMs: Double = originMs + (System.nanoTime() - originNs) / 1e6

  /** A root span: a new call id for everything beneath it. */
  def call[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val id = ids.incrementAndGet()
    sc.setLocalProperty(Tracer.CallProp, id.toString)
    try run(name, id, id, 0L, body)
    finally sc.setLocalProperty(Tracer.CallProp, null)
  }

  /** A child span of the innermost open span of this thread. */
  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    stack.get match {
      case p :: _ => run(name, ids.incrementAndGet(), p.call, p.id, body)
      case Nil => call(name)(body)
    }
  }

  private def run[T](name: String, id: Long, call: Long, parent: Long, body: => T): T = {
    val open = Span(id, parent, call, name, nowMs, 0, ok = false)
    stack.set(open :: stack.get)
    var ok = false
    try { val r = body; ok = true; r }
    finally {
      stack.set(stack.get.tail)
      spans.add(open.copy(endMs = nowMs, ok = ok))
    }
  }

  /** Call id of the innermost open span of this thread (0 outside calls). */
  def currentCall: Long = stack.get.headOption.map(_.call).getOrElse(0L)

  def roots: Seq[Span] = spans.asScala.filter(_.parent == 0).toSeq

  /** Self time per layer summed over the given calls: each span's duration
    * minus the part of it its child spans cover. */
  def selfSeconds(calls: Set[Long]): Map[String, Double] = {
    val all = spans.asScala.filter(s => calls(s.call)).toSeq
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = Intervals.unionMs(kids.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)))
      s.layer -> (s.seconds - covered / 1000.0)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }
}

object Tracer {
  val CallProp = "perfbench.call"
}

object Intervals {
  /** Length of the union of [start, end) intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

/** Per-call Spark counters gathered by [[EngineListener]]. */
final class CallStats {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskMs = 0.0
  var gcMs = 0.0
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var bytesWritten = 0L
  var planningMs = 0.0
  val taskIntervals = mutable.ArrayBuffer.empty[(Double, Double)]
}

/** The `spark` layer, observed from outside: a SparkListener attributes
  * jobs, stages and tasks to the call id the [[Tracer]] put on the
  * submitting thread, and a QueryExecutionListener adds each query's
  * planning phases (analysis, optimization, planning) to the call that ran
  * it. Everything stays in memory until [[drain]]. */
final class EngineListener extends SparkListener with QueryExecutionListener {
  private val byCall = mutable.HashMap.empty[Long, CallStats]
  private val stageCall = mutable.HashMap.empty[Int, Long]
  private val execCall = mutable.HashMap.empty[Long, Long]
  private val planningByQe = new java.util.IdentityHashMap[QueryExecution, java.lang.Double]()
  private val qeExec = new java.util.IdentityHashMap[QueryExecution, java.lang.Long]()
  private var openJobs = 0
  @volatile private var lastEventNs = System.nanoTime()
  /** Task busy time of all tasks, for the core-busy share. */
  var allTaskMs = 0.0

  private def stats(call: Long): CallStats = byCall.getOrElseUpdate(call, new CallStats)
  private def touch(): Unit = lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    touch(); openJobs += 1
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(Tracer.CallProp))).map(_.toLong).foreach { call =>
      stats(call).jobs += 1
      e.stageIds.foreach(stageCall(_) = call)
      // a command's query listener event carries the root execution id,
      // its jobs the (nested) execution id: map both
      Seq("spark.sql.execution.id", "spark.sql.execution.root.id")
        .flatMap(k => props.flatMap(p => Option(p.getProperty(k))))
        .foreach(x => execCall(x.toLong) = call)
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { touch(); openJobs -= 1 }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    touch()
    stageCall.get(e.stageInfo.stageId).foreach(stats(_).stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    touch()
    val m = e.taskMetrics
    val runMs = if (m == null) 0.0 else m.executorRunTime.toDouble
    allTaskMs += runMs
    stageCall.get(e.stageId).foreach { call =>
      val s = stats(call)
      s.tasks += 1
      s.taskMs += runMs
      s.taskIntervals += ((e.taskInfo.launchTime.toDouble, e.taskInfo.finishTime.toDouble))
      if (m != null) {
        s.gcMs += m.jvmGCTime
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planned(qe)
  private def planned(qe: QueryExecution): Unit = synchronized {
    touch()
    val phases = qe.tracker.phases
    planningByQe.put(qe, Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs.toDouble).sum)
  }

  /** The end of a SQL execution names its execution id and carries the
    * query execution the QueryExecutionListener sees; that pairing is what
    * attributes planning time to a call. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd =>
      val qe = try end.getClass.getMethod("qe").invoke(end) catch { case _: Exception => null }
      qe match {
        case q: QueryExecution => synchronized { touch(); qeExec.put(q, end.executionId) }
        case _ =>
      }
    case _ =>
  }

  /** Wait until every started job has ended and the bus has been quiet for
    * a moment, then attribute planning time to calls. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 20L * 1000000000L
    while (System.nanoTime() < deadline &&
      (synchronized(openJobs) > 0 || System.nanoTime() - lastEventNs < 300L * 1000000L))
      Thread.sleep(50)
    synchronized {
      planningByQe.asScala.foreach { case (qe, ms) =>
        Option(qeExec.get(qe)).flatMap(x => execCall.get(x)).foreach(stats(_).planningMs += ms)
      }
      planningByQe.clear()
      qeExec.clear()
    }
  }

  def callStats(call: Long): CallStats = synchronized(byCall.getOrElse(call, new CallStats))
}

object EngineListener {
  def attach(spark: SparkSession): EngineListener = {
    val l = new EngineListener
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
    l
  }
  def detach(spark: SparkSession, l: EngineListener): Unit = {
    spark.sparkContext.removeSparkListener(l)
    spark.listenerManager.unregister(l)
  }
}

/** The `serving` layer seen from outside: wraps the store the facade is
  * handed, so the facade's own upsert and snapshot calls become spans. */
final class TracedStore(inner: graft.serving.OnlineStore, tracer: Tracer)
    extends graft.serving.OnlineStore {
  override def upsert(rows: DataFrame, keys: Seq[String], orderCols: Seq[String],
                      valueCols: Seq[String]): Unit =
    tracer.span("serving.upsert")(inner.upsert(rows, keys, orderCols, valueCols))
  override def snapshot(spark: SparkSession): DataFrame =
    tracer.span("serving.snapshot")(inner.snapshot(spark))
}
