package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything a workload needs from the command line and the session. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double, trace: Boolean,
                     work: Path, cores: Int) {
  def dir(name: String): String = work.resolve(name).toString
}

/** What a workload reports: the run's end-to-end or per-layer metrics,
  * its attempt and failure counts, and the outcome of its output checks. */
final case class Outcome(metrics: Seq[(String, Double, String)], attempted: Long,
                         failed: Long, correct: Boolean)

/** `perfbench.Main --workload <offline_batch|online_serving> --seed <n>
  *   --seconds <s> --trace <0|1> --work <dir>`: one run of one workload in
  * one Spark session. The last stdout line is the run's JSON result. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)
    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1).count()
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = Ctx(spark, opts("seed").toLong, opts("seconds").toDouble,
      opts.get("trace").contains("1"), work, cores)
    val out = try workload match {
      case "offline_batch" => OfflineBench.run(ctx, sessionS)
      case "online_serving" => OnlineBench.run(ctx, sessionS)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    } finally spark.stop()
    System.err.println(f"[perfbench] JVM up ${java.lang.management.ManagementFactory
      .getRuntimeMXBean.getUptime / 1000.0}%.1fs")
    println(json(out))
  }

  def json(o: Outcome): String = {
    val ms = o.metrics.map { case (n, v, u) =>
      require(!v.isNaN && !v.isInfinite, s"metric $n is not a number")
      s""""$n": {"value": ${v.toString}, "unit": "$u"}"""
    }
    s"""{"correct": ${o.correct}, "attempted": ${o.attempted}, "failed": ${o.failed}, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }

  // ------------------------------------------------------------ helpers

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of nothing")
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }
  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)

  def secondsOf[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e9)
  }

  /** Error class of a failed call: the Spark condition of the first
    * SparkThrowable on the cause chain that has one, else the class of the
    * innermost cause. */
  def errorClass(e: Throwable): String = {
    var c = e
    var root = e
    while (c != null) {
      c match {
        case s: org.apache.spark.SparkThrowable if s.getCondition != null => return s.getCondition
        case _ =>
      }
      root = c
      c = c.getCause
    }
    root.getClass.getSimpleName
  }

  private val seenClasses = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  /** [[errorClass]], logging the first failure of each class to stderr. */
  def classify(e: Throwable): String = {
    val cls = errorClass(e)
    if (seenClasses.add(cls))
      System.err.println(s"[perfbench] first failure of class $cls: " +
        String.valueOf(e.getMessage).take(400))
    cls
  }

  def bytesUnder(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }
  }

  /** Record of failed calls by error class. */
  final class Failures {
    private val m = mutable.TreeMap.empty[String, Long]
    def add(cls: String): Unit = synchronized(m(cls) = m.getOrElse(cls, 0L) + 1)

    def counts: Map[String, Long] = synchronized(m.toMap)
    def total: Long = counts.values.sum
    def render: String =
      if (counts.isEmpty) "none" else counts.map { case (k, v) => s"$k=$v" }.mkString(" ")
  }
}
