package perfbench

import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The one seeded input generator: feature sources, entity frames, online
  * request streams and the writer schedule all derive from `seed` through
  * the pure functions below, so the checks recompute any generated row on
  * the driver without reading it back. Timestamps are microseconds since the
  * epoch (UTC). Generated feature rows of one table never share a
  * (key, timestamp), so "latest row" is never a tie. */
object Gen {
  private def mix(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  /** Hash of (seed, stream, index); one stream per purpose. */
  def h(seed: Long, stream: Long, i: Long): Long = mix(mix(mix(seed) ^ stream) ^ i)
  /** Uniform double in [0, 1). */
  def unit(x: Long): Double = (x >>> 11) * (1.0 / (1L << 53))
  def below(x: Long, n: Long): Long = java.lang.Math.floorMod(x, n)

  val Day: Long = 86400L * 1000000L
  val Hour: Long = 3600L * 1000000L
  /** Start of every generated timeline: 2024-01-01 00:00:00 UTC. */
  val Epoch0: Long = 1704067200L * 1000000L

  private val TsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  def tsString(us: Long): String =
    LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L), 0, ZoneOffset.UTC).format(TsFmt)

  /** Zipf(s) over ranks 0..n-1 by inverse CDF; rank 0 is the hottest key. */
  final class Zipf(n: Int, s: Double) extends Serializable {
    private val cdf: Array[Double] = {
      val a = new Array[Double](n)
      var acc = 0.0
      var k = 0
      while (k < n) { acc += math.pow(k + 1.0, -s); a(k) = acc; k += 1 }
      k = 0
      while (k < n) { a(k) /= acc; k += 1 }
      a
    }
    def sample(u: Double): Long = {
      var lo = 0
      var hi = n - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cdf(mid) < u) lo = mid + 1 else hi = mid
      }
      lo.toLong
    }
  }

  /** A generated feature row: key, event time (µs), a LONG feature and a
    * nullable DOUBLE feature. */
  final case class FRow(key: Long, tsUs: Long, l: Long, d: java.lang.Double)

  /** `rows` Zipf-keyed rows over [startUs, startUs + spanUs): row i owns
    * slot i of the span and sits on an even microsecond inside it, so
    * timestamps are distinct. `nullShare` of the DOUBLE values are null. */
  final case class TableSpec(stream: Long, rows: Long, startUs: Long, spanUs: Long,
                             nullShare: Double) {
    private val slot: Long = (spanUs / rows) & ~1L
    def row(seed: Long, zipf: Zipf, i: Long): FRow = {
      val a = h(seed, stream, i)
      val b = h(seed, stream + 1, i)
      val d: java.lang.Double =
        if (unit(h(seed, stream + 2, i)) < nullShare) null
        else java.lang.Double.valueOf(below(a >>> 5, 1000000L) / 100.0)
      FRow(zipf.sample(unit(a)), startUs + i * slot + 2 * below(b, slot / 2),
        below(b >>> 7, 1000L), d)
    }
  }

  /** Write `n` rows `f(0..n-1)` (plus `extra`) as parquet with columns
    * (user_id, event_ts, <lname>, <dname>); `ntz` stores event_ts as
    * TIMESTAMP_NTZ instead of TIMESTAMP. Rows are generated on the
    * executors, `filesPerWrite` files per dataset. */
  def write(spark: SparkSession, n: Long, f: Long => FRow, path: String,
            lname: String, dname: String, ntz: Boolean, filesPerWrite: Int,
            extra: Seq[FRow] = Nil): Unit = {
    import spark.implicits._
    val gen = spark.range(0, n, 1, filesPerWrite).mapPartitions(_.map(i => f(i.longValue())))
    val all = if (extra.isEmpty) gen else gen.union(extra.toDS()).coalesce(filesPerWrite)
    val ts = timestamp_micros(col("tsUs"))
    all.select(col("key").as("user_id"),
        (if (ntz) ts.cast("timestamp_ntz") else ts).as("event_ts"),
        col("l").as(lname), col("d").as(dname))
      .write.mode("overwrite").parquet(path)
  }

  // ------------------------------------------------------------ offline

  /** offline_batch inputs: two feature tables over 30 days (`stats` with a
    * TIMESTAMP_NTZ event time, `txn` with TIMESTAMP), Zipf keys, and an
    * entity frame with timestamps over days 2..30. */
  final case class Offline(seed: Long) {
    val keys: Int = 100000
    val statsRows: Long = 500000L
    val txnRows: Long = 500000L
    val entityRows: Long = 100000L
    val stats = TableSpec(11, statsRows, Epoch0, 30L * Day, nullShare = 0.02)
    val txn = TableSpec(21, txnRows, Epoch0, 30L * Day, nullShare = 0.0)
    val statsMaxAgeSec: Long = 3L * 86400
    val txnMaxAgeSec: Long = 7L * 86400
    val labelWindowSec: Long = 86400L
    lazy val zipf = new Zipf(keys, 1.0)
    /** Retrieval mix: call k is a getTrainingSet call when true. Each pair
      * of calls holds one of each kind, in a seeded order. */
    def isTraining(k: Long): Boolean = (k % 2 == 0) == (unit(h(seed, 41, k / 2)) < 0.5)
  }

  /** Entity row j: (eid, user_id, ts µs). */
  def entity(seed: Long, zipf: Zipf, j: Long): (Long, Long, Long) =
    (j, zipf.sample(unit(h(seed, 31, j))), Epoch0 + 2L * Day + below(h(seed, 32, j), 28L * Day))

  def writeEntities(spark: SparkSession, o: Offline, path: String, files: Int): Unit = {
    import spark.implicits._
    val z = o.zipf
    val seed = o.seed
    spark.range(0, o.entityRows, 1, files)
      .mapPartitions(_.map(j => entity(seed, z, j.longValue())))
      .toDF("eid", "user_id", "tsUs")
      .select(col("eid"), col("user_id"), timestamp_micros(col("tsUs")).as("ts"))
      .write.mode("overwrite").parquet(path)
  }

  // ------------------------------------------------------------- online

  /** online_serving inputs. `profile` (TIMESTAMP event time) holds one row
    * per key plus `extraRows` Zipf rows before t0, then `windows` hourly
    * windows after t0 of `windowRows` Zipf rows each (about 3% of the
    * keys); `stats` (TIMESTAMP_NTZ event time) holds one row for each of
    * the `statsKeys` hottest keys.
    * Keys above the Zipf range pin the status boundaries at the fixed
    * serving time `reqTs`: a row exactly max-age old (PRESENT), one µs
    * older (OUTSIDE_MAX_AGE), a fresh row with a null DOUBLE (NULL_VALUE);
    * keys from `missingBase` up are never written (NOT_FOUND). */
  final case class Online(seed: Long) {
    val keys: Int = 200000
    val statsKeys: Int = 20000
    val extraRows: Long = 200000L
    val windows: Int = 24
    val windowRows: Long = 6000L
    val keysPerRequest: Int = 16
    val t0: Long = Epoch0 + 30L * Day
    val extra = TableSpec(51, extraRows, Epoch0, 30L * Day, nullShare = 0.02)
    def window(w: Int): TableSpec = TableSpec(1000 + 10L * w, windowRows, t0 + w * Hour, Hour, 0.02)
    val maxAgeSec: Long = 3L * 86400
    val reqTs: Long = t0 + windows * Hour
    val boundaryPresent: Long = keys.toLong
    val boundaryStale: Long = keys.toLong + 1
    val nullLatest: Long = keys.toLong + 2
    val missingBase: Long = keys.toLong + 1000
    lazy val zipf = new Zipf(keys, 1.0)

    def specialRows: Seq[FRow] = Seq(
      FRow(boundaryPresent, reqTs - maxAgeSec * 1000000L, 7L, 1.5),
      FRow(boundaryStale, reqTs - maxAgeSec * 1000000L - 1L, 8L, 2.5),
      FRow(nullLatest, t0 - Hour + 17L, 9L, null))

    /** Request r of stream c: distinct keys, one boundary key, one
      * null-or-missing key and Zipf keys. */
    def request(c: Int, r: Long): Array[Long] = {
      val s = 100000L * (c + 1)
      val ks = scala.collection.mutable.LinkedHashSet.empty[Long]
      ks += (if (below(h(seed, s + 1, r), 2L) == 0) boundaryPresent else boundaryStale)
      ks += (if (below(h(seed, s + 2, r), 2L) == 0) nullLatest
             else missingBase + below(h(seed, s + 3, r), 1000L))
      var i = 0L
      while (ks.size < keysPerRequest) {
        ks += zipf.sample(unit(h(seed, s + 4, r * 64 + i)))
        i += 1
      }
      ks.toArray
    }
  }

  /** The one-row-per-key cover of `Online`: key k at an odd microsecond
    * before t0, so it never ties an (even) Zipf row of the same key. */
  def cover(seed: Long, stream: Long, k: Long): FRow = {
    val a = h(seed, stream, k)
    FRow(k, Epoch0 + 2 * below(a, 15L * Day) + 1, below(a >>> 9, 1000L),
      java.lang.Double.valueOf(below(a >>> 3, 1000000L) / 100.0))
  }
}
