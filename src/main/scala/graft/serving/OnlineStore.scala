package graft.serving

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.operators.{LatestValue, PointInTimeJoin}

/** Online-store abstraction (reference: storage/api OnlineRetrieverV2 + the
  * redis/cassandra/bigtable connectors). The reference stores exactly one
  * latest feature row per entity key; connectors are I/O adapters, not
  * compute. Here the interface is kept, with a parquet-backed reference
  * implementation so materialization → serving round-trips are testable
  * without an external KV service.
  */
trait OnlineStore {
  /** Merge a batch of feature rows: latest per key wins across the existing
    * store contents and the new batch. */
  def upsert(rows: DataFrame, keys: Seq[String], orderCols: Seq[String],
             valueCols: Seq[String]): Unit

  /** Current store contents (one row per key). */
  def snapshot(spark: SparkSession): DataFrame
}

object OnlineStore {
  /** Construct an executable store from its registry StoreSpec — the wiring
    * the reference does in core/model/Store.java:30-70 (StoreType →
    * connector config class) and serving's ServingServiceConfigV2 (active
    * store config → retriever): a store DECLARED in the registry becomes a
    * USABLE handle without the caller knowing connector classes.
    *
    * Both types build a [[ParquetOnlineStore]]: "parquet" at
    * `config("path")`; "memory" under its own random subdir of the
    * `graft.snapstore.dir` session conf (on a real cluster point it at
    * SHARED storage — executors cannot reach a driver-local tmpdir), or of
    * a driver-local temp dir when unset (local mode only). A "memory" store
    * is a per-name singleton, so every handle to the same declared store
    * shares state the way two clients of one Redis do. Unknown types fail
    * fast, mirroring Store.fromProto's "Unsupported store type" error. */
  def fromSpec(spec: graft.model.StoreSpec): ParquetOnlineStore =
    spec.storeType.toLowerCase match {
      case "parquet" =>
        val path = spec.config.getOrElse("path", throw new IllegalArgumentException(
          s"store ${spec.name}: parquet store requires config key 'path'"))
        new ParquetOnlineStore(path)
      case "memory" =>
        memoryStores.getOrElseUpdate(spec.name, {
          val root = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
            .flatMap(_.conf.getOption("graft.snapstore.dir"))
            .getOrElse(java.nio.file.Files.createTempDirectory("graft_snapstore").toString)
          new ParquetOnlineStore(
            root + "/snap_" + java.util.UUID.randomUUID().toString.take(12) + "/store")
        })
      case other =>
        throw new IllegalArgumentException(s"Unsupported store type: $other")
    }

  private val memoryStores =
    scala.collection.concurrent.TrieMap.empty[String, ParquetOnlineStore]
}

/** Hadoop-FileSystem path helpers: store/log paths must resolve through the
  * path's OWN filesystem (HDFS/S3/local) — a `java.io.File` probe is always
  * false off the local disk, which at cluster scale silently turns
  * incremental work into full restarts. */
private[graft] object StorePaths {
  def fs(spark: SparkSession, path: String): (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }
  def exists(spark: SparkSession, path: String): Boolean = {
    val (f, p) = fs(spark, path); f.exists(p)
  }

  /** True iff the path holds a COMPLETED write — the Hadoop committer's
    * `_SUCCESS` marker, not mere directory existence: a partially-written
    * artifact dir left by a crashed writer must not satisfy a probe (it
    * would be read as a truncated artifact forever). */
  def existsComplete(spark: SparkSession, path: String): Boolean = {
    val (f, p) = fs(spark, path)
    f.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))
  }

  /** Write a parquet artifact atomically: write to a sibling temp dir,
    * then rename onto the final path — readers either see the previous
    * complete artifact or the new complete one, never a partial dir.
    * `partitionCols` lays the artifact out hive-style (one directory per
    * value) so probes filtering on those columns read ONLY matching
    * partitions — the inverted-index layout a 100 TB ANN/band store
    * needs (the committer still writes the root `_SUCCESS`, so the
    * completeness probe is unchanged). */
  def writeParquetAtomic(df: org.apache.spark.sql.DataFrame, path: String,
                         partitionCols: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    val (f, p) = fs(spark, path)
    val tmp = new org.apache.hadoop.fs.Path(
      p.getParent, p.getName + ".tmp-" + java.util.UUID.randomUUID().toString.take(8))
    val w = df.write.mode("overwrite")
    try {
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(tmp.toString)
      if (f.exists(p)) f.delete(p, true)
      if (!f.rename(tmp, p))
        throw new java.io.IOException(s"atomic artifact rename failed: $tmp -> $p")
    } catch {
      // a failed write leaves its output dir behind, and the GC in
      // cachedArtifact never touches '.tmp-' names: drop it here
      case e: Throwable => f.delete(tmp, true); throw e
    }
  }

  /** THE fingerprinted-artifact discipline, factored once (trade edges,
    * dedup cluster labels, knn graph, co-activity components, and the
    * exact-truth recall baselines all ride this): resolve
    * `<base>/<prefix><fingerprint>` under the `baseConfKey` spark conf
    * (default `java.io.tmpdir/<defaultSub>`), serve it when a COMPLETE
    * write exists ([[existsComplete]]'s `_SUCCESS` probe), otherwise run
    * `derive`, write atomically, and GC superseded same-prefix
    * fingerprints of the SAME key. One implementation so a fix to the
    * completeness probe, the atomic write, or the GC filter can never
    * apply to only one copy.
    *
    * `prefix` must be collision-proof per corpus and end with the
    * key↔fingerprint delimiter — build it from [[corpusKey]], whose
    * sanitizer bans '-' so one corpus's artifact name can never be a
    * prefix of a sibling's (the GC would delete live artifacts). */
  def cachedArtifact(spark: SparkSession, baseConfKey: String, defaultSub: String,
                     prefix: String, fingerprint: String,
                     partitionCols: Seq[String] = Nil)(
                     derive: => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val base = spark.conf.getOption(baseConfKey)
      .getOrElse(sys.props("java.io.tmpdir") + "/" + defaultSub)
    val path = base + "/" + prefix + fingerprint
    if (!existsComplete(spark, path)) {
      writeParquetAtomic(derive, path, partitionCols)
      val cur = new org.apache.hadoop.fs.Path(path)
      val f = cur.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (f.exists(cur.getParent)) {
        // compare by NAME: listStatus returns fully-qualified paths while
        // `cur` may be scheme-less, so Path equality would match nothing
        // and the freshly-written artifact itself would be deleted.
        // '.tmp-' names are a CONCURRENT writer's in-flight staging dirs
        // (writeParquetAtomic names them '<artifact>.tmp-<uuid>', which
        // startsWith(prefix) too) — deleting one mid-write fails the other
        // process's rename, so GC only touches completed artifacts
        f.listStatus(cur.getParent)
          .filter(st => st.getPath.getName.startsWith(prefix) &&
            st.getPath.getName != cur.getName &&
            !st.getPath.getName.contains(".tmp-"))
          .foreach(st => f.delete(st.getPath, true))
      }
    }
    spark.read.parquet(path)
  }

  /** Collision-proof corpus component of an artifact name: the sanitized
    * dir is readable but LOSSY (`/a/b` vs `/a_b` collide, and colliding
    * corpora GC each other's artifacts into perpetual re-derivation), so a
    * short hash of the RAW dir disambiguates. '-' is banned through the
    * sanitizer — it is the key↔fingerprint delimiter (see
    * [[cachedArtifact]]); the "g" prefix keeps an absolute path's
    * sanitized "_" head from reading as Hadoop-hidden. */
  def corpusKey(dir: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString.take(8)
    "g" + dir.replaceAll("[^A-Za-z0-9._]", "_") + "." + h
  }

  /** Content fingerprint of the table sources at `paths` (a directory or a
    * single file each): part names/sizes/mtimes — one FS metadata listing
    * per source, no data scan. 128-bit digest: a fingerprint exists to rule
    * out silent staleness, so a 32-bit hash's collision budget would defeat
    * its own purpose. */
  def tableFingerprint(spark: SparkSession, paths: Seq[String]): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val sig = paths.map { path =>
      val p = new org.apache.hadoop.fs.Path(path)
      val f = p.getFileSystem(conf)
      try f.listStatus(p).sortBy(_.getPath.getName)
        .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
        .mkString("|")
      catch { case _: java.io.FileNotFoundException => s"${p.getName.stripSuffix(".parquet")}:absent" }
    }.mkString("||")
    java.security.MessageDigest.getInstance("MD5")
      .digest(sig.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString.take(16)
  }
}

/** Materialization bookkeeping (reference: core's JobService tracks
  * ingestion jobs per table/source/store — here a tiny append-only parquet
  * log of completed windows). Enables incremental materialization: the
  * next run starts where the last finished instead of rescanning history —
  * at 100 TB the difference between a daily delta and a full re-read.
  *
  * The handle keeps the latest end per (project, table, store) together
  * with the log files it holds for, as [[ParquetOnlineStore]] keeps its
  * schema: while the log lists exactly those files, a lookup reads nothing;
  * another handle's append adds a file, so the whole log is re-read. */
final class MaterializationLog(path: String) {

  /** (log part files, latest end per (project, table, store)) from this
    * handle's last read of the log, extended by its own appends. */
  @volatile private var known: Option[(Set[String], Map[(String, String, String), String])] = None

  def record(spark: SparkSession, project: String, table: String, storeName: String,
             startInclusive: String, endExclusive: String, rows: Long): Unit = {
    import spark.implicits._
    Seq((project, table, storeName, startInclusive, endExclusive, rows,
        java.time.Instant.now().toString))
      .toDF("project", "table_name", "store_name", "start_ts", "end_ts",
        "n_rows", "recorded_at")
      .write.mode("append").parquet(path)
    // the one-row append adds one part file: the memo extends over it while
    // it held for every other file, else the next lookup re-reads the log
    val files = logFiles(spark)
    def micros(bound: String) = MaterializationLog.boundMicros(spark, bound)
    val key = (project, table, storeName)
    known = known.collect {
      case (held, ends) if held.subsetOf(files) && files.size == held.size + 1 =>
        val later = micros(endExclusive).exists(end =>
          ends.get(key).flatMap(micros).forall(_ <= end))
        (files, if (later) ends.updated(key, endExclusive) else ends)
    }
  }

  /** Exclusive end of the latest completed window for (project, table,
    * store), i.e. the next run's inclusive start. Ends are ordered as
    * timestamps, not strings: callers may write a bound with a 'T' or a
    * ' ' separator, and 'T' > ' ' would rank an earlier end last. */
  def lastEndExclusive(spark: SparkSession, project: String, table: String,
                       storeName: String): Option[String] = {
    val files = logFiles(spark)
    val ends = known.collect { case (f, ends) if f == files => ends }.getOrElse {
      val ends = if (files.isEmpty) Map.empty[(String, String, String), String] else latestEnds(spark)
      known = Some((files, ends))
      ends
    }
    ends.get((project, table, storeName))
  }

  /** The latest end per (project, table, store) over the whole log. */
  private def latestEnds(spark: SparkSession): Map[(String, String, String), String] = {
    import org.apache.spark.sql.functions._
    spark.read.parquet(path)
      .groupBy("project", "table_name", "store_name")
      .agg(max_by(col("end_ts"), col("end_ts").cast("timestamp")))
      .collect().collect { case r if !r.isNullAt(3) =>
        (r.getString(0), r.getString(1), r.getString(2)) -> r.getString(3)
      }.toMap
  }

  /** Names of the log's data files (file metadata, no data scan). */
  private def logFiles(spark: SparkSession): Set[String] = {
    val (f, p) = StorePaths.fs(spark, path)
    try f.listStatus(p).map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith(".")).toSet
    catch { case _: java.io.FileNotFoundException => Set.empty }
  }

  def entries(spark: SparkSession): org.apache.spark.sql.DataFrame =
    spark.read.parquet(path)
}

private[graft] object MaterializationLog {
  /** A window bound as Spark's string → TIMESTAMP cast reads it, in the
    * session time zone and evaluated on the driver (no job); None when it
    * does not parse. */
  def boundMicros(spark: SparkSession, bound: String): Option[Long] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    Option(Cast(Literal(bound), org.apache.spark.sql.types.TimestampType,
        Some(spark.conf.get("spark.sql.session.timeZone"))).eval())
      .map(_.asInstanceOf[Long])
  }
}

/** Parquet-directory store: durable, idempotent upserts via read-merge-write.
  * At cluster scale this would be a KV connector (the merge itself is the
  * same single-pass LatestValue aggregation).
  *
  * Every read lists the directory, but the handle keeps the schema it last
  * wrote or inferred together with the part files it holds for: while a
  * read lists exactly those files, it skips parquet schema inference (a
  * Spark job per read). Another handle's swap leaves other part files, so
  * its rows and schema are re-read, never hidden. */
final class ParquetOnlineStore(path: String) extends OnlineStore {

  /** (part files, their schema) from this handle's last write or inference. */
  @volatile private var known: Option[(Set[String], StructType)] = None

  override def upsert(rows: DataFrame, keys: Seq[String], orderCols: Seq[String],
                      valueCols: Seq[String]): Unit =
    swap(merge(rows, keys, orderCols, valueCols))

  /** Upsert with the TTL cutoff fused into the merge's single read: rows
    * (existing or incoming) whose event time already lapsed are dropped in
    * the same atomic swap the merge pays anyway. A separate
    * [[compact]] pass re-scans the whole store AFTER upsert just read it —
    * at store scale the scans ARE the cost of maintenance, so the steady
    * state (periodic materialize + TTL hygiene) should pay one read, not
    * two. Serving semantics for lapsed keys change only from
    * OUTSIDE_MAX_AGE to NOT_FOUND (both serve no value), exactly like
    * [[compact]] and the reference's per-key KV expiry. */
  def upsertCompacting(rows: DataFrame, keys: Seq[String], orderCols: Seq[String],
                       valueCols: Seq[String], eventTsCol: String, maxAgeSec: Long,
                       nowTs: java.sql.Timestamp): Unit = {
    swap(merge(rows, keys, orderCols, valueCols)
      .filter(live(eventTsCol, maxAgeSec, nowTs)))
  }

  /** Rows still inside the TTL at `nowTs` — the serving max-age rule. */
  private def live(eventTsCol: String, maxAgeSec: Long, nowTs: java.sql.Timestamp) = {
    import org.apache.spark.sql.functions.{col, lit}
    PointInTimeJoin.withinMaxAge(col(eventTsCol), lit(nowTs), maxAgeSec)
  }

  /** Latest-per-key merge of the incoming batch with the live store: ONE
    * latest over store ∪ batch (one read of the existing contents, one
    * aggregate exchange; no write). */
  private def merge(rows: DataFrame, keys: Seq[String], orderCols: Seq[String],
                    valueCols: Seq[String]): DataFrame = {
    val spark = rows.sparkSession
    val carried = (orderCols ++ valueCols).distinct
    val cols = (keys ++ carried).distinct
    val batch = rows.selectExpr(cols: _*)
    val all =
      if (StorePaths.exists(spark, path)) snapshot(spark).selectExpr(cols: _*).unionByName(batch)
      else batch
    LatestValue.latest(all, keys, orderCols, carried).selectExpr(cols: _*)
  }

  /** Replace the store with `replacement` through
    * [[StorePaths.writeParquetAtomic]] (the computation reads the live
    * path, so it is staged fully before the swap), then remember the new
    * part files and their schema. */
  private def swap(replacement: DataFrame): Unit = {
    val spark = replacement.sparkSession
    StorePaths.writeParquetAtomic(replacement, path)
    known = Some((partFiles(spark.read.schema(replacement.schema).parquet(path)),
      replacement.schema))
  }

  /** Names of the data files a read lists (file metadata, no data scan). */
  private def partFiles(df: DataFrame): Set[String] =
    df.inputFiles.map(f => new org.apache.hadoop.fs.Path(f).getName).toSet

  /** The live store, read with the known schema while it lists the files
    * that schema holds for, else inferred once and remembered. */
  override def snapshot(spark: SparkSession): DataFrame =
    known.map { case (files, schema) => (files, spark.read.schema(schema).parquet(path)) }
      .collect { case (files, df) if partFiles(df) == files => df }
      .getOrElse {
        val df = spark.read.parquet(path)
        known = Some((partFiles(df), df.schema))
        df
      }

  /** TTL compaction: drop keys whose latest row is already older than
    * `maxAgeSec` at `nowTs` — those rows can only ever serve
    * OUTSIDE_MAX_AGE (value NULL), so at scale they are dead weight the
    * store pays for on every merge and snapshot scan. Serving semantics
    * change only from OUTSIDE_MAX_AGE to NOT_FOUND (both serve no value);
    * the reference's TTL stores (e.g. per-key Redis expiry) make the same
    * transition when a key lapses. Same atomic swap as upsert. This
    * standalone pass exists for TTL hygiene BETWEEN ingestion runs; the
    * steady-state materialize loop should use
    * [[upsertCompacting]], which fuses the same cutoff into the merge's
    * single read instead of paying a second full store scan. */
  def compact(spark: SparkSession, eventTsCol: String, maxAgeSec: Long,
              nowTs: java.sql.Timestamp): Long = {
    import org.apache.spark.sql.functions._
    if (!StorePaths.exists(spark, path)) return 0L
    val fresh = live(eventTsCol, maxAgeSec, nowTs)
    // one aggregate pass decides; the rewrite pass only happens when
    // something actually lapsed — at store scale the scans ARE the cost of
    // compaction, so bookkeeping must not add passes of its own
    val lapsed = Option(
      snapshot(spark)
        .agg(sum(when(!fresh, 1L).otherwise(0L)))
        .head().getAs[java.lang.Long](0)).map(_.toLong).getOrElse(0L)
    if (lapsed > 0L)
      swap(snapshot(spark).filter(fresh))
    lapsed
  }
}
