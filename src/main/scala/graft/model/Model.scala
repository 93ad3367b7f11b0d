package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Registry data model, mirroring the reference's feature-store registry
  * (reference: core/src/main/java/feast/core/model/EntityV2.java,
  * FeatureTable.java:76-99, FeatureV2.java, Project.java, DataSource.java
  * and the Value proto in datatypes/). Spark-side it is plain metadata:
  * case classes + project-scoped maps.
  */
sealed abstract class ValueKind(val name: String) {
  def sparkType: DataType
}

object ValueKind {
  case object BytesK   extends ValueKind("BYTES")   { val sparkType: DataType = BinaryType }
  case object StringK  extends ValueKind("STRING")  { val sparkType: DataType = StringType }
  case object Int32K   extends ValueKind("INT32")   { val sparkType: DataType = IntegerType }
  case object Int64K   extends ValueKind("INT64")   { val sparkType: DataType = LongType }
  case object DoubleK  extends ValueKind("DOUBLE")  { val sparkType: DataType = DoubleType }
  case object FloatK   extends ValueKind("FLOAT")   { val sparkType: DataType = FloatType }
  case object BoolK    extends ValueKind("BOOL")    { val sparkType: DataType = BooleanType }
  case object UnixTsK  extends ValueKind("UNIX_TIMESTAMP") { val sparkType: DataType = TimestampType }
  final case class ListK(element: ValueKind) extends ValueKind(element.name + "_LIST") {
    val sparkType: DataType = ArrayType(element.sparkType)
  }

  val scalars: Seq[ValueKind] =
    Seq(BytesK, StringK, Int32K, Int64K, DoubleK, FloatK, BoolK, UnixTsK)

  def parse(s: String): ValueKind =
    if (s.endsWith("_LIST")) ListK(parse(s.stripSuffix("_LIST")))
    else scalars.find(_.name == s).getOrElse(
      throw new IllegalArgumentException(s"unknown value type: $s"))
}

/** A project namespace (reference: core/model/Project.java — name +
  * archived flag; every entity/table/serving key is scoped by it). */
final case class Project(name: String, archived: Boolean = false)

object Project {
  /** reference: Project.DEFAULT_NAME — autofilled when unspecified. */
  val Default = "default"
}

/** An entity = a join key (reference: EntityV2 — name, value type,
  * description, labels). */
final case class Entity(name: String, valueType: ValueKind, description: String = "",
                        labels: Map[String, String] = Map.empty)

/** A single feature column (reference: FeatureV2). */
final case class Feature(name: String, valueType: ValueKind, labels: Map[String, String] = Map.empty)

/** A feature reference `table:feature`
  * (reference: common/../FeatureV2.getFeatureStringRef). */
final case class FeatureRef(table: String, feature: String) {
  override def toString: String = s"$table:$feature"
}

object FeatureRef {
  def parse(s: String): FeatureRef = s.split(":", 2) match {
    case Array(t, f) => FeatureRef(t, f)
    case _           => throw new IllegalArgumentException(s"bad feature ref: $s")
  }
}

/** Serialization format of a stream's payload (reference:
  * DataFormatProto.StreamFormat — PROTO_FORMAT with a class path, or
  * AVRO_FORMAT with a schema). */
sealed trait StreamFormat { def render: String }
object StreamFormat {
  final case class ProtoFormat(classPath: String) extends StreamFormat {
    def render: String = s"proto:$classPath"
  }
  final case class AvroFormat(schemaJson: String = "") extends StreamFormat {
    def render: String = s"avro:$schemaJson"
  }
  def parse(s: String): StreamFormat = s.split(":", 2) match {
    case Array("proto", cp) => ProtoFormat(cp)
    case Array("avro", sj)  => AvroFormat(sj)
    case _ => throw new IllegalArgumentException(s"bad stream format: $s")
  }
}

/** A stream data source spec (reference: DataSource.java:27-30 +
  * DataSourceProto KafkaOptions / KinesisOptions / FileOptions). The
  * sandbox has no Kafka/Kinesis broker, so these carry the full spec —
  * model + validation + field mapping — while only the file source is
  * executable here ([[graft.streaming.StreamIngest.readStreamSource]]
  * opens Kafka/Kinesis specs only through its rate demo transport); a
  * cluster deployment swaps the `readStream` format without touching the
  * registry surface. */
sealed trait StreamSourceSpec {
  def eventTsCol: String
  def fieldMapping: Map[String, String]
  def render: String
}

final case class KafkaSourceSpec(
    bootstrapServers: String,
    topic: String,
    messageFormat: StreamFormat,
    eventTsCol: String = "event_timestamp",
    fieldMapping: Map[String, String] = Map.empty) extends StreamSourceSpec {
  import SourceValidation.esc
  def render: String =
    s"kafka|${esc(bootstrapServers)}|${esc(topic)}|${esc(messageFormat.render)}|${esc(eventTsCol)}|${SourceValidation.renderMap(fieldMapping)}"
}

final case class KinesisSourceSpec(
    region: String,
    streamName: String,
    recordFormat: StreamFormat,
    eventTsCol: String = "event_timestamp",
    fieldMapping: Map[String, String] = Map.empty) extends StreamSourceSpec {
  import SourceValidation.esc
  def render: String =
    s"kinesis|${esc(region)}|${esc(streamName)}|${esc(recordFormat.render)}|${esc(eventTsCol)}|${SourceValidation.renderMap(fieldMapping)}"
}

final case class FileStreamSourceSpec(
    path: String,
    fileFormat: String = "parquet",
    eventTsCol: String = "event_timestamp",
    fieldMapping: Map[String, String] = Map.empty) extends StreamSourceSpec {
  import SourceValidation.esc
  def render: String =
    s"file|${esc(path)}|${esc(fileFormat)}|${esc(eventTsCol)}|${SourceValidation.renderMap(fieldMapping)}"
}

object StreamSourceSpec {
  import SourceValidation.unesc
  def parse(s: String): StreamSourceSpec = s.split("\\|", -1) match {
    case Array("kafka", bs, t, fmt, ts, fm) =>
      KafkaSourceSpec(unesc(bs), unesc(t), StreamFormat.parse(unesc(fmt)),
        unesc(ts), SourceValidation.parseMap(fm))
    case Array("kinesis", r, sn, fmt, ts, fm) =>
      KinesisSourceSpec(unesc(r), unesc(sn), StreamFormat.parse(unesc(fmt)),
        unesc(ts), SourceValidation.parseMap(fm))
    case Array("file", p, ff, ts, fm) =>
      FileStreamSourceSpec(unesc(p), unesc(ff), unesc(ts), SourceValidation.parseMap(fm))
    case _ => throw new IllegalArgumentException(s"bad stream source: $s")
  }
}

/** Source validation (reference: core/validators/DataSourceValidator.java +
  * Matchers.checkValidClassPath). */
object SourceValidation {
  private val ClassPath = "^[a-zA-Z_][a-zA-Z0-9_]*(\\.[a-zA-Z_][a-zA-Z0-9_]*)*$".r

  private def checkFormat(fmt: StreamFormat, kind: String): Unit = fmt match {
    case StreamFormat.ProtoFormat(cp) =>
      require(ClassPath.matches(cp),
        s"invalid value for FeatureTable resource, $cp: argument must be a valid class path")
    case StreamFormat.AvroFormat(_) => () // reference: AVRO_FORMAT passes
  }

  def validateStream(spec: StreamSourceSpec): Unit = spec match {
    case KafkaSourceSpec(bs, topic, fmt, _, _) =>
      require(bs.nonEmpty, "Kafka source must have bootstrap_servers")
      require(topic.nonEmpty, "Kafka source must have topic")
      checkFormat(fmt, "Kafka")
    case KinesisSourceSpec(region, stream, fmt, _, _) =>
      require(region.nonEmpty, "Kinesis source must have region")
      require(stream.nonEmpty, "Kinesis source must have stream_name")
      checkFormat(fmt, "Kinesis")
    case FileStreamSourceSpec(path, _, _, _) =>
      require(path.nonEmpty, "File stream source must have a path")
  }

  /** Delimiter escaping for the rendered spec strings: a schemaJson or
    * field-mapping value containing '|' ',' '=' must survive render →
    * Registry.save → load → parse unchanged. Percent-encodes '%' first (and
    * decodes it last) so escaped sequences can never collide with literal
    * text. */
  def esc(s: String): String =
    s.replace("%", "%25").replace("|", "%7C")
  def unesc(s: String): String =
    s.replace("%7C", "|").replace("%25", "%")
  // ';' is escaped too — not because v2 uses it as a delimiter, but so a
  // v2-rendered string can NEVER look like the v1 format: parseMapCompat's
  // v1 detection keys on ';'-separated k=v segments, and escaping ';' on
  // write makes that detection exact for every registry written from here
  // on (the documented ambiguity only remains for pre-existing v2 saves
  // whose label values happened to embed ';…=…').
  private def escKV(s: String): String =
    esc(s).replace(",", "%2C").replace("=", "%3D").replace(";", "%3B")
  private def unescKV(s: String): String =
    unesc(s.replace("%2C", ",").replace("%3D", "=").replace("%3B", ";"))

  def renderMap(m: Map[String, String]): String =
    m.map { case (k, v) => s"${escKV(k)}=${escKV(v)}" }.mkString(",")
  def parseMap(s: String): Map[String, String] =
    if (s.isEmpty) Map.empty
    else s.split(",").toSeq.map(_.split("=", 2))
      .collect { case Array(k, v) => unescKV(k) -> unescKV(v) }.toMap

  /** Label-map parse that ALSO accepts the round-3 v1 persistence format
    * (';'-separated, unescaped `k=v` pairs) — a registry saved before the
    * escaping change must load, not silently mis-split into one giant
    * label. Detection: a v2 string never contains a literal ';' (escKV
    * escapes it on write precisely so this detection is exact), so a
    * string whose every ';'-segment is `k=v`-shaped is read as v1. The
    * residual ambiguity — a v2 save from BEFORE ';' was escaped whose
    * value embeds `...;k=v` — resolves toward v1, the operationally safe
    * direction: v1 files exist on disk, such values are adversarial.
    * Writes always emit v2. */
  def parseMapCompat(s: String): Map[String, String] = {
    val segs = s.split(";", -1)
    if (s.contains(";") && segs.forall(_.split("=", 2).length == 2))
      segs.toSeq.map(_.split("=", 2))
        .collect { case Array(k, v) => k -> v }.toMap
    else parseMap(s)
  }
}

/** A feature table: entities + features + freshness TTL + sources
  * (reference: FeatureTable.java — entities, features, maxAgeSecs,
  * batchSource, streamSource).
  */
final case class FeatureTable(
    name: String,
    entities: Seq[String],
    features: Seq[Feature],
    maxAgeSec: Option[Long] = None,
    eventTsCol: String = "event_timestamp",
    createdTsCol: Option[String] = None,
    batchSourcePath: Option[String] = None,
    streamSource: Option[StreamSourceSpec] = None,
    labels: Map[String, String] = Map.empty) {
  def featureRefs: Seq[FeatureRef] = features.map(f => FeatureRef(name, f.name))
}

/** A store's subscription to feature tables by project/name glob pattern
  * (reference: StoreProto.Store.Subscription via common/models/Store.java —
  * string form "project:name:exclude", `*` globs, exclusions win). */
final case class Subscription(project: String, name: String, exclude: Boolean = false) {
  require(project.nonEmpty && name.nonEmpty,
    s"Missing arguments in subscription string: $this")
  def render: String = s"$project:$name:$exclude"

  private def toPattern(s: String): scala.util.matching.Regex =
    (if (s.contains(".*")) s else s.replace("*", ".*")).r
  def matches(projectName: String, tableName: String): Boolean =
    toPattern(project).matches(projectName) && toPattern(name).matches(tableName)
}

object Subscription {
  /** reference: common/models/Store.convertStringToSubscription — 2-part
    * form is the backward-compat spelling without the exclude flag. */
  def parse(s: String): Subscription = s.split(":") match {
    case Array(p, n)    => Subscription(p, n)
    case Array(p, n, e) => Subscription(p, n, e.toBoolean)
    case _ => throw new IllegalArgumentException(s"bad subscription: $s")
  }
}

/** A registered online store: type + connection config + the table
  * subscriptions that route materialization to it (reference:
  * core/model/Store.java — name, type, config bytes, comma-delimited
  * subscriptions). The connection `config` is opaque metadata here: the
  * executable store implementations live in graft.serving. */
final case class StoreSpec(
    name: String,
    storeType: String,
    config: Map[String, String] = Map.empty,
    subscriptions: Seq[Subscription] = Seq.empty) {

  /** reference: common/models/Store.isSubscribedToFeatureSet — exclusions
    * have highest priority; otherwise any matching include subscribes. */
  def isSubscribedTo(projectName: String, tableName: String): Boolean = {
    if (subscriptions.exists(s => s.exclude && s.matches(projectName, tableName))) false
    else subscriptions.exists(s => !s.exclude && s.matches(projectName, tableName))
  }
}

/** One derived feature of an on-demand view: a SQL expression over the
  * retrieved input columns (`table__feature`) and entity/request columns. */
final case class OnDemandFeature(name: String, sqlExpr: String)

/** On-demand feature view (reference: serving
  * OnlineTransformationService.java / isOnDemandFeatureReference — features
  * computed at retrieval time from other features + request data; here the
  * transformation is a Catalyst SQL expression instead of a remote python
  * transformation service). */
final case class OnDemandView(
    name: String,
    inputs: Seq[FeatureRef],
    features: Seq[OnDemandFeature])

/** Declarative data-quality expectation over a registered feature table
  * (reference: the Core registry's validation surface stops at schema
  * rules — ValidatorsKt reserved names / subscriptions; the VALUE-level
  * contract every feature platform bolts on next is this: null budgets,
  * range contracts, key uniqueness, staleness). Each case evaluates to one
  * exact-integer `observed` compared against an integer `threshold`, so a
  * validation report is engine-portable and hash-gateable. */
sealed trait Expectation
object Expectation {
  /** Null-rate budget: observed = nulls·10⁴ DIV rows (bp). */
  final case class NotNull(feature: String, maxNullBp: Long = 0L) extends Expectation
  /** Range contract over a numeric feature: observed = count of non-null
    * values outside [lo, hi] (comparisons only — no cross-engine float
    * arithmetic). */
  final case class InRange(feature: String, lo: Double, hi: Double,
      maxViolations: Long = 0L) extends Expectation
  /** Grain contract: observed = surplus rows beyond one per
    * (entities, event_ts, created_ts) key. */
  final case class UniqueKey(maxDuplicates: Long = 0L) extends Expectation
  /** Staleness contract: observed = age in seconds of the most-stale
    * key's LATEST row at `nowTs` (the key a serving read would fetch
    * oldest data for); threshold = the table's registered max_age, −1
    * (vacuous pass) when the table declares none. */
  final case class Freshness(nowTs: java.sql.Timestamp) extends Expectation
}

/** In-memory registry with the reference Core's CRUD surface, scoped by
  * project (reference: SpecService.java apply/get/list — project autofilled
  * to "default", archived projects reject writes; ProjectService.java
  * create/archive/list; FeatureTableValidator.java validateSpec). */
final class Registry {
  private val projects = scala.collection.mutable.LinkedHashMap[String, Project](
    Project.Default -> Project(Project.Default))
  private val entities = scala.collection.mutable.LinkedHashMap.empty[(String, String), Entity]
  private val tables   = scala.collection.mutable.LinkedHashMap.empty[(String, String), FeatureTable]
  private val odfvs    = scala.collection.mutable.LinkedHashMap.empty[(String, String), OnDemandView]
  private val stores   = scala.collection.mutable.LinkedHashMap.empty[String, StoreSpec]

  // reference: core/src/main/java/feast/core/validators/Matchers.java
  // (checkValidCharacters) — names are identifiers; project names may also
  // contain dashes (checkValidCharactersAllowDash)
  private val ValidName        = "^[a-zA-Z_][a-zA-Z0-9_]*$".r
  private val ValidProjectName = "^[a-zA-Z_][a-zA-Z0-9_-]*$".r

  // reference: FeatureTableValidator.RESERVED_NAMES
  private val ReservedNames = Set("created_timestamp", "event_timestamp")

  private def requireValidName(kind: String, name: String): Unit =
    require(ValidName.matches(name),
      s"invalid $kind name '$name': must match ${ValidName.regex}")

  /** Autofill + validate a project for a READ (reference: SpecService
    * getters — no creation, no archived check). */
  private def readProject(p: String): String = {
    val name = if (p.isEmpty) Project.Default else p
    require(ValidProjectName.matches(name),
      s"invalid project name '$name': must match ${ValidProjectName.regex}")
    name
  }

  /** Autofill + validate + auto-create a project for a WRITE (reference:
    * SpecService.applyEntity/applyFeatureTable — find-or-create, then
    * reject if archived). */
  private def writeProject(p: String): String = {
    val name = readProject(p)
    val proj = projects.getOrElseUpdate(name, Project(name))
    require(!proj.archived, s"Project is archived: $name")
    name
  }

  // ------------------------------------------------------- project service

  /** reference: ProjectService.createProject — duplicate is an error. */
  def createProject(name: String): Unit = {
    require(ValidProjectName.matches(name),
      s"invalid project name '$name': must match ${ValidProjectName.regex}")
    require(!projects.contains(name), s"Project already exists: $name")
    projects.update(name, Project(name))
  }

  /** reference: ProjectService.archiveProject — must exist, default
    * project cannot be archived. */
  def archiveProject(name: String): Unit = {
    val p = projects.getOrElse(name,
      throw new IllegalArgumentException(s"""Could not find project: "$name""""))
    if (name == Project.Default)
      throw new UnsupportedOperationException("Archiving the default project is not allowed.")
    projects.update(name, p.copy(archived = true))
  }

  /** reference: ProjectService.listProjects — active (non-archived) only. */
  def listProjects: Seq[Project] = projects.values.filterNot(_.archived).toSeq

  /** Every project INCLUDING archived ones — persistence must not lose an
    * archived project's contents (the reference archives a project but
    * keeps its data; only writes are rejected). */
  def listAllProjects: Seq[Project] = projects.values.toSeq

  // ---------------------------------------------------------------- writes

  def applyEntity(e: Entity, project: String = Project.Default): Unit = {
    val p = writeProject(project)
    requireValidName("entity", e.name)
    entities.update((p, e.name), e)
  }

  /** reference: FeatureTableValidator.validateSpec — checks in the same
    * order as the reference. */
  def applyTable(t: FeatureTable, project: String = Project.Default): Unit = {
    val p = writeProject(project)
    require(t.name.nonEmpty, "FeatureTable name must be provided")
    require(!t.labels.contains(""), "FeatureTable cannot have labels with empty key.")
    require(t.entities.nonEmpty, "FeatureTable entities list cannot be empty.")
    require(t.features.nonEmpty, "FeatureTable features list cannot be empty.")
    require(t.batchSourcePath.nonEmpty, "FeatureTable batch source cannot be empty.")
    requireValidName("FeatureTable", t.name)
    t.features.foreach { f =>
      requireValidName("Feature", f.name)
      require(!f.labels.contains(""), "Features cannot have labels with empty key.")
    }
    val fieldNames = t.entities ++ t.features.map(_.name)
    require(fieldNames.forall(n => !ReservedNames.contains(n)),
      s"Reserved names has been used as Feature(s) names. Reserved: $ReservedNames")
    require(fieldNames.distinct.size == fieldNames.size,
      "Entity and Feature names within a Feature Table should be unique.")
    t.streamSource.foreach(SourceValidation.validateStream)
    val missing = t.entities.filterNot(e => entities.contains((p, e)))
    require(missing.isEmpty, s"unknown entities in project $p: ${missing.mkString(",")}")
    tables.update((p, t.name), t)
  }

  def applyOnDemandView(v: OnDemandView, project: String = Project.Default): Unit = {
    val p = writeProject(project)
    requireValidName("on-demand view", v.name)
    v.features.foreach(f => requireValidName("on-demand feature", f.name))
    val missing = v.inputs.map(_.table).distinct.filterNot(t => tables.contains((p, t)))
    require(missing.isEmpty, s"unknown input tables in project $p: ${missing.mkString(",")}")
    odfvs.update((p, v.name), v)
  }

  /** Stores are global (not project-scoped) — their subscriptions carry the
    * project patterns (reference: Store.java unique name; UpdateStore in
    * CoreServiceImpl). */
  def applyStore(s: StoreSpec): Unit = {
    requireValidName("store", s.name)
    stores.update(s.name, s)
  }
  def getStore(name: String): Option[StoreSpec] = stores.get(name)
  def listStores: Seq[StoreSpec] = stores.values.toSeq

  // ----------------------------------------------------------------- reads

  def getEntity(name: String, project: String = Project.Default): Option[Entity] =
    entities.get((readProject(project), name))
  def getTable(name: String, project: String = Project.Default): Option[FeatureTable] =
    tables.get((readProject(project), name))
  def getOnDemandView(name: String, project: String = Project.Default): Option[OnDemandView] =
    odfvs.get((readProject(project), name))

  def listEntities: Seq[Entity] = listEntities(Project.Default)
  def listEntities(project: String): Seq[Entity] = {
    val p = readProject(project)
    entities.collect { case ((`p`, _), e) => e }.toSeq
  }

  /** Entities whose labels contain every (k,v) of `labelsFilter`
    * (reference: SpecService.listEntities — `entity.hasAllLabels`). */
  def filterEntities(labelsFilter: Map[String, String],
                     project: String = Project.Default): Seq[Entity] =
    listEntities(project)
      .filter(e => labelsFilter.forall { case (k, v) => e.labels.get(k).contains(v) })
  def listTables: Seq[FeatureTable] = listTables(Project.Default)
  def listTables(project: String): Seq[FeatureTable] = {
    val p = readProject(project)
    tables.collect { case ((`p`, _), t) => t }.toSeq
  }
  def listOnDemandViews: Seq[OnDemandView] = listOnDemandViews(Project.Default)
  def listOnDemandViews(project: String): Seq[OnDemandView] = {
    val p = readProject(project)
    odfvs.collect { case ((`p`, _), v) => v }.toSeq
  }

  def deleteTable(name: String, project: String = Project.Default): Unit = {
    tables.remove((readProject(project), name)); ()
  }

  /** Tables whose entity set equals `entitiesFilter` and whose labels
    * contain every (k,v) of `labelsFilter` (reference:
    * FeatureTable.java:281-284 hasAllEntities + label filtering in
    * SpecService.listFeatureTables). */
  def filterTables(entitiesFilter: Seq[String] = Seq.empty,
                   labelsFilter: Map[String, String] = Map.empty,
                   project: String = Project.Default): Seq[FeatureTable] =
    listTables(project)
      .filter(t => entitiesFilter.isEmpty || t.entities.toSet == entitiesFilter.toSet)
      .filter(t => labelsFilter.forall { case (k, v) => t.labels.get(k).contains(v) })

  /** Registry contents as a DataFrame (one row per project×table×feature). */
  def toDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    tables.toSeq.flatMap { case ((p, _), t) =>
      t.features.map { f =>
        (p, t.name, t.entities.mkString(","), f.name, f.valueType.name,
         t.maxAgeSec.getOrElse(0L), t.batchSourcePath.getOrElse(""))
      }
    }.toDF("project", "table_name", "entities", "feature", "value_type",
           "max_age_sec", "batch_source")
  }
}

object Registry {

  /** Persist a registry as JSON datasets (projects + entities + one row per
    * project×table×feature + on-demand views + stores) — the registry IS
    * data, so it round-trips through the same engine. ARCHIVED projects'
    * contents are saved too: the reference archives a project but keeps its
    * data (only writes are rejected), so a save/load round-trip must not
    * silently drop them.
    *
    * Format note: label maps render in the ','-separated ESCAPED k=v form
    * (format v2). [[load]] tolerates STRUCTURALLY older saves (missing
    * datasets/columns load as empty) AND reads v1's ';'-separated
    * unescaped label maps via [[SourceValidation.parseMapCompat]] — a
    * round-3 registry file loads as-is and re-saves in v2. */
  def save(r: Registry, spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val all = r.listAllProjects
    all.map(p => (p.name, p.archived)).toDF("name", "archived")
      .coalesce(1).write.mode("overwrite").json(s"$dir/projects")
    // label maps render through the ESCAPED k=v form (renderMap) — a label
    // value containing ','/'=' must survive the round trip, same delimiter
    // rule as stream-source specs
    all.flatMap { p =>
      r.listEntities(p.name).map(e => (p.name, e.name, e.valueType.name, e.description,
        SourceValidation.renderMap(e.labels)))
    }.toDF("project", "name", "value_type", "description", "labels")
      .coalesce(1).write.mode("overwrite").json(s"$dir/entities")
    all.flatMap { p =>
      r.listTables(p.name).flatMap { t =>
        t.features.map { f =>
          (p.name, t.name, t.entities.mkString(","), f.name, f.valueType.name,
           SourceValidation.renderMap(f.labels),
           t.maxAgeSec.getOrElse(-1L), t.eventTsCol, t.createdTsCol.getOrElse(""),
           t.batchSourcePath.getOrElse(""), t.streamSource.map(_.render).getOrElse(""),
           SourceValidation.renderMap(t.labels))
        }
      }
    }.toDF("project", "table_name", "entities", "feature", "value_type",
           "feature_labels", "max_age_sec", "event_ts_col", "created_ts_col",
           "batch_source", "stream_source", "labels")
      .coalesce(1).write.mode("overwrite").json(s"$dir/tables")
    all.flatMap { p =>
      r.listOnDemandViews(p.name).flatMap { v =>
        v.features.map(f => (p.name, v.name,
          v.inputs.map(i => s"${i.table}:${i.feature}").mkString(","),
          f.name, f.sqlExpr))
      }
    }.toDF("project", "view_name", "inputs", "feature", "sql_expr")
      .coalesce(1).write.mode("overwrite").json(s"$dir/odfvs")
    r.listStores.map(s => (s.name, s.storeType,
        SourceValidation.renderMap(s.config),
        s.subscriptions.map(_.render).mkString(";")))
      .toDF("name", "store_type", "config", "subscriptions")
      .coalesce(1).write.mode("overwrite").json(s"$dir/stores")
  }

  def load(spark: SparkSession, dir: String): Registry = {
    val r = new Registry
    def existing(path: String): Option[DataFrame] = {
      if (!graft.serving.StorePaths.exists(spark, path)) None
      else
        // an EMPTY dataset (e.g. a registry saved with no stores) has no
        // rows to infer a schema from — treat it like a missing one
        try Some(spark.read.json(path)).filter(_.columns.nonEmpty)
        catch { case _: org.apache.spark.sql.AnalysisException => None }
    }
    // projects first (so archived ones exist + accept content), archive LAST
    val archived = existing(s"$dir/projects").toSeq.flatMap(_.collect().toSeq)
      .flatMap { row =>
        val name = row.getAs[String]("name")
        if (name != Project.Default) r.createProject(name)
        if (row.getAs[Boolean]("archived")) Some(name) else None
      }
    existing(s"$dir/entities").toSeq.flatMap(_.collect().toSeq).foreach { row =>
      r.applyEntity(Entity(
        row.getAs[String]("name"),
        ValueKind.parse(row.getAs[String]("value_type")),
        Option(row.getAs[String]("description")).getOrElse(""),
        SourceValidation.parseMapCompat(Option(row.getAs[String]("labels")).getOrElse(""))),
        project = row.getAs[String]("project"))
    }
    val rows = existing(s"$dir/tables").toSeq.flatMap(_.collect().toSeq)
    rows.groupBy(rw => (rw.getAs[String]("project"), rw.getAs[String]("table_name")))
      .foreach { case ((project, name), fs) =>
        val head = fs.head
        def opt(s: String): Option[String] =
          Option(head.getAs[String](s)).filter(_.nonEmpty)
        r.applyTable(FeatureTable(
          name = name,
          entities = head.getAs[String]("entities").split(",").toSeq,
          features = fs.toSeq.map(f => Feature(f.getAs[String]("feature"),
            ValueKind.parse(f.getAs[String]("value_type")),
            // tolerate saves from before feature labels were persisted
            SourceValidation.parseMapCompat(
              if (f.schema.fieldNames.contains("feature_labels"))
                Option(f.getAs[String]("feature_labels")).getOrElse("")
              else ""))),
          maxAgeSec = Some(head.getAs[Long]("max_age_sec")).filter(_ >= 0),
          eventTsCol = head.getAs[String]("event_ts_col"),
          createdTsCol = opt("created_ts_col"),
          batchSourcePath = opt("batch_source"),
          streamSource = opt("stream_source").map(StreamSourceSpec.parse),
          labels = SourceValidation.parseMapCompat(
            Option(head.getAs[String]("labels")).getOrElse(""))),
          project = project)
      }
    existing(s"$dir/odfvs").toSeq.flatMap(_.collect().toSeq)
      .groupBy(rw => (rw.getAs[String]("project"), rw.getAs[String]("view_name")))
      .foreach { case ((project, name), fs) =>
        r.applyOnDemandView(OnDemandView(
          name = name,
          // a request-data-only view has NO inputs: "".split(",") yields
          // Array(""), which must not reach FeatureRef.parse
          inputs = fs.head.getAs[String]("inputs").split(",").toSeq
            .filter(_.nonEmpty).map(FeatureRef.parse),
          features = fs.toSeq.map(f => OnDemandFeature(
            f.getAs[String]("feature"), f.getAs[String]("sql_expr")))),
          project = project)
      }
    existing(s"$dir/stores").toSeq.flatMap(_.collect().toSeq).foreach { row =>
      r.applyStore(StoreSpec(
        row.getAs[String]("name"),
        row.getAs[String]("store_type"),
        SourceValidation.parseMap(Option(row.getAs[String]("config")).getOrElse("")),
        Option(row.getAs[String]("subscriptions")).filter(_.nonEmpty)
          .map(_.split(";").toSeq.map(Subscription.parse)).getOrElse(Seq.empty)))
    }
    archived.foreach(r.archiveProject)
    r
  }
  /** Demo registry over the driver testdata (events as the feature stream). */
  def demo(sfDir: String): Registry = {
    val r = new Registry
    r.applyEntity(Entity("user_id", ValueKind.Int64K, "event actor"))
    r.applyEntity(Entity("c_custkey", ValueKind.Int64K, "customer key"))
    r.applyTable(FeatureTable(
      name = "user_activity",
      entities = Seq("user_id"),
      features = Seq(Feature("value", ValueKind.DoubleK), Feature("event_type", ValueKind.StringK)),
      maxAgeSec = Some(7L * 86400),
      eventTsCol = "ts",
      batchSourcePath = Some(s"$sfDir/events.parquet"),
      streamSource = Some(KafkaSourceSpec(
        bootstrapServers = "broker-1:9092,broker-2:9092",
        topic = "user_activity_events",
        messageFormat = StreamFormat.AvroFormat(),
        eventTsCol = "ts")),
      labels = Map("graft.ts_unit" -> "nanos")))
    r.applyOnDemandView(OnDemandView(
      name = "activity_derived",
      inputs = Seq(FeatureRef("user_activity", "value")),
      features = Seq(
        OnDemandFeature("value_x2", "round(user_activity__value * 2, 4)"),
        OnDemandFeature("is_high", "user_activity__value > 50"))))
    r.applyTable(FeatureTable(
      name = "customer_profile",
      entities = Seq("c_custkey"),
      features = Seq(Feature("c_acctbal", ValueKind.DoubleK), Feature("c_mktsegment", ValueKind.StringK)),
      eventTsCol = "o_orderdate",
      batchSourcePath = Some(s"$sfDir/customer.parquet")))
    r
  }
}
