package graft.core

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.types._

import java.io.{BufferedReader, InputStreamReader, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.UUID
import scala.collection.mutable.ArrayBuffer

/**
 * Table metadata model for the graft lakehouse format.
 *
 * Capability modeled on apache/paimon's snapshot/manifest layering
 * (reference: paimon-api/src/main/java/org/apache/paimon/Snapshot.java:44,
 * paimon-core/.../manifest/ManifestEntry.java), re-expressed as JSON +
 * JSON-lines files. Layout under a table directory:
 *
 * {{{
 *   schema/schema-<id>.json        versioned schema + table config
 *   snapshot/snapshot-<id>.json    commit metadata, ordered manifest list
 *   snapshot/LATEST                hint file with the latest snapshot id
 *   manifest/<uuid>.json           JSON-lines of ManifestEntry
 *   tag/<name>.json                named snapshot references
 *   data/c-<uuid>/...              immutable data files, one dir per commit
 * }}}
 *
 * Visibility is manifest-driven: a data file exists only once a committed
 * snapshot references it, so writers can write directly into `data/` with
 * no renames (uncommitted files are orphans, cleaned by removeOrphanFiles).
 */
object Json {
  val mapper: ObjectMapper = {
    val m = new ObjectMapper()
    m.registerModule(DefaultScalaModule)
    m.configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)
    m
  }
  def write(v: Any): String = mapper.writeValueAsString(v)
  def read[T](s: String, c: Class[T]): T = mapper.readValue(s, c)
}

/** Table-level configuration (subset of paimon CoreOptions we support). */
case class TableConfig(
    primaryKeys: Seq[String] = Nil,
    partitionKeys: Seq[String] = Nil,
    numBuckets: Int = 4,
    // deduplicate | partial-update | aggregation | first-row  (PK tables)
    mergeEngine: String = "deduplicate",
    sequenceField: Option[String] = None,
    // field name -> aggregate function name (aggregation merge engine)
    fieldAggregates: Map[String, String] = Map.empty,
    defaultAggregate: Option[String] = None,
    options: Map[String, String] = Map.empty) {
  def isPrimaryKeyed: Boolean = primaryKeys.nonEmpty
  def option(k: String, default: String): String = options.getOrElse(k, default)
}

/** Versioned schema; fields matched by id across versions (cf. paimon
  * DataField ids, paimon-api/.../types/DataField.java). For STRUCT columns,
  * `nestedIds` gives each direct child field a stable id too (name → id), so
  * nested rename/drop/reorder remap across file schema versions exactly like
  * top-level columns. Absent (older schema versions, or no nested evolution
  * yet) ⇒ children take their position as id — consistent, because a version
  * without the map is by construction prior to any nested change. */
case class FieldDef(id: Int, name: String, dataType: String, nullable: Boolean = true,
                    nestedIds: Option[Map[String, Int]] = None,
                    comment: Option[String] = None) {
  /** Null-safe accessor (jackson-scala leaves absent Options null). */
  def nestedIdMap: Option[Map[String, Int]] = Option(nestedIds).flatten
  def commentOpt: Option[String] = Option(comment).flatten
}
case class TableSchema(
    id: Long,
    fields: Seq[FieldDef],
    config: TableConfig,
    timestampMs: Long) {
  // lazy: DataType.fromDDL runs the SQL parser per field — parse once
  lazy val sparkSchema: StructType =
    StructType(fields.map { f =>
      val sf = StructField(f.name, DataType.fromDDL(f.dataType), f.nullable)
      f.commentOpt.fold(sf)(sf.withComment)
    })
}
object TableSchema {
  def fromSpark(id: Long, st: StructType, config: TableConfig): TableSchema =
    TableSchema(id, st.fields.zipWithIndex.map { case (f, i) =>
      FieldDef(i, f.name, f.dataType.sql, f.nullable, comment = f.getComment())
    }.toSeq, config, System.currentTimeMillis())
}

/** Per-column file statistics; min/max serialized as strings, interpreted
  * against the schema type at prune time.
  *
  * `metadata.stats-mode` (paimon CoreOptions.METADATA_STATS_MODE) degrades
  * what a writer records here: `nullCount = -1` means "not collected"
  * (mode none), null min/max with a real nullCount means counts-only, and
  * `inexact = true` marks truncated string bounds (mode truncate(N)):
  * still valid lower/upper BOUNDS for pruning, but not the exact extreme
  * values — min/max aggregate pushdown must refuse them. The field
  * defaults to false so manifests written before the flag existed parse
  * as exact (they always carried full stats). */
case class ColStat(min: String, max: String, nullCount: Long,
                   inexact: Boolean = false)

/** One data-file entry in a manifest (cf. paimon ManifestEntry + DataFileMeta,
  * paimon-core/.../io/DataFileMeta.java:61). kind: 0=ADD, 1=DELETE. */
case class ManifestEntry(
    kind: Int,
    path: String, // relative to table root
    partition: Map[String, String],
    bucket: Int,
    rowCount: Long,
    fileSize: Long,
    minSeq: Long,
    maxSeq: Long,
    level: Int,
    stats: Map[String, ColStat],
    // schema version the file was written under — reads remap old files to
    // the current schema BY FIELD ID (rename/drop/retype safe)
    schemaId: Long = 0L,
    // epoch-millis the file was WRITTEN (cf. paimon DataFileMeta.creationTime,
    // paimon-core/.../io/DataFileMeta.java:253). 0 = unknown (manifests
    // written before the field existed) → readers fall back to a filesystem
    // stat. Stable across byte-copies (sys.copy), unlike filesystem mtime.
    creationTime: Long = 0L,
    // bucket count of the routing layout this file was written under (cf.
    // paimon ManifestEntry.totalBuckets, used by PostponeUtils
    // .getKnownNumBuckets) — the durable per-PARTITION bucket number for
    // postpone fixed-bucket tables, where different partitions route with
    // different moduli. 0 = unknown (pre-field manifests, staging files,
    // dynamic-bucket entries); real layouts are always >= 1.
    totalBuckets: Int = 0)

/** Spark-side schema of [[ManifestEntry]] — the shape manifests take when
  * processed as DataFrames (parquet manifests, distributed planning). */
object ManifestDf {
  val colStatType: StructType = StructType(Seq(
    StructField("min", StringType), StructField("max", StringType),
    StructField("nullCount", LongType, nullable = false),
    StructField("inexact", BooleanType)))

  /** Manifest files written before `inexact` existed read the field as null
    * under the current schema; coalesce to false (old stats were always
    * exact) so the Dataset decode to [[ColStat]]'s primitive Boolean holds. */
  def backfill(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    df.withColumn("stats", transform_values(col("stats"), (_, v) =>
      struct(v.getField("min").as("min"), v.getField("max").as("max"),
        v.getField("nullCount").as("nullCount"),
        coalesce(v.getField("inexact"), lit(false)).as("inexact"))))
      .withColumn("creationTime", coalesce(col("creationTime"), lit(0L)))
      .withColumn("totalBuckets", coalesce(col("totalBuckets"), lit(0)))
  }
  val schema: StructType = StructType(Seq(
    StructField("kind", IntegerType, nullable = false),
    StructField("path", StringType, nullable = false),
    StructField("partition", MapType(StringType, StringType)),
    StructField("bucket", IntegerType, nullable = false),
    StructField("rowCount", LongType, nullable = false),
    StructField("fileSize", LongType, nullable = false),
    StructField("minSeq", LongType, nullable = false),
    StructField("maxSeq", LongType, nullable = false),
    StructField("level", IntegerType, nullable = false),
    StructField("stats", MapType(StringType, colStatType)),
    StructField("schemaId", LongType, nullable = false),
    StructField("creationTime", LongType, nullable = false),
    StructField("totalBuckets", IntegerType, nullable = false)))
  def columns: Seq[org.apache.spark.sql.Column] =
    schema.fieldNames.toSeq.map(org.apache.spark.sql.functions.col)
}

/** Snapshot: ordered manifest list; effective file set = fold ADD/DELETE
  * entries over `manifests` in order (cf. paimon Snapshot.java:44). */
/** Data-evolution column patch (paimon data evolution / `_ROW_ID` column
  * patching, UpdatePaimonDataEvolutionTableCommand capability): a parquet
  * dir of (row id → new values for `cols`) produced by UPDATE on a
  * row-tracking append table. Updates rewrite ONLY the changed columns —
  * wide rows (blobs, embeddings) never move. `seq` orders patch
  * generations (later wins per column); [rowIdMin, rowIdMax] bounds which
  * base files a patch can touch, so reads join only overlapping files. */
case class PatchFile(path: String, cols: Seq[String], rowIdMin: Long,
                     rowIdMax: Long, rows: Long, seq: Long)

case class SnapshotMeta(
    id: Long,
    schemaId: Long,
    kind: String, // APPEND | COMPACT | OVERWRITE
    commitUser: String,
    identifier: String,
    timestampMs: Long,
    manifests: Seq[String],      // full ordered list (base ++ delta)
    deltaManifests: Seq[String], // manifests added by THIS commit
    totalRecords: Long,
    deltaRecords: Long,
    watermark: Option[Long] = None,
    // deletion-vector index file under dv/ (paimon DeletionVectorsIndexFile)
    dvIndex: Option[String] = None,
    // write-time changelog files (relative paths) for THIS commit — produced
    // when changelog-producer=lookup (paimon ChangelogManager/changelog files)
    changelog: Option[Seq[String]] = None,
    // live data-file count after this snapshot (maintained incrementally);
    // lets planning pick the distributed manifest path without a fold
    liveFiles: Option[Long] = None,
    // full-compaction changelog coverage: this COMPACT snapshot's changelog
    // files diff the table state FROM `changelogBase` TO this snapshot
    // (paimon full-compaction producer); readers verify chain continuity
    changelogBase: Option[Long] = None,
    // outstanding data-evolution column patches (row-tracking append
    // tables); compaction materializes and clears them
    patches: Option[Seq[PatchFile]] = None,
    // bytes of data files ADDED by this commit (admission control:
    // scan.max-bytes-per-trigger). None = written before the field existed.
    deltaBytes: Option[Long] = None) {
  /** Erasure-safe watermark accessor: jackson-scala materializes a JSON int
    * into Option[Long] as a boxed Integer — unboxing via the field throws. */
  def watermarkLong: Option[Long] =
    watermark.asInstanceOf[Option[Any]]
      .map { case n: java.lang.Number => n.longValue }
  def deltaBytesLong: Option[Long] =
    deltaBytes.asInstanceOf[Option[Any]]
      .map { case n: java.lang.Number => n.longValue }
  def liveFilesLong: Option[Long] =
    liveFiles.asInstanceOf[Option[Any]]
      .map { case n: java.lang.Number => n.longValue }
  def changelogBaseLong: Option[Long] =
    changelogBase.asInstanceOf[Option[Any]]
      .map { case n: java.lang.Number => n.longValue }
  def changelogFiles: Seq[String] = Option(changelog).flatten.getOrElse(Nil)
  def patchList: Seq[PatchFile] = Option(patches).flatten.getOrElse(Nil)
}

case class TagMeta(name: String, snapshotId: Long, timestampMs: Long)

class CommitConflictException(msg: String) extends RuntimeException(msg)

object SnapshotManager {
  /** JVM-wide parsed-manifest cache; safe because manifest names are UUIDs
    * and manifest files are immutable once committed. */
  private[core] val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[ManifestEntry]]()
  /** Parsed-schema cache keyed by table root + schema id (immutable). */
  private[core] val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, TableSchema]()
  private[core] val log = org.slf4j.LoggerFactory.getLogger(classOf[SnapshotManager])
}

/**
 * Driver-side metadata IO + optimistic commit protocol.
 *
 * Commit = write manifests, then CAS-create `snapshot/snapshot-<n>.json`
 * via write-temp + atomic rename (rename fails if destination exists, on
 * both HDFS and local fs) — same optimistic loop as paimon's
 * FileStoreCommitImpl.tryCommit (paimon-core/.../operation/FileStoreCommitImpl.java:832).
 */
class SnapshotManager(val tableRoot: String, hadoopConf: Configuration,
                      val branch: Option[String] = None) {
  private val root = new Path(tableRoot)
  private lazy val localFs = graft.NoForkLocalFileSystem.localFor(root, hadoopConf)
  def fs: FileSystem = localFs.getOrElse(root.getFileSystem(hadoopConf))

  def schemaDir = new Path(root, "schema")
  /** Branches keep their own snapshot chain under branch/<name>/snapshot,
    * sharing schema, manifests and data files with main (cf. paimon
    * branch/BranchManager.java). */
  def snapshotDir: Path = branch match {
    case Some(b) => new Path(root, s"branch/$b/snapshot")
    case None => new Path(root, "snapshot")
  }
  def branchRootDir = new Path(root, "branch")
  def manifestDir = new Path(root, "manifest")
  def tagDir = new Path(root, "tag")
  def dataDir = new Path(root, "data")

  // ---- generic small-file IO ----
  def writeString(p: Path, s: String): Unit = {
    val out = new OutputStreamWriter(fs.create(p, true), StandardCharsets.UTF_8)
    try out.write(s) finally out.close()
  }
  def readString(p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }
  /**
   * Overwrite a small HINT file (e.g. snapshot/LATEST) without a torn-read
   * window: in-place `fs.create(overwrite=true)` lets a concurrent reader
   * see a half-rewritten file (on the local FS the checksum sidecar tears —
   * observed as ChecksumException noise in the cross-JVM race test).
   * Local scheme: tmp + ATOMIC_MOVE(REPLACE_EXISTING). Remote FS: tmp +
   * delete + rename — a brief missing-file window, which every hint reader
   * already tolerates via the list+probe fallback.
   */
  def writeHint(target: Path, content: String): Unit = {
    if (fs.getUri.getScheme == "file") {
      val t = java.nio.file.Paths.get(target.toUri.getPath)
      java.nio.file.Files.createDirectories(t.getParent)
      // drop any stale checksum sidecar a past fs.create left behind: the
      // nio-written bytes won't match it, and a missing sidecar just means
      // "read raw" to Hadoop's ChecksumFileSystem
      java.nio.file.Files.deleteIfExists(
        t.getParent.resolve("." + t.getFileName.toString + ".crc"))
      val tmp = t.getParent.resolve(s".hint-${UUID.randomUUID()}")
      java.nio.file.Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
      java.nio.file.Files.move(tmp, t,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } else {
      val tmp = new Path(target.getParent, s".hint-${UUID.randomUUID()}")
      writeString(tmp, content)
      try {
        fs.delete(target, false)
        if (!fs.rename(tmp, target)) fs.delete(tmp, false)
      } catch { case _: Exception => fs.delete(tmp, false) }
    }
  }
  /**
   * Atomic create-if-absent (the commit CAS). On HDFS-like filesystems,
   * rename-without-overwrite is atomic. On the LOCAL filesystem rename(2)
   * silently REPLACES the destination, so two racing committers would both
   * "win" and one snapshot would be lost — there we claim the slot with
   * link(2) (hard-link creation fails atomically if the target exists).
   */
  def casWrite(target: Path, content: String): Boolean = {
    if (fs.exists(target)) return false
    if (fs.getUri.getScheme == "file") {
      val t = java.nio.file.Paths.get(target.toUri.getPath)
      java.nio.file.Files.createDirectories(t.getParent)
      val tmp = t.getParent.resolve(s".tmp-${UUID.randomUUID()}")
      java.nio.file.Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
      try {
        java.nio.file.Files.createLink(t, tmp)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      } finally java.nio.file.Files.deleteIfExists(tmp)
    } else {
      val tmp = new Path(target.getParent, s".tmp-${UUID.randomUUID()}")
      writeString(tmp, content)
      val ok = try fs.rename(tmp, target) catch { case _: Exception => false }
      if (!ok) fs.delete(tmp, false)
      ok
    }
  }

  // ---- schema ----
  def writeSchema(s: TableSchema): Unit = {
    // invalidate first: create-or-replace rewrites schema-0 at the same path
    SnapshotManager.schemaCache.remove(s"$tableRoot#${s.id}")
    writeString(new Path(schemaDir, s"schema-${s.id}.json"), Json.write(s))
  }
  def readSchema(id: Long): TableSchema = {
    // schema files are immutable per (table, id) → JVM-wide cache
    val key = s"$tableRoot#$id"
    val cached = SnapshotManager.schemaCache.get(key)
    if (cached != null) return cached
    val s = Json.read(readString(new Path(schemaDir, s"schema-$id.json")), classOf[TableSchema])
    if (SnapshotManager.schemaCache.size > 512) SnapshotManager.schemaCache.clear()
    SnapshotManager.schemaCache.put(key, s)
    s
  }
  // the newest schema id this manager has seen. Ids are written in
  // sequence, so a later call checks that one is still there and probes
  // the ids after it (two stats) instead of listing the directory; a table
  // replaced under it falls back to the listing
  @volatile private var knownSchemaId = -1L
  def latestSchemaId: Long = {
    def path(id: Long) = new Path(schemaDir, s"schema-$id.json")
    val k = knownSchemaId
    val id =
      if (k >= 0 && fs.exists(path(k))) {
        var i = k
        while (fs.exists(path(i + 1))) i += 1
        i
      } else listIds(schemaDir, "schema-", ".json").max
    knownSchemaId = id
    id
  }
  def latestSchema: TableSchema = readSchema(latestSchemaId)
  def tableExists: Boolean = fs.exists(schemaDir)

  /** Live-file count above which metadata work (planning, conflict checks,
    * expire/orphan) runs as DataFrame jobs instead of driver folds. */
  def planDfThreshold: Long =
    try latestSchema.config.option("metadata.plan.df-threshold", "50000").toLong
    catch { case _: Exception => Long.MaxValue }

  // ---- snapshots ----
  private def snapshotPath(id: Long) = new Path(snapshotDir, s"snapshot-$id.json")
  def readSnapshot(id: Long): SnapshotMeta =
    Json.read(readString(snapshotPath(id)), classOf[SnapshotMeta])
  def snapshotExists(id: Long): Boolean = fs.exists(snapshotPath(id))

  private def listIds(dir: Path, prefix: String, suffix: String): Seq[Long] = {
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith(prefix) && n.endsWith(suffix))
      .map(n => n.substring(prefix.length, n.length - suffix.length).toLong)
  }
  def snapshotIds: Seq[Long] = listIds(snapshotDir, "snapshot-", ".json").sorted

  /** EARLIEST snapshot whose watermark >= `w` (reference
    * SnapshotManager.laterOrEqualWatermark) — the single definition behind
    * `VERSION AS OF 'watermark'`, `scan.watermark` and
    * `create_tag_from_watermark`; throws when no snapshot has reached `w`. */
  def laterOrEqualWatermark(w: Long): Long = {
    val ids = snapshotIds.filter(id => readSnapshot(id).watermarkLong.exists(_ >= w))
    require(ids.nonEmpty,
      s"there is currently no snapshot later than or equal to watermark[$w]")
    ids.min
  }

  /** Latest snapshot id: LATEST hint, verified + advanced by probing. */
  def latestSnapshotId: Option[Long] = {
    val hintPath = new Path(snapshotDir, "LATEST")
    val hint: Long =
      try readString(hintPath).trim.toLong catch { case _: Exception => -1L }
    var cur = if (hint >= 0 && snapshotExists(hint)) hint else {
      val ids = snapshotIds; if (ids.isEmpty) return None else ids.max
    }
    while (snapshotExists(cur + 1)) cur += 1
    Some(cur)
  }
  def latestSnapshot: Option[SnapshotMeta] = latestSnapshotId.map(readSnapshot)

  /** Highest micro-batch id already committed under `prefix` (streaming-sink
    * identifiers are `<prefix><batchId>`). Used for exactly-once streaming
    * writes: a restarted query replays its last batch, and the sink skips any
    * batch at-or-below this watermark (capability of paimon's commitIdentifier
    * dedup, Snapshot.java:139). Walks back from the latest snapshot and stops
    * at the first match — O(commits since the stream last wrote), not
    * O(snapshot history) for an active stream. */
  def maxCommittedBatch(prefix: String): Option[Long] = {
    var cur = latestSnapshotId.getOrElse(return None)
    while (cur >= 1 && snapshotExists(cur)) {
      val s = readSnapshot(cur)
      if (s.identifier.startsWith(prefix)) {
        val tail = s.identifier.substring(prefix.length)
        try return Some(tail.toLong) catch { case _: NumberFormatException => }
      }
      cur -= 1
    }
    None
  }

  // ---- manifests ----
  // Two physical formats, dispatched by name suffix:
  //   manifest-<uuid>.json  JSON-lines, written by the driver (small deltas)
  //   manifest-<uuid>.pq    parquet DIRECTORY written by a Spark job — used
  //                         above `manifest.parquet-threshold` entries (or
  //                         when manifest.format=parquet) so a 10^5-file
  //                         commit never serializes on the driver and
  //                         re-reads scan columnar (paimon ManifestFile is
  //                         avro/orc for the same reason).
  private def manifestFormat(entryCount: Int): String = {
    val cfg = try latestSchema.config catch { case _: Exception => return "json" }
    cfg.options.get("manifest.format").getOrElse {
      val threshold = cfg.option("manifest.parquet-threshold", "10000").toInt
      if (entryCount > threshold) "parquet" else "json"
    }
  }

  def writeManifest(entries: Seq[ManifestEntry]): String = {
    if (manifestFormat(entries.size) == "parquet" && entries.nonEmpty) {
      val spark = org.apache.spark.sql.SparkSession.active
      val name = s"manifest-${UUID.randomUUID()}.pq"
      import spark.implicits._
      val perFile = 200000 // ~40 MB of parquet per manifest part
      spark.createDataset(entries)
        .repartition(math.max(1, entries.size / perFile))
        .select(ManifestDf.columns: _*)
        .write.parquet(new Path(manifestDir, name).toString)
      name
    } else {
      val name = s"manifest-${UUID.randomUUID()}.json"
      val sb = new StringBuilder
      entries.foreach { e => sb.append(Json.write(e)).append('\n') }
      writeString(new Path(manifestDir, name), sb.toString)
      name
    }
  }

  def readManifest(name: String): Seq[ManifestEntry] = {
    // manifests are immutable once written → cache parsed entries (bounded;
    // repeated planFiles of hot tables skip the JSON re-parse)
    val cached = SnapshotManager.manifestCache.get(name)
    if (cached != null) return cached
    val out: Seq[ManifestEntry] =
      if (name.endsWith(".pq")) {
        val spark = org.apache.spark.sql.SparkSession.active
        import spark.implicits._
        ManifestDf.backfill(spark.read.schema(ManifestDf.schema)
          .parquet(new Path(manifestDir, name).toString))
          .as[ManifestEntry].collect().toSeq
      } else {
        val in = new BufferedReader(new InputStreamReader(
          fs.open(new Path(manifestDir, name)), StandardCharsets.UTF_8))
        try {
          val buf = ArrayBuffer[ManifestEntry]()
          var line = in.readLine()
          while (line != null) {
            if (line.nonEmpty) buf += Json.read(line, classOf[ManifestEntry])
            line = in.readLine()
          }
          buf.toSeq
        } finally in.close()
      }
    if (SnapshotManager.manifestCache.size > 512) SnapshotManager.manifestCache.clear()
    SnapshotManager.manifestCache.put(name, out)
    out
  }

  /**
   * All entries of `manifests` as ONE DataFrame with a `__ord` column (the
   * manifest's position in the list) — the distributed metadata plane.
   * JSON-lines and parquet manifests union transparently; the manifest each
   * row came from is recovered via input_file_name, so a snapshot with 10^7
   * entries never materializes on the driver (SURVEY §7 100-TB posture).
   */
  def entriesDf(spark: org.apache.spark.sql.SparkSession,
                manifests: Seq[String]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    if (manifests.isEmpty)
      return spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        StructType(ManifestDf.schema.fields :+ StructField("__ord", IntegerType)))
    val mdir = manifestDir.toString
    val (parqs, jsons) = manifests.partition(_.endsWith(".pq"))
    val parts = Seq(
      if (jsons.isEmpty) None
      else Some(spark.read.schema(ManifestDf.schema)
        .json(jsons.map(m => s"$mdir/$m"): _*)),
      if (parqs.isEmpty) None
      else Some(spark.read.schema(ManifestDf.schema)
        .parquet(parqs.map(m => s"$mdir/$m"): _*))).flatten
    val ss = spark
    import ss.implicits._
    val ordDf = manifests.zipWithIndex.toDF("__mname", "__ord")
    ManifestDf.backfill(parts.reduce(_ unionAll _))
      .withColumn("__mname", regexp_extract(input_file_name(), "manifest/([^/]+)", 1))
      .join(broadcast(ordDf), "__mname")
      .drop("__mname")
  }

  /** Live entries of a snapshot as a DataFrame: the ADD/DELETE fold runs as
    * a groupBy(path) → latest-manifest-wins aggregation on executors. */
  def liveEntriesDf(spark: org.apache.spark.sql.SparkSession,
                    s: SnapshotMeta): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val df = entriesDf(spark, s.manifests)
    // per path, the entry from the LATEST manifest decides: kind=0 stays
    // live, kind=1 is deleted (paths are never re-added after deletion)
    df.groupBy(col("path").as("__p"))
      .agg(max_by(struct(ManifestDf.columns: _*), col("__ord")).as("__e"))
      .select(col("__e.*"))
      .filter(col("kind") === 0)
  }

  /** Effective (live) data files of a snapshot: fold ADD/DELETE in order. */
  def liveEntries(s: SnapshotMeta): Seq[ManifestEntry] = {
    val acc = new java.util.LinkedHashMap[String, ManifestEntry]()
    s.manifests.foreach { m =>
      readManifest(m).foreach { e =>
        if (e.kind == 0) acc.put(e.path, e) else acc.remove(e.path)
      }
    }
    import scala.jdk.CollectionConverters._
    acc.values().asScala.toSeq
  }

  /**
   * Optimistic commit loop. `delta` = this commit's ADD/DELETE entries.
   * On CAS race: re-read latest, verify none of the files WE delete were
   * already deleted (conflict), rebase, retry.
   */
  /** Invoked after every successful commit with the new snapshot (set by
    * GraftTable when `metadata.iceberg.storage` is enabled). */
  @volatile var postCommitHook: Option[SnapshotMeta => Unit] = None

  /** dvAction: None = carry forward previous dvIndex; Some(opt) = set to opt. */
  def commit(delta: Seq[ManifestEntry], kind: String, identifier: String,
             schemaId: Long, maxRetries: Int = 20,
             dvAction: Option[Option[String]] = None,
             watermark: Option[Long] = None,
             changelog: Seq[String] = Nil,
             changelogBase: Option[Long] = None,
             patchAction: Option[Seq[PatchFile]] = None): SnapshotMeta = {
    val commitT0 = System.nanoTime()
    val deltaName = writeManifest(delta)
    val deletedPaths = delta.filter(_.kind == 1).map(_.path).toSet
    var attempt = 0
    while (attempt < maxRetries) {
      val base = latestSnapshot
      val nextId = base.map(_.id + 1).getOrElse(1L)
      base.foreach { b =>
        if (deletedPaths.nonEmpty) {
          // conflict check: every file WE delete must still be live. Above
          // the plan threshold this runs as an anti-join on executors — the
          // driver never folds the full manifest set.
          val gone: Seq[String] =
            if (b.liveFilesLong.exists(_ >= planDfThreshold)) {
              val spark = org.apache.spark.sql.SparkSession.active
              import spark.implicits._
              spark.createDataset(deletedPaths.toSeq).toDF("path")
                .join(liveEntriesDf(spark, b).select("path"), Seq("path"), "left_anti")
                .as[String].take(3).toSeq
            } else {
              val live = liveEntries(b).map(_.path).toSet
              (deletedPaths -- live).take(3).toSeq
            }
          if (gone.nonEmpty) throw new CommitConflictException(
            s"files deleted concurrently: ${gone.mkString(",")}")
        }
      }
      val addRows = delta.filter(_.kind == 0).map(_.rowCount).sum
      val delRows = delta.filter(_.kind == 1).map(_.rowCount).sum
      val addFiles = delta.count(_.kind == 0).toLong
      val delFiles = delta.count(_.kind == 1).toLong
      // incremental live-file count (exact: every DELETE references a live
      // file, enforced by the conflict check above); None base = fresh table
      val lf: Option[Long] = base match {
        case None => Some(addFiles - delFiles)
        case Some(b) => b.liveFilesLong.map(_ + addFiles - delFiles)
      }
      val snap = SnapshotMeta(
        id = nextId, schemaId = schemaId, kind = kind,
        commitUser = "graft", identifier = identifier,
        timestampMs = System.currentTimeMillis(),
        manifests = base.map(_.manifests).getOrElse(Nil) :+ deltaName,
        deltaManifests = Seq(deltaName),
        totalRecords = base.map(_.totalRecords).getOrElse(0L) + addRows - delRows,
        deltaRecords = addRows,
        watermark = watermark.orElse(base.flatMap(_.watermarkLong)),
        dvIndex = dvAction.getOrElse(base.flatMap(_.dvIndex)),
        changelog = if (changelog.isEmpty) None else Some(changelog),
        liveFiles = lf,
        changelogBase = changelogBase,
        // patchAction: None = carry forward, Some(Nil) = clear, Some(ps) = set
        patches = patchAction.map(ps => if (ps.isEmpty) None else Some(ps))
          .getOrElse(base.flatMap(b => Option(b.patches).flatten)),
        deltaBytes = Some(delta.filter(_.kind == 0).map(_.fileSize).sum))
      if (casWrite(snapshotPath(nextId), Json.write(snap))) {
        writeHint(new Path(snapshotDir, "LATEST"), nextId.toString)
        val ms = (System.nanoTime() - commitT0) / 1000000L
        GraftMetrics.recordCommit(tableRoot, ms, attempt + 1L, kind,
          addFiles, delFiles, changelog.size.toLong)
        SnapshotManager.log.info(s"commit table=$tableRoot snapshot=$nextId kind=$kind " +
          s"attempts=${attempt + 1} files_added=$addFiles files_deleted=$delFiles ms=$ms")
        // post-commit callback (iceberg metadata export) — a hook failure
        // must not fail the commit; the snapshot is already durable
        postCommitHook.foreach(h =>
          try h(snap) catch { case e: Exception =>
            SnapshotManager.log.warn(s"post-commit hook failed: ${e.getMessage}", e) })
        return snap
      }
      attempt += 1
    }
    throw new CommitConflictException(s"commit lost CAS race $maxRetries times")
  }

  /** Stamp `creationTime` into entries that predate the field (0 = unknown)
    * from ONE directory listing per data directory — never a per-file stat.
    * Migrating legacy manifests through [[compactManifests]] retires the
    * per-file getFileStatus fallback in GraftTable.entryCreationTime. */
  private def stampCreationTimes(entries: Seq[ManifestEntry]): Seq[ManifestEntry] = {
    val missing = entries.filter(_.creationTime <= 0L)
    if (missing.isEmpty) return entries
    val dirs = missing.map(e => new Path(root, e.path).getParent).distinct
    val mtimes: Map[String, Long] = dirs.flatMap { d =>
      try fs.listStatus(d).toSeq.collect { case st if st.isFile =>
        st.getPath.toString -> st.getModificationTime }
      catch { case _: java.io.FileNotFoundException => Nil }
    }.toMap
    entries.map { e =>
      if (e.creationTime > 0L) e
      else e.copy(creationTime = math.max(1L,
        mtimes.getOrElse(fs.makeQualified(new Path(root, e.path)).toString, 0L)))
    }
  }

  /** Rewrite the manifest list of the latest state into one consolidated
    * ADD-only manifest (paimon `compact_manifest`); legacy entries without
    * a creationTime get one stamped ([[stampCreationTimes]]). */
  def compactManifests(schemaId: Long): SnapshotMeta = {
    val (name, liveCount) =
      if (latestSnapshot.exists(_.liveFilesLong.exists(_ >= planDfThreshold))) {
        // consolidate distributed: fold on executors, write a parquet
        // manifest straight from the DataFrame (no driver materialization)
        import org.apache.spark.sql.functions._
        val spark = org.apache.spark.sql.SparkSession.active
        val n = s"manifest-${UUID.randomUUID()}.pq"
        var df = liveEntriesDf(spark, latestSnapshot.get)
        // distributed creationTime stamping: executors list each data dir
        // ONCE and the (path, mtime) relation joins the entries — no driver
        // materialization, no per-file stats
        if (!df.filter(col("creationTime") <= 0).isEmpty) {
          val parentExpr = expr(
            "substring(path, 1, length(path) - length(substring_index(path, '/', -1)) - 1)")
          val dirs = df.filter(col("creationTime") <= 0)
            .select(parentExpr.as("d")).distinct()
            .collect().map(_.getString(0)) // bounded by #partitions × buckets
          val qualifiedRoot = fs.makeQualified(root).toString
          val sconf = new org.apache.spark.util.SerializableConfiguration(hadoopConf)
          val mtimeDf = spark.createDataFrame(
            spark.sparkContext.parallelize(dirs.toSeq, math.max(1, math.min(dirs.length, 64)))
              .flatMap { d =>
                val p = new Path(qualifiedRoot, d)
                val dfs = p.getFileSystem(sconf.value)
                try dfs.listStatus(p).toSeq.collect { case st if st.isFile =>
                  org.apache.spark.sql.Row(
                    st.getPath.toString.stripPrefix(qualifiedRoot + "/"),
                    st.getModificationTime)
                } catch { case _: java.io.FileNotFoundException => Nil }
              },
            StructType(Seq(StructField("path", StringType, false),
              StructField("__mtime", LongType, false))))
          df = df.join(mtimeDf, Seq("path"), "left")
            .withColumn("creationTime",
              when(col("creationTime") > 0, col("creationTime"))
                .otherwise(greatest(coalesce(col("__mtime"), lit(0L)), lit(1L))))
            .drop("__mtime")
        }
        df.select(ManifestDf.columns: _*)
          .write.parquet(new Path(manifestDir, n).toString)
        val cnt = spark.read.parquet(new Path(manifestDir, n).toString).count()
        (n, cnt)
      } else {
        val live = stampCreationTimes(latestSnapshot.map(liveEntries).getOrElse(Nil))
        (writeManifest(live), live.size.toLong)
      }
    var attempt = 0
    while (attempt < 20) {
      val base = latestSnapshot
      val nextId = base.map(_.id + 1).getOrElse(1L)
      // carry forward watermark + dvIndex exactly like commit() does —
      // dropping the DV index here would resurrect all DV-deleted rows
      val snap = SnapshotMeta(nextId, schemaId, "COMPACT", "graft",
        s"manifest-compact-$nextId", System.currentTimeMillis(),
        Seq(name), Seq(name),
        base.map(_.totalRecords).getOrElse(0L), 0L,
        watermark = base.flatMap(_.watermarkLong),
        dvIndex = base.flatMap(_.dvIndex),
        liveFiles = Some(liveCount),
        patches = base.flatMap(b => Option(b.patches).flatten))
      if (casWrite(snapshotPath(nextId), Json.write(snap))) {
        writeHint(new Path(snapshotDir, "LATEST"), nextId.toString)
        return snap
      }
      attempt += 1
    }
    throw new CommitConflictException("compactManifests lost CAS race")
  }

  // ---- deletion vectors (roaring bitmap of deleted row positions per data
  //      file; cf. paimon deletionvectors/DeletionVectorsIndexFile.java) ----
  def dvDir = new Path(root, "dv")
  def writeDvIndex(dvs: Map[String, Array[Byte]]): String = {
    val name = s"dv-${UUID.randomUUID()}.json"
    val sb = new StringBuilder
    dvs.foreach { case (p, bytes) =>
      sb.append(Json.write(Map("path" -> p,
        "bitmap" -> java.util.Base64.getEncoder.encodeToString(bytes)))).append('\n')
    }
    writeString(new Path(dvDir, name), sb.toString)
    name
  }
  def readDvIndex(name: String): Map[String, Array[Byte]] = {
    readString(new Path(dvDir, name)).linesIterator.filter(_.nonEmpty).map { line =>
      val m = Json.mapper.readValue(line, classOf[java.util.Map[String, String]])
      m.get("path") -> java.util.Base64.getDecoder.decode(m.get("bitmap"))
    }.toMap
  }

  // ---- branches ----
  def listBranches(): Seq[String] = {
    if (!fs.exists(branchRootDir)) return Nil
    fs.listStatus(branchRootDir).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName).sorted
  }
  def branchExists(name: String): Boolean =
    fs.exists(new Path(branchRootDir, s"$name/snapshot"))

  // ---- tags ----
  def createTag(name: String, snapshotId: Long): Unit =
    writeString(new Path(tagDir, s"$name.json"),
      Json.write(TagMeta(name, snapshotId, System.currentTimeMillis())))
  def readTag(name: String): TagMeta =
    Json.read(readString(new Path(tagDir, s"$name.json")), classOf[TagMeta])
  def deleteTag(name: String): Unit = fs.delete(new Path(tagDir, s"$name.json"), false)
  def listTags(): Seq[TagMeta] = {
    if (!fs.exists(tagDir)) return Nil
    fs.listStatus(tagDir).toSeq.filter(_.getPath.getName.endsWith(".json"))
      .map(s => Json.read(readString(s.getPath), classOf[TagMeta]))
      .sortBy(_.name)
  }
}
