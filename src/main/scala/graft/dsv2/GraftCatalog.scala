package graft.dsv2

import graft.core._
import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchNamespaceException, NoSuchTableException}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util
import scala.jdk.CollectionConverters._

/**
 * Spark TableCatalog over a graft warehouse directory (layout
 * `<warehouse>/<db>.db/<table>`), the counterpart of the reference's
 * SparkCatalog (paimon-spark/.../SparkCatalog.java:307). Registration:
 *
 * {{{
 * spark.sql.catalog.graft=graft.dsv2.GraftCatalog
 * spark.sql.catalog.graft.warehouse=/path/wh
 * }}}
 *
 * Supports CREATE/DROP TABLE with TBLPROPERTIES (primary-key, bucket,
 * merge-engine, sequence.field, fields.<f>.aggregate-function), namespaces,
 * and SQL time travel: `VERSION AS OF <snapshot|tag>` / `TIMESTAMP AS OF`
 * route through loadTable(ident, version/timestamp) like the reference
 * (SparkCatalog.java:315,333).
 */
class GraftCatalog extends TableCatalog with SupportsNamespaces with FunctionCatalog
    with ViewCatalog {

  private var catalogName: String = _
  private var warehouse: String = _
  private var authUser: Option[String] = None
  private var authPassword: Option[String] = None
  private var catalogOptions: Map[String, String] = Map.empty
  private def spark: SparkSession = SparkSession.active

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    catalogOptions = {
      import scala.jdk.CollectionConverters._
      options.asScala.toMap -- Seq("password") // never surface credentials
    }
    warehouse = Option(options.get("warehouse"))
      .getOrElse(throw new IllegalArgumentException(
        s"catalog $name requires 'warehouse' option"))
    authUser = Option(options.get("user"))
    authPassword = Option(options.get("password"))
    // blob descriptor SQL surface (paimon sys.* functions): session UDFs,
    // registered once per session on first catalog init. Only the
    // no-active-session probe is soft — a real registration failure must
    // surface, not silently skip the remaining functions.
    val sessionOpt =
      try Some(SparkSession.active) catch { case _: Exception => None }
    sessionOpt.foreach { s =>
      GraftMapShredRule.register(s) // before the prune rule: it swaps in the
      GraftVariantPrune.register(s) // prunable scan the prune rule extends
      GraftLocalScanStrategy.register(s)
      // NOT under spark.graft.* — that prefix is the session read-option
      // injection namespace and would leak into every table's options
      if (s.conf.getOption("graft.internal.blob-fns-registered").isEmpty) {
        s.udf.register("graft_path_to_descriptor",
          graft.pipeline.Blob.pathToDescriptor(s))
        s.udf.register("graft_read_blob", graft.pipeline.Blob.readBlob(s))
        s.udf.register("graft_descriptor_to_string",
          graft.pipeline.Blob.descriptorToString)
        s.udf.register("graft_descriptor_to_presigned_url",
          graft.pipeline.Blob.descriptorToPresignedUrl(s, tryMode = false))
        s.udf.register("graft_try_descriptor_to_presigned_url",
          graft.pipeline.Blob.descriptorToPresignedUrl(s, tryMode = true))
        s.conf.set("graft.internal.blob-fns-registered", "true")
      }
      // per-catalog: resolves db.table against THIS catalog's warehouse
      // (reference sys.blob_view, blob.mdx "Blob View"); last-initialized
      // catalog wins the session-global name, same as re-registration
      s.udf.register("graft_blob_view",
        graft.pipeline.Blob.blobViewFn(warehouse, name,
          new org.apache.spark.util.SerializableConfiguration(
            s.sessionState.newHadoopConf())))
      // serialized descriptor bytes (blob-as-descriptor=true reads) → the
      // struct form graft_descriptor_to_string / presigned-url take
      s.udf.register("graft_descriptor_from_bytes",
        graft.pipeline.Blob.descriptorFromBytes)
    }
  }
  override def name(): String = catalogName

  // ---- privileges (paimon PrivilegedCatalog; no-op until
  //      init_file_based_privilege creates the manifest) ----
  private def privManifest: Option[GraftPrivileges.Manifest] =
    GraftPrivileges.load(fs, warehouse)

  /** Authenticated user when privileges are on; throws on bad credentials. */
  private def authed(m: GraftPrivileges.Manifest): String = {
    val u = authUser.getOrElse(
      throw new SecurityException("privileges enabled: set the 'user' catalog option"))
    val rec = m.users.getOrElse(u, throw new SecurityException(s"unknown user $u"))
    if (!authPassword.map(GraftPrivileges.sha).contains(rec.passwordSha))
      throw new SecurityException(s"wrong password for $u")
    u
  }

  private def requirePriv(privilege: String, db: String, table: String = ""): Unit =
    privManifest.foreach { m =>
      val u = authed(m)
      if (!GraftPrivileges.check(m, u, privilege, db, table))
        throw new SecurityException(
          s"user $u lacks $privilege on ${if (table.isEmpty) db else s"$db.$table"}")
    }

  /** A SELECT-only user gets a read-only table handle (INSERT is a separate
    * privilege, like the reference). */
  private def canInsert(db: String, table: String): Boolean =
    privManifest.forall { m =>
      GraftPrivileges.check(m, authed(m), "INSERT", db, table)
    }

  private[dsv2] def requireAdmin(): Unit =
    privManifest.foreach { m =>
      val u = authed(m)
      if (u != "root" && !m.users(u).grants.exists(_.privilege == "ADMIN"))
        throw new SecurityException(s"user $u lacks ADMIN")
    }

  private def fs = new Path(warehouse)
    .getFileSystem(spark.sessionState.newHadoopConf())
  private def dbPath(ns: String): Path = new Path(warehouse, s"$ns.db")
  /** Catalog slot for the table — for EXTERNAL tables this directory holds
    * only the `_external.json` pointer, never data. */
  private def rawTablePath(ident: Identifier): String = {
    val ns = ident.namespace().mkString(".")
    new Path(dbPath(ns), ident.name()).toString
  }

  private def externalPointer(raw: String): Path = new Path(raw, "_external.json")

  /** Data location: the external pointer's target when one exists
    * (reference docs/spark/sql-ddl.md "Create External Table"), else the
    * catalog slot itself (managed). */
  private def tablePath(ident: Identifier): String = {
    val raw = rawTablePath(ident)
    val m = externalPointer(raw)
    if (fs.exists(m)) Json.read(readString(m), classOf[GraftExternalDef]).location
    else raw
  }
  /** Location of `db.table` (used by the TVF identifier resolution). */
  def tableLocation(db: String, table: String): String =
    tablePath(Identifier.of(Array(db), table))

  // ---- namespaces ----
  override def listNamespaces(): Array[Array[String]] = {
    if (!fs.exists(new Path(warehouse))) return Array.empty
    fs.listStatus(new Path(warehouse)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.endsWith(".db"))
      .map(s => Array(s.getPath.getName.stripSuffix(".db"))).toArray
  }
  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces() else Array.empty
  private def dbPropsPath(db: String): Path = new Path(dbPath(db), "_dbprops.json")

  private def readDbProps(db: String): Map[String, String] = {
    val p = dbPropsPath(db)
    if (!fs.exists(p)) Map.empty
    else Json.mapper.readValue(readString(p), classOf[Map[String, String]])
      .map { case (k, v) => k -> String.valueOf(v) }
  }

  private def writeDbProps(db: String, props: Map[String, String]): Unit = {
    val out = fs.create(dbPropsPath(db), true)
    try out.write(Json.write(props)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    val db = namespace.mkString(".")
    (readDbProps(db) + ("location" -> dbPath(db).toString)).asJava
  }
  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length == 1 && fs.exists(dbPath(namespace.mkString(".")))
  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit = {
    requirePriv("CREATE_DATABASE", namespace.mkString("."))
    val db = namespace.mkString(".")
    fs.mkdirs(dbPath(db))
    // persist CREATE DATABASE ... WITH DBPROPERTIES / COMMENT (paimon
    // Database properties); the location is structural here (warehouse
    // layout) and cannot be overridden per database
    val props = metadata.asScala.toMap - "location" - "owner"
    require(!metadata.containsKey("location") ||
        metadata.get("location") == dbPath(db).toString,
      "graft databases live at <warehouse>/<db>.db — per-database LOCATION " +
        "is not supported (use table-level CREATE TABLE ... LOCATION)")
    if (props.nonEmpty) writeDbProps(db, props)
  }
  /** ALTER DATABASE SET/UNSET DBPROPERTIES persist; SET LOCATION is
    * rejected loudly (the warehouse layout is structural — the reference's
    * movable database location maps to table-level external LOCATIONs
    * here). */
  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    val db = namespace.mkString(".")
    val props = changes.foldLeft(readDbProps(db)) { (m, ch) =>
      ch match {
        case s: NamespaceChange.SetProperty if s.property() == "location" =>
          throw new UnsupportedOperationException(
            "ALTER DATABASE ... SET LOCATION is not supported: graft " +
              "databases live at <warehouse>/<db>.db; use table-level " +
              "CREATE TABLE ... LOCATION for external placement")
        case s: NamespaceChange.SetProperty => m + (s.property() -> s.value())
        case r: NamespaceChange.RemoveProperty => m - r.property()
        case other => throw new UnsupportedOperationException(s"alter database: $other")
      }
    }
    writeDbProps(db, props)
  }
  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    requirePriv("DROP_DATABASE", namespace.mkString("."))
    fs.delete(dbPath(namespace.mkString(".")), cascade)
  }

  // ---- format tables (paimon `type=format-table`: a catalog-registered
  // directory of raw csv/json/parquet/orc files, served by Spark's native
  // v2 file sources — reads AND writes go straight to the format) ----

  private def formatMarker(loc: String) = new Path(loc, "format-table.json")

  private def isFormatTable(loc: String): Boolean = fs.exists(formatMarker(loc))

  private def readString(p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  private def loadFormatTable(ident: Identifier, loc: String): Table = {
    val m = Json.mapper.readValue(readString(formatMarker(loc)),
      classOf[java.util.Map[String, String]])
    formatTable(ident.name(), loc, m.get("format"),
      StructType.fromDDL(m.get("schema")))
  }

  private def formatTable(name: String, loc: String, fmt: String,
                          schema: StructType): Table = {
    import org.apache.spark.sql.execution.datasources
    import org.apache.spark.sql.execution.datasources.v2
    val opts = new CaseInsensitiveStringMap(
      Map("path" -> loc, "header" -> "false").asJava)
    val data = Seq(s"$loc/data")
    fmt match {
      case "csv" => v2.csv.CSVTable(name, spark, opts, data, Some(schema),
        classOf[datasources.csv.CSVFileFormat])
      case "json" => v2.json.JsonTable(name, spark, opts, data, Some(schema),
        classOf[datasources.json.JsonFileFormat])
      case "parquet" => v2.parquet.ParquetTable(name, spark, opts, data, Some(schema),
        classOf[datasources.parquet.ParquetFileFormat])
      case "orc" => v2.orc.OrcTable(name, spark, opts, data, Some(schema),
        classOf[datasources.orc.OrcFileFormat])
      case other => throw new IllegalArgumentException(s"format-table format $other")
    }
  }

  // ---- tables ----
  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val p = dbPath(namespace.mkString("."))
    if (!fs.exists(p)) return Array.empty
    fs.listStatus(p).toSeq.filter(_.isDirectory)
      .filter(s => GraftTable.exists(spark, s.getPath.toString) ||
        isFormatTable(s.getPath.toString) ||
        // external tables: the slot holds only the location pointer
        fs.exists(externalPointer(s.getPath.toString)))
      .map(s => Identifier.of(namespace, s.getPath.getName)).toArray
  }

  override def loadTable(ident: Identifier): Table = {
    // GLOBAL system tables: `<catalog>.sys.all_tables` / `all_table_options`
    // / `all_partitions` — warehouse-wide metadata views (paimon
    // SystemTableLoader global tables, table/system/SystemTableLoader.java)
    if (ident.namespace().sameElements(Array("sys")))
      return new GraftDataFrameTable(s"sys.${ident.name()}",
        globalSystemTable(ident.name()))
    // `t$snapshots`, `t$files`, ... — system tables addressable in SQL;
    // `t$branch_<b>` — a branch-scoped handle (readable AND writable), with
    // `t$branch_<b>$files`-style nesting for branch system tables
    // (paimon SystemTableLoader / SparkCatalog `$` suffix convention,
    // docs/maintenance/manage-branches.mdx "Read / Write branch")
    if (ident.name().contains('$')) {
      val parts = ident.name().split('$')
      val base = parts(0)
      val loc = tablePath(Identifier.of(ident.namespace(), base))
      if (!GraftTable.exists(spark, loc))
        throw new NoSuchTableException(ident.namespace() :+ ident.name())
      import graft.core.RowOps._
      if (parts.length >= 2 && parts(1).startsWith("branch_")) {
        val bname = parts(1).stripPrefix("branch_")
        val bt = GraftTable.load(spark, loc, Some(bname))
        if (parts.length == 3)
          return new GraftDataFrameTable(s"$base$$branch_$bname$$${parts(2)}",
            bt.systemTable(parts(2)))
        val db = ident.namespace().mkString(".")
        requirePriv("SELECT", db, base)
        return new GraftSparkTable(bt,
          readOptions = sessionOptionOverrides(ident),
          writable = canInsert(db, base))
      }
      require(parts.length == 2, s"bad system table name ${ident.name()}")
      // binlog supports STREAMING reads too (paimon BinlogTable.java:56):
      // a dedicated table exposes batch (packed last commit) + micro-batch
      if (parts(1) == "binlog")
        return new GraftBinlogTable(GraftTable.load(spark, loc),
          sessionOptionOverrides(ident))
      return new GraftDataFrameTable(s"$base$$${parts(1)}",
        GraftTable.load(spark, loc).systemTable(parts(1)))
    }
    val loc = tablePath(ident)
    if (isFormatTable(loc)) return loadFormatTable(ident, loc)
    if (!GraftTable.exists(spark, loc))
      throw new NoSuchTableException(ident.namespace() :+ ident.name())
    val db = ident.namespace().mkString(".")
    requirePriv("SELECT", db, ident.name())
    new GraftSparkTable(GraftTable.load(spark, loc),
      readOptions = sessionOptionOverrides(ident),
      writable = canInsert(db, ident.name()))
  }

  /** Session-level option injection (paimon spark/auxiliary.md `SET
    * spark.paimon.*`): `SET spark.graft.<key> = v` applies `<key>` as a read
    * option on every graft table of the session; `SET
    * spark.graft.<db>.<table>.<key> = v` scopes it to one table; `SET
    * spark.graft.<catalog>.<db>.<table>.<key> = v` is the reference's full
    * form where each of catalog/db/table may be `*` (matching everything in
    * that position). More specific scopes win — exact segments beat `*`,
    * any scoped form beats the global key. Lets ops pin e.g.
    * `scan.snapshot-id` or `scan.fallback-branch` without rewriting
    * queries. */
  private def sessionOptionOverrides(ident: Identifier): Map[String, String] = {
    val graftKeys = spark.conf.getAll.collect {
      case (k, v) if k.startsWith("spark.graft.") =>
        k.stripPrefix("spark.graft.") -> v
    }
    if (graftKeys.isEmpty) return Map.empty
    val db = ident.namespace().mkString(".")
    val tbl = ident.name()
    // (specificity, optionKey, value): global = 0, legacy db.table = 3,
    // full form = 1 + number of non-wildcard segments (max 4, so an exact
    // catalog.db.table pin outranks the legacy spelling outranks wildcards)
    // a first segment naming a DIFFERENT registered catalog scopes the key
    // to that catalog's tables — it must be dropped here, never applied as
    // a global option key to THIS catalog's tables. UNLESS this catalog
    // also has a DATABASE of that name (ADVICE r11): then the key is the
    // legacy db.table.option spelling for that local database and must
    // apply — the local database wins the reserved-name collision, and a
    // misparse can never leak (the legacy branch only fires on an exact
    // db.table match, never as a global key).
    def namesOtherCatalog(seg: String): Boolean =
      seg != catalogName && seg != "*" &&
        (seg == "spark_catalog" ||
          spark.conf.getOption(s"spark.sql.catalog.$seg").isDefined)
    val resolved = graftKeys.flatMap { case (k, v) =>
      val parts = k.split('.')
      def matches(pat: String, actual: String) = pat == "*" || pat == actual
      if (parts.length >= 3 && namesOtherCatalog(parts(0)) &&
          !namespaceExists(Array(parts(0)))) {
        None // scoped to another catalog entirely
      } else if (parts.length >= 4 &&
          (parts(0) == "*" || parts(0) == catalogName) &&
          // full catalog.db.table form — never mistaken for an option key:
          // option keys (scan.*, read.*, …) don't start with the catalog
          // name or `*`
          (parts(0) == "*" || parts(1) == "*" || parts(2) == "*" ||
            namespaceExists(Array(parts(1))))) {
        if (matches(parts(0), catalogName) && matches(parts(1), db) &&
            matches(parts(2), tbl))
          Some((1 + parts.take(3).count(_ != "*"),
            parts.drop(3).mkString("."), v))
        else None // scoped to some other table: drop entirely
      } else if (parts.length >= 3 && namespaceExists(Array(parts(0)))) {
        // legacy db.table form (first segment names an existing database —
        // option keys never collide with one)
        if (parts(0) == db && parts(1) == tbl)
          Some((3, parts.drop(2).mkString("."), v))
        else None
      } else Some((0, k, v))
    }
    resolved.groupBy(_._2).map { case (optKey, hits) =>
      optKey -> hits.maxBy(_._1)._3
    }
  }

  /** VERSION AS OF: numeric snapshot id or tag name. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val t = GraftTable.load(spark, tablePath(ident))
    val snapId =
      if (version.matches("\\d+")) version.toLong
      else t.sm.readTag(version).snapshotId
    new GraftSparkTable(t, Some(snapId))
  }

  /** TIMESTAMP AS OF (micros since epoch from Spark). */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val t = GraftTable.load(spark, tablePath(ident))
    val tsMillis = timestamp / 1000L
    val ids = t.sm.snapshotIds.filter(id => t.sm.readSnapshot(id).timestampMs <= tsMillis)
    if (ids.isEmpty) throw new NoSuchTableException(ident.namespace() :+ ident.name())
    new GraftSparkTable(t, Some(ids.max))
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    requirePriv("CREATE_TABLE", ident.namespace().mkString("."))
    val props = properties.asScala.toMap
    if (props.get("type").contains("format-table")) {
      val fmt = props.getOrElse("file.format", "csv")
      val loc = tablePath(ident)
      require(!fs.exists(formatMarker(loc)), s"format table $ident exists")
      fs.mkdirs(new Path(loc, "data"))
      val out = fs.create(formatMarker(loc), true)
      try out.write(Json.write(Map("format" -> fmt, "schema" -> schema.toDDL))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      return formatTable(ident.name(), loc, fmt, schema)
    }
    val partitionKeys = partitions.toSeq.map { tr =>
      if (tr.name() == "identity") tr.references().head.fieldNames().mkString(".")
      else throw new UnsupportedOperationException(
        s"graft supports identity partitioning only, got $tr")
    }
    // iceberg hadoop-catalog storage: all tables' iceberg metadata under one
    // <warehouse>/iceberg tree, so the whole catalog mounts as an Iceberg
    // Hadoop-catalog warehouse (paimon metadata.iceberg.storage=hadoop-catalog)
    val icebergLoc: Map[String, String] =
      if (props.get("metadata.iceberg.storage").contains("hadoop-catalog") &&
          !props.contains("metadata.iceberg.storage-location"))
        Map("metadata.iceberg.storage-location" ->
          new Path(warehouse,
            s"iceberg/${ident.namespace().mkString(".")}/${ident.name()}/metadata").toString)
      else Map.empty
    val (schemaV, vectorProps) = GraftCatalog.applyVectorDirectives(schema)
    val config = GraftCatalog.configFromProps(
      props ++ vectorProps ++ icebergLoc, partitionKeys)
    // CREATE [EXTERNAL] TABLE … LOCATION '/path' (reference
    // docs/spark/sql-ddl.md "Create External Table"): the catalog slot holds
    // only a pointer; DROP removes the pointer, never the data. If the
    // location already stores a graft table, adopt its metadata — any
    // explicitly specified schema/keys must agree with it.
    props.get("location").filter(_.nonEmpty) match {
      case Some(loc0) =>
        val loc = new Path(loc0).toString
        val raw = rawTablePath(ident)
        require(loc != raw, "explicit LOCATION equals the managed path")
        require(!fs.exists(new Path(raw)), s"table $ident exists")
        val t =
          if (GraftTable.exists(spark, loc)) {
            val existing = GraftTable.load(spark, loc)
            if (schemaV.nonEmpty)
              require(schemaV.map(f => (f.name, f.dataType)) ==
                  existing.schema.sparkSchema.map(f => (f.name, f.dataType)),
                s"declared schema does not match the table at $loc")
            if (partitionKeys.nonEmpty)
              require(partitionKeys == existing.config.partitionKeys,
                s"declared partitioning does not match the table at $loc")
            if (config.primaryKeys.nonEmpty)
              require(config.primaryKeys == existing.config.primaryKeys,
                s"declared primary key does not match the table at $loc")
            config.options.filterNot(_._1 == "external").foreach { case (k, v) =>
              require(existing.config.options.get(k).contains(v),
                s"property $k does not match the table at $loc")
            }
            existing
          } else GraftTable.create(spark, loc, schemaV,
            config.copy(options = config.options - "external"))
        val m = externalPointer(raw)
        fs.mkdirs(m.getParent)
        val out = fs.create(m, false)
        try out.write(Json.write(GraftExternalDef(loc))
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        new GraftSparkTable(t)
      case None =>
        new GraftSparkTable(GraftTable.create(spark, tablePath(ident), schemaV, config))
    }
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    requirePriv("ALTER_TABLE", ident.namespace().mkString("."), ident.name())
    val t = GraftTable.load(spark, tablePath(ident))
    changes.foreach {
      case add: TableChange.AddColumn if add.fieldNames().length == 1 =>
        val f0 = org.apache.spark.sql.types.StructField(
          add.fieldNames()(0), add.dataType(), add.isNullable)
        val f1 = Option(add.comment()).fold(f0)(f0.withComment)
        // the comment may carry a __VECTOR_FIELD / __BLOB_*_FIELD directive
        // (blob.mdx "Adding a Blob Column"): register its option exactly
        // like the CREATE path, merging comma lists with existing members
        val (schemaV, props) =
          GraftCatalog.applyVectorDirectives(StructType(Array(f1)))
        t.addColumns(schemaV.fields.head)
        if (props.nonEmpty) {
          val cur = GraftTable.load(spark, tablePath(ident)).config.options
          t.setOptions(props.map {
            case (k, v) if k.endsWith("-field") && cur.contains(k) =>
              k -> (cur(k).split(",").map(_.trim).filter(_.nonEmpty) :+ v)
                .distinct.mkString(",")
            case kv => kv
          })
        }
        // ADD COLUMN … FIRST | AFTER x (sql-alter.md "Adding Column
        // Position"): append under a fresh id, then the metadata-only move
        add.position() match {
          case null => ()
          case _: TableChange.First => t.moveColumn(add.fieldNames()(0), None)
          case a: TableChange.After =>
            t.moveColumn(add.fieldNames()(0), Some(a.column()))
          case other => throw new UnsupportedOperationException(
            s"column position $other")
        }
      case add: TableChange.AddColumn if add.fieldNames().length == 2 =>
        t.addNestedColumn(add.fieldNames()(0), add.fieldNames()(1), add.dataType())
      case rn: TableChange.RenameColumn if rn.fieldNames().length == 1 =>
        t.renameColumn(rn.fieldNames()(0), rn.newName())
      case rn: TableChange.RenameColumn if rn.fieldNames().length == 2 =>
        t.renameNestedColumn(rn.fieldNames()(0), rn.fieldNames()(1), rn.newName())
      case del: TableChange.DeleteColumn if del.fieldNames().length == 1 =>
        t.dropColumn(del.fieldNames()(0))
      case del: TableChange.DeleteColumn if del.fieldNames().length == 2 =>
        t.dropNestedColumn(del.fieldNames()(0), del.fieldNames()(1))
      case ut: TableChange.UpdateColumnType =>
        require(ut.fieldNames().length == 1, "nested retype not supported")
        t.updateColumnType(ut.fieldNames()(0), ut.newDataType())
      case cc: TableChange.UpdateColumnComment =>
        require(cc.fieldNames().length == 1, "nested comment not supported")
        t.setColumnComment(cc.fieldNames()(0), Option(cc.newComment()))
      case mv: TableChange.UpdateColumnPosition =>
        require(mv.fieldNames().length == 1, "nested reorder not supported")
        t.moveColumn(mv.fieldNames()(0), mv.position() match {
          case _: TableChange.First => None
          case a: TableChange.After => Some(a.column())
        })
      case sp: TableChange.SetProperty =>
        t.setOption(sp.property(), sp.value())
      case rp: TableChange.RemoveProperty =>
        t.removeOptions(Seq(rp.property()))
      case other => throw new UnsupportedOperationException(s"alter: $other")
    }
    new GraftSparkTable(GraftTable.load(spark, tablePath(ident)))
  }

  override def dropTable(ident: Identifier): Boolean = {
    requirePriv("DROP_TABLE", ident.namespace().mkString("."), ident.name())
    // external tables: drop the catalog pointer, keep the data
    // (sql-ddl.md "Create External Table" drop semantics)
    fs.delete(new Path(rawTablePath(ident)), true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    // rename moves the catalog slot (pointer for external tables — their
    // data never moves; whole data dir for managed ones)
    fs.mkdirs(new Path(rawTablePath(newIdent)).getParent)
    if (!fs.rename(new Path(rawTablePath(oldIdent)), new Path(rawTablePath(newIdent))))
      throw new IllegalStateException(s"rename $oldIdent -> $newIdent failed")
  }

  /** Warehouse-wide metadata views. Driver-side listing: table COUNT is
    * metadata-scale even at 100 TB (file-level work stays in each table's
    * own system tables / distributed plane). */
  private def globalSystemTable(name: String): org.apache.spark.sql.DataFrame = {
    val ss = spark
    import ss.implicits._
    def allTables: Seq[(String, String, String)] =
      listNamespaces().toSeq.map(_.head).flatMap { db =>
        listTables(Array(db)).toSeq.map(id => (db, id.name(), tablePath(id)))
      }
    name match {
      case "all_tables" =>
        allTables.map { case (db, tbl, loc) =>
          val t = GraftTable.load(spark, loc)
          val snap = t.sm.latestSnapshot
          (db, tbl, loc, snap.map(_.id).getOrElse(0L),
            snap.map(_.totalRecords).getOrElse(0L),
            snap.flatMap(_.liveFilesLong).getOrElse(t.planFiles().size.toLong))
        }.toDF("database", "table_name", "path", "snapshot_id",
          "total_records", "live_files")
      case "all_table_options" =>
        allTables.flatMap { case (db, tbl, loc) =>
          val c = GraftTable.load(spark, loc).config
          (Map("primary-key" -> c.primaryKeys.mkString(","),
            "partition" -> c.partitionKeys.mkString(","),
            "bucket" -> c.numBuckets.toString,
            "merge-engine" -> c.mergeEngine) ++ c.options)
            .map { case (k, v) => (db, tbl, k, v) }
        }.toDF("database", "table_name", "key", "value")
      case "all_partitions" =>
        allTables.flatMap { case (db, tbl, loc) =>
          GraftTable.load(spark, loc).planFiles()
            .groupBy(_.partition).map { case (part, es) =>
              (db, tbl, part.map { case (k, v) => s"$k=$v" }.mkString("/"),
                es.size.toLong, es.map(_.rowCount).sum)
            }
        }.toDF("database", "table_name", "partition", "file_count", "row_count")
      case "catalog_options" =>
        // paimon CatalogOptionsTable: the catalog's own configuration
        catalogOptions.toSeq.map { case (k, v) => (k, v) }
          .toDF("key", "value")
      case other => throw new NoSuchTableException(Array("sys") :+ other)
    }
  }

  // ---- functions: the bucket transform (storage-partitioned joins) plus
  //      PERSISTED catalog lambda functions (CALL sys.create_function) ----
  override def listFunctions(namespace: Array[String]): Array[Identifier] = {
    val persisted =
      if (namespace.length == 1)
        GraftUserFunctions.list(spark, warehouse, namespace.head)
          .map(Identifier.of(namespace, _))
      else Nil
    (persisted :+ Identifier.of(namespace, "bucket")).toArray
  }
  override def loadFunction(ident: Identifier): functions.UnboundFunction =
    if (ident.name() == "bucket") GraftBucketFunction
    else if (ident.namespace().length == 1)
      GraftUserFunctions.load(spark, warehouse, ident.namespace().head, ident.name())
        .getOrElse(throw new NoSuchFunctionException(ident))
    else throw new NoSuchFunctionException(ident)

  private[dsv2] def warehousePath: String = warehouse

  // ---- views: persisted SQL views with per-engine dialects (paimon
  //      catalog views + alter_view_dialect; view defs are JSON files under
  //      <db>.db/_views/) ----
  private def viewPath(ident: Identifier): Path =
    new Path(dbPath(ident.namespace().mkString(".")),
      s"_views/${ident.name()}.json")

  private def readViewDef(ident: Identifier): Option[GraftViewDef] = {
    val p = viewPath(ident)
    if (!fs.exists(p)) None
    else Some(Json.read(readString(p), classOf[GraftViewDef]))
  }

  private def writeViewDef(ident: Identifier, d: GraftViewDef): Unit = {
    val p = viewPath(ident)
    fs.mkdirs(p.getParent)
    val out = fs.create(p, true)
    out.write(Json.write(d).getBytes("UTF-8")); out.close()
  }

  override def listViews(namespace: String*): Array[Identifier] = {
    val dir = new Path(dbPath(namespace.mkString(".")), "_views")
    if (!fs.exists(dir)) return Array.empty
    fs.listStatus(dir).toSeq.filter(_.getPath.getName.endsWith(".json"))
      .map(s => Identifier.of(namespace.toArray,
        s.getPath.getName.stripSuffix(".json"))).toArray
  }

  override def viewExists(ident: Identifier): Boolean = fs.exists(viewPath(ident))

  override def loadView(ident: Identifier): View = {
    val d = readViewDef(ident).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident))
    val id = ident
    new View {
      override def name(): String = id.toString
      // engine dialects live in properties as dialect.<engine>; the Spark
      // dialect (if registered via alter_view_dialect) overrides the
      // creation-time SQL, mirroring paimon's per-engine view dialects
      override def query(): String =
        d.properties.getOrElse("dialect.spark", d.sql)
      override def currentCatalog(): String = d.currentCatalog
      override def currentNamespace(): Array[String] = d.currentNamespace.toArray
      override def schema(): StructType =
        org.apache.spark.sql.types.DataType.fromJson(d.schemaJson)
          .asInstanceOf[StructType]
      override def queryColumnNames(): Array[String] = d.queryColumnNames.toArray
      override def columnAliases(): Array[String] = d.columnAliases.toArray
      override def columnComments(): Array[String] =
        d.columnComments.map(c => if (c == "") null else c).toArray
      override def properties(): util.Map[String, String] = d.properties.asJava
    }
  }

  override def createView(info: ViewInfo): View = {
    if (viewExists(info.ident()))
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(info.ident())
    if (!namespaceExists(info.ident().namespace()))
      throw new NoSuchNamespaceException(info.ident().namespace())
    writeViewDef(info.ident(), GraftViewDef(
      sql = info.sql(), currentCatalog = info.currentCatalog(),
      currentNamespace = info.currentNamespace().toSeq,
      schemaJson = info.schema().json,
      queryColumnNames = info.queryColumnNames().toSeq,
      columnAliases = info.columnAliases().toSeq,
      columnComments = info.columnComments().toSeq.map(c => if (c == null) "" else c),
      properties = info.properties().asScala.toMap))
    loadView(info.ident())
  }

  override def alterView(ident: Identifier, changes: ViewChange*): View = {
    val d = readViewDef(ident).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident))
    val props = changes.foldLeft(d.properties) { (m, ch) =>
      ch match {
        case s: ViewChange.SetProperty => m + (s.property() -> s.value())
        case r: ViewChange.RemoveProperty => m - r.property()
        case _ => m
      }
    }
    writeViewDef(ident, d.copy(properties = props))
    loadView(ident)
  }

  override def dropView(ident: Identifier): Boolean = fs.delete(viewPath(ident), false)

  override def renameView(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val d = readViewDef(oldIdent).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(oldIdent))
    if (viewExists(newIdent))
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(newIdent)
    writeViewDef(newIdent, d)
    fs.delete(viewPath(oldIdent), false)
  }
}

object GraftCatalog {
  /** Table-property map → [[TableConfig]] (shared by the catalog CREATE
    * TABLE path and the DataFrame-API create-on-write path —
    * `df.write.format("graft").option("primary-key", ...)`, reference
    * docs/spark/dataframe.md "Create Table"). Reserved writer/catalog keys
    * are stripped from the persisted option map. */
  /** Column-comment directives (reference docs/multimodal-table —
    * vector.mdx and blob.mdx "Creating a Table"): `__VECTOR_FIELD;{dim}`,
    * `__BLOB_FIELD`, `__BLOB_DESCRIPTOR_FIELD`, `__BLOB_VIEW_FIELD`. Each
    * registers its column in the matching table option (`vector-field` /
    * `blob-field` / `blob-descriptor-field` / `blob-view-field`; the vector
    * one also sets `fields.<col>.dimension`, arming the write-time dimension
    * check) and is stripped from the stored comment — the optional text
    * after the directive's `;` survives as the real comment. */
  private[dsv2] def applyVectorDirectives(
      schema: StructType): (StructType, Map[String, String]) = {
    val vectorRe = """^__VECTOR_FIELD;(\d+)\s*(?:;\s*(.*))?$""".r
    val blobRe = """^__(BLOB|BLOB_DESCRIPTOR|BLOB_VIEW)_FIELD\s*(?:;\s*(.*))?$""".r
    var props = Map.empty[String, String]
    var lists = Map.empty[String, List[String]] // option key -> cols (reversed)
    def register(key: String, colName: String): Unit =
      lists += key -> (colName :: lists.getOrElse(key, Nil))
    def keep(f: StructField, rest: String): StructField =
      Option(rest).map(_.trim).filter(_.nonEmpty) match {
        case Some(c) => f.withComment(c)
        case None => StructField(f.name, f.dataType, f.nullable)
      }
    val fields = schema.fields.map { f =>
      f.getComment() match {
        case Some(vectorRe(dim, rest)) =>
          f.dataType match {
            case org.apache.spark.sql.types.ArrayType(
                org.apache.spark.sql.types.FloatType |
                org.apache.spark.sql.types.DoubleType, _) => ()
            case other => throw new IllegalArgumentException(
              s"__VECTOR_FIELD directive on '${f.name}' requires ARRAY<FLOAT>" +
                s" or ARRAY<DOUBLE>, got ${other.simpleString}")
          }
          props += s"fields.${f.name}.dimension" -> dim
          register("vector-field", f.name)
          keep(f, rest)
        case Some(blobRe(kind, rest)) =>
          // collection storage (ARRAY<BLOB> / MAP<K, BLOB>) is raw managed
          // blob only — descriptor/view fields stay scalar (blob.mdx §6)
          import org.apache.spark.sql.types.{ArrayType, BinaryType, MapType}
          val okType = f.dataType match {
            case BinaryType => true
            case ArrayType(BinaryType, _) | MapType(_, BinaryType, _) =>
              kind == "BLOB"
            case _ => false
          }
          require(okType,
            s"__${kind}_FIELD directive on '${f.name}' requires BINARY" +
              (if (kind == "BLOB") ", ARRAY<BINARY> or MAP<K, BINARY>" else "") +
              s", got ${f.dataType.simpleString}")
          register(kind match {
            case "BLOB" => "blob-field"
            case "BLOB_DESCRIPTOR" => "blob-descriptor-field"
            case "BLOB_VIEW" => "blob-view-field"
          }, f.name)
          keep(f, rest)
        case _ => f
      }
    }
    if (lists.isEmpty) (schema, Map.empty)
    else (StructType(fields),
      props ++ lists.map { case (k, cols) => k -> cols.reverse.mkString(",") })
  }

  private[dsv2] def configFromProps(props: Map[String, String],
                                    partitionKeys: Seq[String]): TableConfig = {
    val fieldAggs = props.collect {
      case (k, v) if k.startsWith("fields.") && k.endsWith(".aggregate-function") =>
        k.stripPrefix("fields.").stripSuffix(".aggregate-function") -> v
    }
    TableConfig(
      primaryKeys = props.get("primary-key")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil),
      partitionKeys = partitionKeys,
      numBuckets = props.getOrElse("bucket", "4").toInt,
      mergeEngine = props.getOrElse("merge-engine", "deduplicate"),
      sequenceField = props.get("sequence.field"),
      fieldAggregates = fieldAggs,
      defaultAggregate = props.get("fields.default-aggregate-function"),
      options = props -- Seq("primary-key", "bucket", "merge-engine", "sequence.field",
        "path", "provider", "location", "owner"))
  }
}

/** External-table pointer (JSON `_external.json` inside the catalog slot):
  * the table's data lives at `location`; the slot holds only this file. */
case class GraftExternalDef(location: String)

/** Persisted view definition (JSON under `<db>.db/_views/<name>.json`). */
case class GraftViewDef(
    sql: String,
    currentCatalog: String,
    currentNamespace: Seq[String],
    schemaJson: String,
    queryColumnNames: Seq[String],
    columnAliases: Seq[String],
    columnComments: Seq[String],
    properties: Map[String, String])
