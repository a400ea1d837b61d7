package graft.dsv2

import graft.core._
import graft.core.RowOps._
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util
import scala.jdk.CollectionConverters._

/**
 * DataSource V2 integration: `spark.read.format("graft").load(path)`,
 * `df.write.format("graft")`, and the catalog path (see [[GraftCatalog]]).
 *
 * Architecture mirrors the reference connector's layering
 * (paimon-spark/.../SparkTable.scala:55, PaimonBaseScanBuilder.scala:61,
 * PaimonWriteBuilder V1 fallback): pushdown interfaces collect filters /
 * required columns / limit; file skipping happens against manifest stats;
 * execution delegates to the engine's DataFrame plans via the public
 * V1Scan/V1Write fallback, so merge-on-read, raw-path selection and commit
 * protocol are shared with the library API (one implementation, two
 * front-ends). Filters are kept post-scan — pushdown prunes files — except
 * a key-pinned read's, which the scans apply exactly (see
 * GraftScanBuilder.pushFilters).
 */
class GraftDataSource extends TableProvider with DataSourceRegister
    with StreamSinkProvider with CreatableRelationProvider {
  override def shortName(): String = "graft"

  /** V1 batch-write bridge (paimon SparkSource.scala:74 createRelation):
    * `df.write.format("graft").save(path)`. Spark routes ErrorIfExists /
    * Ignore saves here (the DSv2 TableProvider path only accepts Append /
    * Overwrite), which is exactly where the reference's DataFrame-API
    * "create table on first write" lives (docs/spark/dataframe.md): a fresh
    * path + `primary-key` / table options + `partitionBy(...)` creates the
    * table, then appends. Path-provider tables hide BATCH_WRITE (see
    * [[GraftSparkTable.capabilities]]), so DataFrameWriter routes the FULL
    * SaveMode matrix here for path saves: ErrorIfExists on an existing
    * table errors loudly below, Ignore is a silent no-op, Append/Overwrite
    * run the same engine write/overwrite the V2 writer's V1 fallback ran —
    * matching the reference's FileStoreTableFactory create-from-options
    * behavior and Spark's documented SaveMode semantics. */
  override def createRelation(sqlContext: SQLContext,
                              mode: org.apache.spark.sql.SaveMode,
                              parameters: Map[String, String],
                              data: DataFrame): BaseRelation = {
    import org.apache.spark.sql.SaveMode
    val spark = sqlContext.sparkSession
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft: 'path' option required"))
    // DataFrameWriter.partitionBy columns arrive JSON-encoded under this key
    // (Spark DataSourceUtils.PARTITIONING_COLUMNS_KEY)
    val partCols: Seq[String] = parameters.get("__partition_columns")
      .map(s => Json.read(s, classOf[Array[String]]).toSeq).getOrElse(Nil)
    val exists = GraftTable.exists(spark, path)
    val skip = mode match {
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalStateException(
          s"graft: table exists at $path (SaveMode.ErrorIfExists); " +
            "use mode(\"append\") or mode(\"overwrite\")")
      case SaveMode.Ignore if exists => true
      case _ => false
    }
    if (!skip) {
      val t =
        if (exists) GraftTable.load(spark, path)
        else GraftTable.create(spark, path, data.schema,
          GraftCatalog.configFromProps(parameters - "__partition_columns", partCols))
      mode match {
        case SaveMode.Overwrite if exists =>
          val dynamic = spark.conf
            .get("spark.sql.sources.partitionOverwriteMode", "static")
            .equalsIgnoreCase("dynamic")
          t.overwrite(data, dynamic = dynamic)
        case _ => t.write(data)
      }
    }
    val schema0 = GraftTable.load(spark, path).schema.sparkSchema
    val ctx = sqlContext
    new BaseRelation {
      override def sqlContext: SQLContext = ctx
      override def schema: StructType = schema0
    }
  }

  /** V1 streaming-sink bridge (paimon SparkSource.scala:85 createSink):
    * `writeStream.format("graft")` — the DSv2 table does not declare
    * STREAMING_WRITE, so Spark falls back here and each micro-batch flows
    * through the engine's batch write/commit with an idempotent identifier. */
  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft: 'path' option required"))
    val t = GraftTable.load(sqlContext.sparkSession, path)
    val prefix = GraftSink.prefixFor(parameters.get("checkpointLocation"), path)
    new GraftSink(sqlContext, t, outputMode, prefix)
  }

  private def loadTable(options: CaseInsensitiveStringMap): GraftTable =
    GraftDataSource.resolveTable(SparkSession.active, options.asScala.toMap)

  /** Path-only resolution with no `catalog` routing and the table absent:
    * the signal that a DataFrameWriter save is about to CREATE the table
    * (`getTable` then hands back a capability-less placeholder so Spark
    * falls through to the V1 createRelation path above). */
  private def missingAtPath(opts: Map[String, String]): Option[String] = {
    val ci = opts.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
    ci.get("path").filter(p =>
      !ci.contains("catalog") && !GraftTable.exists(SparkSession.active, p))
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    if (missingAtPath(options.asScala.toMap).isDefined) return new StructType()
    val t = loadTable(options)
    if (options.getBoolean("read-binlog", false))
      GraftBinlog.schema(t.schema.sparkSchema, t.config.primaryKeys)
    else t.schema.sparkSchema
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    GraftDataSource.registerRules(SparkSession.active)
    val props = properties.asScala.toMap
    missingAtPath(props) match {
      case Some(path) => return new Table {
        override def name(): String = s"nonexistent graft table at $path"
        override def schema(): StructType = new StructType()
        override def capabilities(): util.Set[TableCapability] =
          util.Collections.emptySet()
      }
      case None => ()
    }
    val t = GraftDataSource.resolveTable(SparkSession.active, props)
    // read-binlog=true: the path-based spelling of `t$binlog` (batch packed
    // last commit + per-snapshot packed changelog streaming)
    if (props.get("read-binlog").contains("true"))
      new GraftBinlogTable(t, props)
    else {
      val ci = props.keySet.map(_.toLowerCase(java.util.Locale.ROOT))
      // catalog-routed loads keep V2 writes; pure path loads take the V1
      // save bridge (full SaveMode matrix incl. Ignore — see capabilities)
      new GraftSparkTable(t, readOptions = props,
        v1PathWrites = !ci.contains("catalog"))
    }
  }

  override def supportsExternalMetadata(): Boolean = false
}

object GraftDataSource {
  private def registerRules(spark: SparkSession): Unit = {
    GraftMapShredRule.register(spark)
    GraftVariantPrune.register(spark)
    GraftLocalScanStrategy.register(spark)
  }

  /** `t` at `snapshotId` as a connector relation whose scan builder serves
    * `plan` — the library read's own [[ReadPlan]], made for a filter the
    * caller applies on top — instead of planning again. Blob columns read
    * in their stored form (the library read resolves them above). */
  private[graft] def planned(t: GraftTable, snapshotId: Option[Long], plan: ReadPlan): DataFrame = {
    registerRules(t.spark)
    org.apache.spark.sql.graft.SparkShims.ofRows(t.spark,
      org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation.create(
        new GraftSparkTable(t, snapshotId, GraftTable.STORED_READ_OPTS, plan = Some(plan)),
        None, None))
  }

  /** Reference `SparkSource.loadTable` routing (SparkSource.scala:99 in the
    * paimon spark connector; docs/spark/dataframe.md "Query"): when the
    * `catalog` option names a registered catalog, resolve through it —
    * keeping that catalog's privilege checks and session option overrides —
    * with `database`/`table` options defaulting from the path's
    * `<db>.db/<table>` layout. Without `catalog`, load directly by path. */
  private[dsv2] def resolveTable(spark: SparkSession,
                                 opts: Map[String, String]): GraftTable = {
    val ci = opts.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
    def path: Option[String] = ci.get("path")
    ci.get("catalog") match {
      case Some(cat) =>
        val db = ci.get("database").orElse(path.map(p =>
          new org.apache.hadoop.fs.Path(p).getParent.getName.stripSuffix(".db")))
          .getOrElse(throw new IllegalArgumentException(
            "graft: 'database' option (or a path) required with 'catalog'"))
        val tbl = ci.get("table").orElse(path.map(p =>
          new org.apache.hadoop.fs.Path(p).getName))
          .getOrElse(throw new IllegalArgumentException(
            "graft: 'table' option (or a path) required with 'catalog'"))
        spark.sessionState.catalogManager.catalog(cat) match {
          case tc: TableCatalog =>
            tc.loadTable(Identifier.of(Array(db), tbl)) match {
              case g: GraftSparkTable => g.t
              case other => throw new IllegalArgumentException(
                s"graft: $cat.$db.$tbl is not a graft table (${other.getClass.getName})")
            }
          case other => throw new IllegalArgumentException(
            s"graft: catalog '$cat' is not a table catalog (${other.getClass.getName})")
        }
      case None =>
        GraftTable.load(spark, path.getOrElse(throw new IllegalArgumentException(
          "graft: 'path' option required")))
    }
  }
}

/** DSv2 Table over a graft table (optionally pinned to a snapshot for
  * VERSION/TIMESTAMP AS OF — cf. paimon SparkCatalog.loadTable(ident,version),
  * paimon-spark/.../SparkCatalog.java:315). */
class GraftSparkTable(val t: GraftTable, val snapshotId: Option[Long] = None,
                      val readOptions: Map[String, String] = Map.empty,
                      val writable: Boolean = true,
                      val v1PathWrites: Boolean = false,
                      plan: Option[ReadPlan] = None)
    extends Table with SupportsRead with SupportsWrite
    with SupportsMetadataColumns with GraftPartitionManagement {

  /** `SELECT __graft_file_path, __graft_bucket, ... FROM t` (paimon
    * SupportsMetadataColumns, PaimonSparkTableBase.scala:119). Offered only
    * where per-row file identity survives the read (append tables;
    * deduplicate/first-row PK engines) on parquet data files. */
  override def metadataColumns(): Array[MetadataColumn] = {
    val supported = t.fileFormat == "parquet" &&
      (!t.isPk || Set("deduplicate", "first-row").contains(t.config.mergeEngine))
    if (!supported || readChangelog) return Array.empty
    val partType = StructType(t.config.partitionKeys.flatMap(k =>
      t.schema.sparkSchema.fields.find(_.name == k)))
    def mc(n: String, dt: org.apache.spark.sql.types.DataType): MetadataColumn =
      new MetadataColumn {
        override def name(): String = n
        override def dataType(): org.apache.spark.sql.types.DataType = dt
        override def isNullable: Boolean = true
      }
    Array(
      mc(GraftTable.FILE_PATH_COL, org.apache.spark.sql.types.StringType),
      mc(GraftTable.ROW_INDEX_COL, org.apache.spark.sql.types.LongType),
      mc(GraftTable.PARTITION_COL, partType),
      mc(GraftTable.BUCKET_COL, org.apache.spark.sql.types.IntegerType))
  }

  private[dsv2] def readChangelog: Boolean =
    readOptions.get("read-changelog").contains("true")

  override def name(): String = t.location
  override def schema(): StructType =
    if (readChangelog)
      StructType(t.schema.sparkSchema.fields :+
        org.apache.spark.sql.types.StructField("_row_kind",
          org.apache.spark.sql.types.StringType, false))
    else t.schema.sparkSchema
  override def capabilities(): util.Set[TableCapability] = {
    // OVERWRITE_DYNAMIC passes analysis; execution is rerouted by
    // GraftRowLevelSql to GraftTable.overwrite(dynamic = true) because
    // Spark's OverwritePartitionsDynamicExec has no V1 fallback.
    val base = Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC,
      TableCapability.MICRO_BATCH_READ)
    // path-provider loads (df.write.format("graft").save(path)) hide the
    // batch-write capability: DataFrameWriter then routes EVERY SaveMode
    // through the V1 createRelation bridge, which implements the full
    // matrix — including SaveMode.Ignore as a silent no-op on an existing
    // table, which the V2 writer path would refuse with
    // UNSUPPORTED_DATA_SOURCE_SAVE_MODE before any fallback could run.
    // Execution is identical either way (the V2 write was a V1_BATCH_WRITE
    // fallback into the same engine calls).
    val caps = if (v1PathWrites)
      base - TableCapability.BATCH_WRITE - TableCapability.V1_BATCH_WRITE
    else base
    // write.merge-schema: let mismatched batches through Spark's analyzer —
    // GraftWriteBuilder aligns positionally-shaped inputs and GraftTable
    // evolves the schema (paimon gates ACCEPT_ANY_SCHEMA the same way)
    (if (t.config.option("write.merge-schema", "false") == "true")
      caps + TableCapability.ACCEPT_ANY_SCHEMA else caps).asJava
  }

  override def properties(): util.Map[String, String] = {
    val c = t.config
    (Map("primary-key" -> c.primaryKeys.mkString(","),
      "partition" -> c.partitionKeys.mkString(","),
      "bucket" -> c.numBuckets.toString,
      "merge-engine" -> c.mergeEngine,
      "path" -> t.location) ++
      c.sequenceField.map("sequence.field" -> _) ++ c.options).asJava
  }

  override def partitioning(): Array[Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    t.config.partitionKeys.map(Expressions.identity).toArray
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = readOptions ++ options.asScala
    // batch time travel as read options (paimon scan.snapshot-id /
    // scan.tag-name / scan.timestamp-millis; catalog VERSION AS OF wins).
    // Streaming scans ignore the pinned id — scan.mode drives their start.
    val optSnap: Option[Long] =
      if (merged.contains("scan.mode")) None
      else merged.get("scan.snapshot-id").map(_.toLong)
        .orElse(merged.get("scan.tag-name").map(n => t.sm.readTag(n).snapshotId))
        .orElse(merged.get("scan.timestamp-millis").map { m =>
          val ts = m.toLong
          val ids = t.sm.snapshotIds.filter(id => t.sm.readSnapshot(id).timestampMs <= ts)
          require(ids.nonEmpty, s"no snapshot committed at or before $ts")
          ids.max
        })
        // scan.version: VERSION AS OF string — tag wins over a same-named
        // snapshot id (CoreOptions.java:1243)
        .orElse(merged.get("scan.version").map { v =>
          if (t.sm.listTags().exists(_.name == v)) t.sm.readTag(v).snapshotId
          else v.toLong
        })
        // scan.watermark: earliest snapshot whose watermark >= the value
        .orElse(merged.get("scan.watermark")
          .map(w => t.sm.laterOrEqualWatermark(w.toLong)))
    val pinned = snapshotId.orElse(optSnap)
    // a batch read plans every file, vector and count against ONE snapshot,
    // resolved here: a commit landing between two planning calls must not
    // pair one snapshot's files with another's deletion vectors
    val batchRead = !GraftScanBuilder.NonBatchOptions.exists(merged.contains)
    new GraftScanBuilder(t, pinned, merged,
      if (pinned.isEmpty && batchRead) t.sm.latestSnapshotId else pinned, plan)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    if (!writable)
      throw new SecurityException(
        s"user lacks INSERT on ${t.location} (SELECT-only grant)")
    new GraftWriteBuilder(t)
  }
}

/** Pushdown collection: filters (for manifest pruning), column pruning,
  * limit. Filters remain post-scan (Spark re-evaluates) — except those of a
  * key-pinned read, which every scan built here applies exactly (see
  * [[pushFilters]]). `snapshotId` = the snapshot the user pinned (time
  * travel); `planSnapshot` = the one native scans plan against (the pinned
  * one, else the latest, resolved once by the table); `planned` = a plan
  * the library read made for that snapshot. */
class GraftScanBuilder(t: GraftTable, snapshotId: Option[Long],
                       readOptions: Map[String, String] = Map.empty,
                       planSnapshot: Option[Long] = None,
                       planned: Option[ReadPlan] = None)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownLimit
    with SupportsPushDownTopN with SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownVariantExtractions {

  private val planSnap = planSnapshot.orElse(snapshotId)
  private var pushed: Array[Filter] = Array.empty
  // the read plan for the pushed filters, made once: Spark pushes filters
  // before it offers an aggregate or builds, and both see this plan
  private lazy val plan: ReadPlan = planned.getOrElse(t.readPlan(planSnap,
    pushed.flatMap(GraftScanBuilder.toColumn).reduceOption(_ && _), batch = true))
  // the pushed filters when this builder claimed them (a key-pinned read)
  private var exact: Option[ExactFilter] = None
  private var required: Option[StructType] = None
  private var limit: Option[Int] = None
  private var topN: Option[(org.apache.spark.sql.connector.expressions.SortOrder, Int)] = None
  // variant column -> (struct field per offered extraction, serving physical column)
  private var pushedVariantCols: Map[String, Seq[(org.apache.spark.sql.types.StructField, String)]] = Map.empty
  // latch: once any variant offer is rejected, every later (fallback) offer
  // in this scan build must be rejected too — see pushVariantExtractions
  private var variantOfferRejected = false

  /** SQL `variant_get` pushdown onto the SHREDDED physical columns
    * (Spark 4.1 SupportsPushDownVariantExtractions; the reference's
    * capability, paimon-spark PaimonSupportsPushDownVariantExtractions /
    * VariantPushDownUtils.scala:36). Protocol: after acceptance the rule
    * retypes the variant attribute as a struct whose field `i` carries the
    * i-th OFFERED extraction (names "0","1",…, VariantMetadata in field
    * metadata) and rewrites `variant_get` to `GetStructField`; the built
    * scan's readSchema must carry that struct and serve its fields.
    * Acceptance is all-or-nothing across the WHOLE offer — Spark's rewrite
    * map covers every requested field of every variant column, and a
    * partially-accepted offer leaves it desynchronized, so one unservable
    * extraction anywhere rejects the batch and the query answers through
    * the decode path. Rejection LATCHES for the rest of this scan build:
    * after a rejection Spark retries with a NARROWER offer — the `$` root
    * plus only the fields used in FILTERS (observed protocol; VariantSqlSpec
    * "unshredded path falls back to decode" runs it) — and accepting that
    * subset crashes VariantInRelation.rewriteExpr with "key not found" when
    * the PROJECT list still holds an extraction outside the offer (the fuzz case
    * `SELECT g($.a), g($.c) WHERE g($.a) > 5` with only $.a shredded: the
    * fallback offer is [$, $.a], and Spark never routes the $.c rewrite
    * through the accepted root field). Each extraction must match a
    * declared shred spec (path + type); a `$` root request is served as the
    * variant binary itself (a projection, not a decode), but a `$`-only
    * offer has nothing to push and is rejected. */
  override def pushVariantExtractions(
      extractions: Array[org.apache.spark.sql.connector.read.VariantExtraction])
      : Array[Boolean] = {
    import org.apache.spark.sql.execution.datasources.VariantMetadata
    def reject: Array[Boolean] = {
      variantOfferRejected = true
      Array.fill(extractions.length)(false)
    }
    // a claimed point-read filter runs in the native scans' readers, which
    // the struct-serving variant scans are not
    if (variantOfferRejected || exact.isDefined) return reject
    // non-plain-batch reads route to scans that cannot carry the struct
    if (GraftScanBuilder.NonBatchOptions.exists(readOptions.contains)) return reject
    val specs = t.shredSpecs
    val byCol = extractions.zipWithIndex.groupBy(_._1.columnName().toSeq).toSeq
    val perCol = byCol.map {
      case (Seq(c), exts) if specs.contains(c) =>
        val colSpecs = specs(c)
        val serves: Array[Option[String]] = exts.map { case (e, _) =>
          val vm = VariantMetadata.fromMetadata(e.metadata())
          if (vm.path == "$" &&
              e.expectedDataType() == org.apache.spark.sql.types.VariantType)
            Some(c)
          else colSpecs.zipWithIndex.collectFirst {
            case ((p, tp), i) if p == vm.path &&
                org.apache.spark.sql.catalyst.parser.CatalystSqlParser
                  .parseDataType(tp) == e.expectedDataType() =>
              GraftTable.shredColName(c, i)
          }
        }
        val hasTyped = exts.exists { case (e, _) =>
          VariantMetadata.fromMetadata(e.metadata()).path != "$" }
        if (hasTyped && serves.forall(_.isDefined))
          Some(c -> exts.zip(serves).zipWithIndex.map {
            case (((e, _), src), ord) =>
              (org.apache.spark.sql.types.StructField(ord.toString,
                e.expectedDataType(), true, e.metadata()), src.get)
          }.toSeq)
        else None
      case _ => None
    }
    if (perCol.exists(_.isEmpty)) return reject // one unservable column → no pushdown
    pushedVariantCols = perCol.flatten.toMap
    Array.fill(extractions.length)(true)
  }

  /** Pushdown prunes files; Spark keeps correctness by re-applying every
    * filter post-scan. A plain batch read whose convertible filters pin
    * every primary-key column by `=`/`IN` is the exception: those filters
    * are claimed (not returned), so no `Filter` runs above the scan and a
    * read served in the driver ([[GraftLocalScan]]) needs no job. Every
    * scan [[build]] can then return applies them exactly: the native scans
    * in their readers, the V1 scans through `GraftTable.read`. Variant
    * scans reject offers after a claim, and a read whose variant offer was
    * accepted first does not claim; incremental, changelog and streaming
    * reads never claim. A filter on a blob column whose read resolves its
    * bytes is not claimed either (the stored bytes differ from the read
    * ones). Non-convertible filters stay residual. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(GraftScanBuilder.convertible)
    val claim = t.isPk && pushedVariantCols.isEmpty &&
      !GraftScanBuilder.NonBatchOptions.exists(readOptions.contains) &&
      ExactFilter.keyGroups(pushed, t.config.primaryKeys).isDefined &&
      ExactFilter.expression(pushed, t.dataSchema).isDefined && {
        val blob = t.blobReadTransformCols(readOptions)
        !ExactFilter(pushed).references.exists(blob)
      }
    exact = if (claim) Some(ExactFilter(pushed)) else None
    if (claim) filters.filterNot(GraftScanBuilder.convertible) else filters
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = Some(requiredSchema)

  /** LIMIT n planning early-out: the scan keeps only enough FILES to cover
    * n rows (manifest row counts); Spark still applies the exact limit.
    * Partial pushdown → correctness never depends on it. */
  override def pushLimit(l: Int): Boolean = { limit = Some(l); false }
  override def isPartiallyPushed: Boolean = true

  /** ORDER BY col LIMIT k file pruning: files are ranked by how far their
    * min/max reaches in the sort direction; only the files that can
    * contribute to the top-k survive (paimon PaimonScanBuilder.pushTopN).
    * Partial → Spark re-sorts the survivors. */
  override def pushTopN(orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
                        l: Int): Boolean = {
    // top-N file pruning assumes every row of a file qualifies; with
    // claimed filters and no post-scan Filter that no longer holds
    if (orders.length != 1 || exact.isDefined) return false
    val o = orders.head
    o.expression() match {
      case nr: org.apache.spark.sql.connector.expressions.NamedReference
          if nr.fieldNames().length == 1 =>
        topN = Some((o, l))
        true
      case _ => false
    }
  }

  // ---- aggregate pushdown: COUNT(*) / MIN / MAX answered from manifest
  //      stats, zero data files read (paimon PaimonScanBuilder.pushAggregation
  //      + AggregatePushDownUtils; round-1 had only the library-API variant) ----
  private var aggScan: Option[GraftAggScan] = None

  import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min}
  import org.apache.spark.sql.connector.expressions.NamedReference

  private def aggField(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    e match {
      case nr: NamedReference if nr.fieldNames().length == 1 => Some(nr.fieldNames()(0))
      case _ => None
    }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    buildAggScan(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean = {
    aggScan = buildAggScan(agg)
    aggScan.isDefined
  }

  private def buildAggScan(agg: Aggregation): Option[GraftAggScan] = {
    if (pushed.nonEmpty || topN.nonEmpty || limit.nonEmpty) return None
    val schema = t.schema.sparkSchema
    // GROUP BY restricted to partition columns: each group is a set of whole
    // files, so manifest stats answer it exactly (paimon
    // AggregatePushDownUtils partition-grouped count/min/max)
    val groupCols: Seq[String] = agg.groupByExpressions().toSeq.map {
      case nr: NamedReference if nr.fieldNames().length == 1 => nr.fieldNames()(0)
      case _ => return None
    }
    if (!groupCols.forall(t.config.partitionKeys.contains)) return None
    // partition values travel as strings; statValue must round-trip the type
    if (!groupCols.forall(c => schema.fields.find(_.name == c).exists(f =>
        GraftBatchScan.partitionValueTypes(f.dataType)))) return None
    // manifest row counts are exact only for final, vector-free files
    val allEntries = plan match {
      case ReadPlan.Raw(entries, skips) if skips.isEmpty => entries
      case _ => return None
    }

    def fold(entries: Seq[ManifestEntry], name: String, wantMax: Boolean): Option[Any] = {
      val dt = schema.fields.find(_.name == name).map(_.dataType).getOrElse(return None)
      if (!org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(dt))
        return None
      StatsPrune.manifestExtreme(entries, name, dt, wantMax)
        .map(_.map(GraftBatchScan.statValue(dt, _)).orNull)
    }

    def aggRow(entries: Seq[ManifestEntry])
        : Option[Seq[(String, org.apache.spark.sql.types.DataType, Any)]] = {
      val out = agg.aggregateExpressions().toSeq.map {
        case _: CountStar => Some(("count(*)",
          org.apache.spark.sql.types.LongType: org.apache.spark.sql.types.DataType,
          entries.map(_.rowCount).sum: Any))
        case m: Min => aggField(m.column()).flatMap { f =>
          val dt = schema.fields.find(_.name == f).map(_.dataType).getOrElse(return None)
          fold(entries, f, wantMax = false).map(v => (s"min($f)", dt, v))
        }
        case m: Max => aggField(m.column()).flatMap { f =>
          val dt = schema.fields.find(_.name == f).map(_.dataType).getOrElse(return None)
          fold(entries, f, wantMax = true).map(v => (s"max($f)", dt, v))
        }
        case _ => None
      }
      if (out.exists(_.isEmpty)) None else Some(out.map(_.get))
    }

    if (groupCols.isEmpty) {
      val cols = aggRow(allEntries).getOrElse(return None)
      val outSchema = StructType(cols.map { case (n, dt, _) =>
        org.apache.spark.sql.types.StructField(n, dt) })
      Some(new GraftAggScan(outSchema, Array(cols.map(_._3).toArray)))
    } else {
      val groupTypes = groupCols.map(c => schema.fields.find(_.name == c).get.dataType)
      val groups = allEntries.groupBy(e => groupCols.map(c => e.partition.getOrElse(c, null)))
      val rows = groups.toSeq.map { case (gv, es) =>
        val keyVals = gv.zip(groupTypes).map { case (raw, dt) =>
          if (raw == null) null else GraftBatchScan.statValue(dt, raw)
        }
        aggRow(es).map(cols => (keyVals ++ cols.map(_._3)).toArray[Any])
          .getOrElse(return None)
      }
      // schema: group columns first, then aggregates (Spark's complete-
      // pushdown row contract)
      val aggCols = aggRow(allEntries).getOrElse(return None)
      val outSchema = StructType(
        groupCols.zip(groupTypes).map { case (c, dt) =>
          org.apache.spark.sql.types.StructField(c, dt) } ++
        aggCols.map { case (n, dt, _) =>
          org.apache.spark.sql.types.StructField(n, dt) })
      Some(new GraftAggScan(outSchema, rows.toArray))
    }
  }

  override def build(): Scan = {
    if (aggScan.isDefined) return aggScan.get
    // incremental reads as read options (the DSv2 spelling of the
    // incremental TVFs / paimon incremental-between family,
    // AbstractDataTableScan.createIncrementalStartingScanner):
    //  - incremental-between = "from,to" (snapshot ids or tag names)
    //  - incremental-between-timestamp = "t1,t2" (epoch millis or
    //    'yyyy-MM-dd HH:mm:ss[.SSS]', session-UTC)
    //  - incremental-to-auto-tag = "<tag>" (diff vs the previous auto tag)
    //  - incremental-between-scan-mode = auto|delta|changelog|diff picks the
    //    read shape; AUTO = delta for snapshot-id endpoints, diff for tag
    //    endpoints (unless incremental-between-tag-to-snapshot=true).
    val scanMode = readOptions.getOrElse("incremental-between-scan-mode", "auto")
    require(Set("auto", "delta", "changelog", "diff").contains(scanMode),
      s"unknown incremental-between-scan-mode $scanMode")
    readOptions.get("incremental-between").foreach { r =>
      val parts = r.split(",").map(_.trim)
      require(parts.length == 2, "incremental-between expects 'from,to'")
      def isId(s: String) = s.forall(_.isDigit) && s.nonEmpty
      val bothTags = !isId(parts(0)) && !isId(parts(1))
      def snap(s: String): Long =
        if (isId(s)) s.toLong else t.sm.readTag(s).snapshotId
      val (from, to) = (snap(parts(0)), snap(parts(1)))
      require(to >= from, s"incremental-between end $to must be >= start $from")
      val tagAsSnapshot =
        readOptions.get("incremental-between-tag-to-snapshot").contains("true")
      val mode =
        if (scanMode != "auto") scanMode
        else if (bothTags && !tagAsSnapshot) "diff"
        else "delta"
      return new GraftIncrementalScan(t, from, to, required, mode)
    }
    readOptions.get("incremental-between-timestamp").foreach { r =>
      val parts = r.split(",").map(_.trim)
      require(parts.length == 2, "incremental-between-timestamp expects 't1,t2'")
      def millis(s: String): Long =
        try s.toLong
        catch { case _: NumberFormatException =>
          java.time.LocalDateTime
            .parse(s.replace(' ', 'T'))
            .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
        }
      val (ts1, ts2) = (millis(parts(0)), millis(parts(1)))
      require(ts2 >= ts1, s"ending timestamp $ts2 must be >= starting $ts1")
      val earliest = t.sm.snapshotIds.minOption
      val from = t.snapshotAtOrBeforeTime(ts1).orElse(earliest)
      val to = t.snapshotAtOrBeforeTime(ts2).orElse(t.sm.latestSnapshotId)
      (from, to) match {
        case (Some(f), Some(e)) if e > f =>
          return new GraftIncrementalScan(t, f, e, required,
            if (scanMode == "auto") "delta" else scanMode)
        case _ => return new GraftIncrementalScan(t, 0L, 0L, required, "delta")
      }
    }
    readOptions.get("incremental-to-auto-tag").foreach { end =>
      // diff between the named auto tag and the auto tag just before it
      // (paimon IncrementalDiffStartingScanner.toEndAutoTag); missing end
      // tag or no earlier auto tag => empty result
      val tags = t.sm.listTags()
      require(end.matches("\\d{4}-\\d{2}-\\d{2}( \\d{2})?"),
        s"'$end' is not an auto-created period tag")
      val endTag = tags.find(_.name == end)
      // auto period tags are zero-padded dates ('yyyy-MM-dd[ HH]'), so
      // lexicographic name order IS time order
      val prev = endTag.flatMap { e =>
        tags.filter(tm => tm.name < e.name &&
            tm.name.matches("\\d{4}-\\d{2}-\\d{2}( \\d{2})?"))
          .sortBy(_.name).lastOption
      }
      return (endTag, prev) match {
        case (Some(e), Some(p)) =>
          new GraftIncrementalScan(t, p.snapshotId, e.snapshotId, required, "diff")
        case _ => new GraftIncrementalScan(t, 0L, 0L, required, "delta")
      }
    }
    // changelog streams keep the V1 scan shell (only toMicroBatchStream is
    // exercised; the batch path of a changelog scan is unsupported)
    if (readOptions.get("read-changelog").contains("true"))
      return new GraftV1Scan(t, snapshotId, pushed, required, limit, readOptions)
    // accepted variant-extraction pushdown: the scan must retype each pushed
    // variant column as the rule's struct and serve its fields from the
    // shredded physical columns (no variant decode anywhere in the plan).
    // Raw-convertible parquet plans stay NATIVE COLUMNAR — the struct is a
    // zero-copy vector view over the decoded shred columns; merge-needing
    // PK tables and non-parquet formats use the V1 scan's merged view.
    if (pushedVariantCols.nonEmpty) {
      if (t.fileFormat == "parquet") plan match {
        case ReadPlan.Raw(entries, skips) =>
          return new GraftVariantBatchScan(t, entries, pushed,
            pushedVariantCols, readOptions, skips)
        case _ =>
      }
      return new GraftVariantScan(t, snapshotId, pushed, pushedVariantCols)
    }
    // requested metadata columns (__graft_file_path & co) are served by the
    // library's readWithMetadata plan — they ride the file-source relation,
    // which the native columnar scan's raw splits do not expose
    if (required.exists(_.fieldNames.exists(GraftTable.METADATA_COLS.contains)))
      return new GraftV1Scan(t, snapshotId, pushed, required, limit, readOptions,
        withMeta = true)
    // declared blob / blob-view columns whose read output differs from the
    // stored bytes (descriptor resolution, upstream view join) serve through
    // the DataFrame plan; projections NOT touching them stay native columnar
    val blobTransform = t.blobReadTransformCols(readOptions)
    if (blobTransform.nonEmpty &&
        required.map(_.fieldNames.exists(blobTransform)).getOrElse(true))
      return new GraftV1Scan(t, snapshotId, pushed, required, limit, readOptions)
    // non-parquet data formats (file.format = orc/csv/json) read through the
    // V1 DataFrame plan — the native scan wraps Spark's parquet factory
    if (t.fileFormat != "parquet")
      return new GraftV1Scan(t, snapshotId, pushed, required, limit, readOptions)
    plan match {
      case ReadPlan.Raw(entries0, skips) =>
        // native columnar scan when no merge work is needed (the common
        // case after compaction); deletion vectors and file-index row
        // selections apply inside its reader factory
        var entries = entries0
        // file-truncation pruning trusts manifest row counts, which OVERCOUNT
        // rows of files with skips — a LIMIT/TopN could come up short. Both
        // prunes stay off while any are outstanding.
        if (skips.isEmpty) {
          topN.foreach { case (o, k) =>
            entries = GraftScanBuilder.topNPrune(entries, t.schema.sparkSchema, o, k)
          }
          // bare LIMIT (Spark only pushes it with no residual operators):
          // keep just enough files to cover the limit
          if (topN.isEmpty && pushed.isEmpty) limit.foreach { l =>
            var cum = 0L
            entries = entries.takeWhile { e =>
              val need = cum < l; cum += e.rowCount; need
            }
          }
        }
        val scan = new GraftBatchScan(t, entries, pushed, required, readOptions, skips, exact)
        scan.planSkippedFiles = t.liveFileCount(planSnap) - entries.size
        localIfSmall(scan)
      case ReadPlan.InScan(entries, dv) =>
        // merge-in-scan for deduplicate/first-row PK tables: one task per
        // (partition, bucket) key group, zero exchanges (GraftMorScan)
        localIfSmall(new GraftMorScan(t, entries, pushed, required, dv, readOptions, exact))
      case p: ReadPlan.Relational =>
        new GraftV1Scan(t, snapshotId, pushed, required, limit, readOptions,
          relational = Some(p))
    }
  }

  /** A key-pinned read of at most [[ExactFilter.MaxLocalKeyGroups]] keys
    * that the native scan serves in one task (or none) runs in the driver
    * instead: no job. */
  private def localIfSmall(native: Scan with Batch): Scan =
    exact.flatMap(_ => ExactFilter.keyGroups(pushed, t.config.primaryKeys))
      .filter(k => k <= ExactFilter.MaxLocalKeyGroups &&
        native.planInputPartitions().length <= 1) match {
      case Some(k) => new GraftLocalScan(native, k)
      case None => native
    }
}

object GraftScanBuilder {
  /** Read options of incremental, changelog and streaming reads: these
    * never claim filters, and their snapshot is theirs to resolve. */
  private[dsv2] val NonBatchOptions = Seq("scan.mode", "incremental-between",
    "incremental-between-timestamp", "incremental-to-auto-tag", "read-changelog")

  /** The columns of `required` with their whole stored types: a scan that
    * reads through a DataFrame selects top-level columns only, so a struct
    * Spark pruned to some fields is read whole and Spark extracts the
    * fields above the scan. Metadata columns keep the asked type. */
  private[dsv2] def wholeColumns(t: GraftTable, required: Option[StructType]): StructType = {
    val all = t.schema.sparkSchema
    required.fold(all)(rs => StructType(rs.fields.map(f =>
      all.find(_.name == f.name).getOrElse(f))))
  }

  import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection, SortOrder => V2SortOrder}

  /**
   * ORDER BY col LIMIT k file pruning from manifest stats: sort candidate
   * files by how deep they reach in the sort direction, find the value
   * boundary once k non-null rows are guaranteed, and drop files that
   * cannot cross it. Exact-safe: dropped files provably contain no top-k
   * row; Spark re-sorts the survivors.
   */
  def topNPrune(entries: Seq[ManifestEntry], schema: StructType,
                order: V2SortOrder, k: Int): Seq[ManifestEntry] = {
    val colName = order.expression().asInstanceOf[NamedReference].fieldNames()(0)
    val dt = schema.fields.find(_.name == colName).map(_.dataType).getOrElse(return entries)
    val desc = order.direction() == SortDirection.DESCENDING
    def stat(e: ManifestEntry) = e.stats.get(colName)
    // nullCount must be KNOWN (>= 0): the boundary walk counts
    // rowCount - nullCount guaranteed rows per file, so an uncollected
    // count (stats-mode none, -1) would overcount and prune wrongly.
    // Truncated (inexact) bounds are fine — they are still bounds, the
    // walk only gets less selective.
    val (withStats, noStats) = entries.partition(e =>
      stat(e).exists(s => s.min != null && s.max != null && s.nullCount >= 0))
    if (withStats.isEmpty) return entries
    // rank files by their BEST value in the sort direction
    val ranked = withStats.sortWith { (a, b) =>
      val (sa, sb) = (stat(a).get, stat(b).get)
      if (desc) StatsPrune.compare(dt, sa.max, sb.max) > 0
      else StatsPrune.compare(dt, sa.min, sb.min) < 0
    }
    // walk until k non-null rows are guaranteed; every row in the prefix is
    // at least as good as the WORST bound across all prefix files (min of
    // mins for DESC, max of maxes for ASC) — that's the safe boundary
    var cum = 0L
    var worst: String = null
    var boundary: Option[String] = None
    val it = ranked.iterator
    while (it.hasNext && cum < k) {
      val e = it.next()
      val s = stat(e).get
      cum += e.rowCount - s.nullCount
      val edge = if (desc) s.min else s.max
      if (worst == null ||
          (if (desc) StatsPrune.compare(dt, edge, worst) < 0
           else StatsPrune.compare(dt, edge, worst) > 0)) worst = edge
      if (cum >= k) boundary = Some(worst)
    }
    boundary match {
      case None => entries // fewer than k rows overall
      case Some(b) =>
        val surviving = withStats.filter { e =>
          val s = stat(e).get
          if (desc) StatsPrune.compare(dt, s.max, b) >= 0
          else StatsPrune.compare(dt, s.min, b) <= 0
        }
        surviving ++ noStats
    }
  }

  /** Filter shapes our stats pruning understands. */
  def convertible(f: Filter): Boolean = f match {
    case _: EqualTo | _: GreaterThan | _: GreaterThanOrEqual |
         _: LessThan | _: LessThanOrEqual | _: In |
         _: IsNull | _: IsNotNull | _: StringStartsWith => true
    case And(l, r) => convertible(l) && convertible(r)
    case Or(l, r) => convertible(l) && convertible(r)
    case _ => false
  }

  /** sources.Filter → Column (for manifest-stat pruning reuse). */
  def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === v)
    case GreaterThan(a, v) => Some(col(a) > v)
    case GreaterThanOrEqual(a, v) => Some(col(a) >= v)
    case LessThan(a, v) => Some(col(a) < v)
    case LessThanOrEqual(a, v) => Some(col(a) <= v)
    case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, p) => Some(col(a).startsWith(p))
    case And(l, r) => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc && rc
    case Or(l, r) => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc || rc
    case _ => None
  }
}

/** A V1-fallback scan whose rows are a DataFrame built when Spark scans:
  * the relation shell every DataFrame-backed scan here hands Spark. */
trait DataFrameV1Scan extends V1Scan {
  /** The scan's rows, in [[readSchema]]. */
  protected def rows(): DataFrame

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T = {
    val rel = new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = readSchema()
      override def buildScan(): RDD[Row] = rows().rdd
      // EXPLAIN prints the relation: name the scan behind it
      override def toString: String = description()
    }
    rel.asInstanceOf[T]
  }
}

/** Incremental (from, to] snapshot-range read through the V1 fallback. */
class GraftIncrementalScan(t: GraftTable, from: Long, to: Long,
                           required: Option[StructType],
                           mode: String = "delta") extends DataFrameV1Scan {
  override def readSchema(): StructType = GraftScanBuilder.wholeColumns(t, required)
  override protected def rows(): DataFrame = {
    val df = mode match {
      case "diff" => t.incrementalDiff(from, to)
      // changelog scan mode = every change row from stored changelog
      // files; batch rows carry no kind column (paimon parity — use
      // audit_log / read-changelog streams for kinds)
      case "changelog" if t.isPk && from < to =>
        t.changelog(from, to).drop("_row_kind")
      case _ => t.incremental(from, to)
    }
    required.fold(df)(rs => df.select(rs.fieldNames.map(col).toIndexedSeq: _*))
  }
  override def description(): String = s"GraftIncrementalScan($from,$to,$mode)"
}

/**
 * Scan via the public V1 fallback: Spark materializes the relation through
 * `buildScan`, which reuses the engine's merged DataFrame plan (raw path
 * when compacted, window-merge otherwise) — identical semantics to the
 * library API. `relational`: the builder's [[ReadPlan.Relational]] plan for
 * these filters, read as planned (no second manifest fold). Streaming:
 * micro-batches over the snapshot log.
 */
class GraftV1Scan(t: GraftTable, snapshotId: Option[Long],
                  filters: Array[Filter], required: Option[StructType],
                  limit: Option[Int],
                  readOptions: Map[String, String] = Map.empty,
                  withMeta: Boolean = false,
                  relational: Option[ReadPlan.Relational] = None) extends DataFrameV1Scan {

  override def readSchema(): StructType = GraftScanBuilder.wholeColumns(t, required)

  override protected def rows(): DataFrame = {
    val pruneCond = filters.flatMap(GraftScanBuilder.toColumn)
      .reduceOption(_ && _)
    val df =
      if (withMeta)
        pruneCond.foldLeft(t.readWithMetadata(snapshotId, readOptions))(_ filter _)
      else relational.fold(t.read(pruneCond, snapshotId, readOptions))(
        t.readRelational(_, pruneCond, snapshotId, readOptions))
    val projected = required.fold(df)(rs => df.select(rs.fieldNames.map(col).toIndexedSeq: _*))
    limit.fold(projected)(projected.limit)
  }

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    GraftMicroBatchStream.forTable(t, checkpointLocation, readOptions,
      readOptions.get("read-changelog").contains("true"))

  override def description(): String =
    s"GraftScan(${t.location}, filters=${filters.mkString(",")})"
}

/** Scan serving an accepted variant-extraction pushdown: readSchema retypes
  * each pushed variant column as the optimizer's struct (field `i` = i-th
  * offered extraction, VariantMetadata in field metadata) and the scan
  * assembles those structs from the SHREDDED physical columns — typed,
  * stats-carrying parquet columns the write materialized — so a plain-SQL
  * `variant_get` never decodes variant binary. The `$` root field is the
  * variant binary itself (a projection). PK tables serve the MERGED view
  * (shred columns ride the LSM envelope with their row). The scan must
  * output every table column (the rule's bridge projection aliases the full
  * relation output by name); Spark's own DSv2 parquet has the same shape. */
class GraftVariantScan(t: GraftTable, snapshotId: Option[Long],
                       filters: Array[Filter],
                       variantCols: Map[String, Seq[(org.apache.spark.sql.types.StructField, String)]],
                       extraPrune: Option[Column] = None)
    extends DataFrameV1Scan with GraftVariantPrunable {

  override def variantColsMap
      : Map[String, Seq[(org.apache.spark.sql.types.StructField, String)]] =
    variantCols

  /** Route a shred-column predicate ([[GraftVariantPrune]]) into this scan's
    * planning filter. `planFiles` applies its merge-safe restriction, so on
    * unmerged PK buckets value conjuncts drop instead of resurrecting stale
    * row versions. Idempotent. */
  override def withShredPrune(extra: Column): GraftVariantScan =
    if (extraPrune.nonEmpty) this
    else new GraftVariantScan(t, snapshotId, filters, variantCols, Some(extra))

  override def readSchema(): StructType =
    StructType(t.schema.sparkSchema.fields.map { f =>
      variantCols.get(f.name)
        .map(fs => f.copy(dataType = StructType(fs.map(_._1))))
        .getOrElse(f)
    })

  override protected def rows(): DataFrame = {
    val pruneCond = (filters.flatMap(GraftScanBuilder.toColumn) ++ extraPrune)
      .reduceOption(_ && _)
    val base = t.readWithShreds(pruneCond, snapshotId)
    val cols = t.schema.sparkSchema.fields.map { f =>
      variantCols.get(f.name) match {
        case Some(fs) =>
          org.apache.spark.sql.functions.struct(fs.map {
            case (sf, src) => col(src).as(sf.name)
          }.toIndexedSeq: _*).as(f.name)
        case None => col(f.name)
      }
    }
    base.select(cols.toIndexedSeq: _*)
  }

  override def description(): String =
    s"GraftVariantScan(${t.location}, " +
      s"pushedExtractions=${variantCols.map { case (c, fs) =>
        c + ":" + fs.map(_._2).mkString("[", ",", "]") }.mkString(",")})"
}

/** Read-only DSv2 Table over a prepared DataFrame (system tables through
  * the catalog's `t$name` suffix). */
class GraftDataFrameTable(tableName: String, df: DataFrame)
    extends Table with SupportsRead {
  override def name(): String = tableName
  override def schema(): StructType = df.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new DataFrameV1Scan {
      override def readSchema(): StructType = df.schema
      override protected def rows(): DataFrame = df
    }
}

/** `t$binlog` as a first-class table (paimon table/system/BinlogTable.java):
  * key columns keep their type, value columns pack as [before, after]
  * arrays with a `rowkind` column. Batch read = the last commit's packed
  * changes (driver-planned DataFrame); STREAMING read = per-snapshot packed
  * changelog via [[GraftMicroBatchStream]] in binlog mode. */
class GraftBinlogTable(t: GraftTable,
                       readOptions: Map[String, String] = Map.empty)
    extends Table with SupportsRead {
  override def name(): String = s"${t.location}$$binlog"
  override def schema(): StructType =
    GraftBinlog.schema(t.schema.sparkSchema, t.config.primaryKeys)
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = readOptions ++ options.asScala
    () => new DataFrameV1Scan {
      override def readSchema(): StructType = schema()
      override protected def rows(): DataFrame = t.systemTable("binlog")
      override def toMicroBatchStream(checkpointLocation: String)
          : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
        new GraftMicroBatchStream(t, checkpointLocation, merged, binlog = true)
    }
  }
}

/** V1 write fallback (paimon PaimonWriteBuilder pattern): INSERT INTO /
  * INSERT OVERWRITE / truncate / dynamic overwrite route to the engine's
  * write paths and commit protocol. */
class GraftWriteBuilder(t: GraftTable) extends WriteBuilder
    with SupportsTruncate with SupportsOverwrite with SupportsDynamicOverwrite {

  private var mode: String = "append"
  private var overwriteFilters: Array[Filter] = Array.empty

  override def truncate(): WriteBuilder = { mode = "truncate"; this }
  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    mode = "overwrite"; overwriteFilters = filters; this
  }
  // df.writeTo(t).overwritePartitions() → replace exactly the partitions the
  // batch carries (same engine path as INSERT OVERWRITE dynamic mode)
  override def overwriteDynamicPartitions(): WriteBuilder = {
    mode = "dynamic"; this
  }

  /** With ACCEPT_ANY_SCHEMA (write.merge-schema) Spark skips output
    * resolution, so positional inputs arrive with their ORIGINAL names
    * (`col1…` for VALUES). If no incoming name matches a table column and
    * the arity fits, treat the batch as positional and rename to the table
    * schema; otherwise it is a byName batch and schema merging applies. */
  private def realign(data: DataFrame): DataFrame = {
    val tableCols = t.dataSchema.fieldNames
    val positional = data.columns.length <= tableCols.length &&
      !data.columns.exists(tableCols.contains)
    if (positional) data.toDF(tableCols.take(data.columns.length).toIndexedSeq: _*)
    else data
  }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      (data0: DataFrame, _: Boolean) => {
        val data = realign(data0)
        mode match {
        case "append" => t.write(data)
        case "dynamic" => t.overwrite(data, dynamic = true)
        case "truncate" | "overwrite" =>
          // static partition spec arrives as EqualNullSafe/EqualTo conjuncts
          val static = overwriteFilters.collect {
            case EqualTo(a, v) if t.config.partitionKeys.contains(a) =>
              a -> String.valueOf(v)
            case EqualNullSafe(a, v) if t.config.partitionKeys.contains(a) =>
              a -> String.valueOf(v)
          }.toMap
          // DataFrameWriter.save(path) plans a plain truncate even under
          // partitionOverwriteMode=dynamic (the dynamic rewrite only runs
          // for INSERT INTO statements); file sources apply the conf inside
          // the source, so we do too — an explicit static spec still wins
          val dynamicConf = data.sparkSession.conf
            .get("spark.sql.sources.partitionOverwriteMode", "static")
            .equalsIgnoreCase("dynamic")
          if (static.isEmpty && dynamicConf && t.config.partitionKeys.nonEmpty)
            t.overwrite(data, dynamic = true)
          else t.overwrite(data, dynamic = false, staticPartition = static)
      }
    }
  }
}
