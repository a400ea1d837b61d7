package org.apache.spark.sql.graft

import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.util.{CaseInsensitiveMap, CharVarcharUtils}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{DataSource, FileFormat, FileFormatWriter, FileIndex, HadoopFsRelation, LogicalRelation, WriteJobStatsTracker}
import org.apache.spark.sql.execution.datasources.v2.FileDataSourceV2
import org.apache.spark.sql.{classic, Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/**
 * Bridge into Spark's `private[sql]` surface, placed under
 * `org.apache.spark.sql` for access — the same connector pattern the
 * reference uses (paimon-spark keeps shims under org.apache.spark.sql.paimon,
 * e.g. paimon-spark/paimon-spark-common/src/main/scala/org/apache/spark/sql/paimon/shims).
 * Kept to the minimum: plan→DataFrame and Expression→Column for the SQL
 * row-level command rewrites, analysis of a predicate, and the data-file
 * read and write.
 */
object SparkShims {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** `cond` resolved as a filter over `child` by the session analyzer
    * alone (no Dataset, no optimizer): the condition of
    * `Dataset.filter(cond).queryExecution.analyzed`. */
  def resolveFilter(spark: SparkSession, cond: Column, child: LogicalPlan): Expression = {
    val s = spark.asInstanceOf[classic.SparkSession]
    s.withActive(s.sessionState.analyzer.executeAndCheck(
      Filter(s.expression(cond), child), new QueryPlanningTracker)).collectFirst {
      case f: Filter => f.condition
    }.get
  }

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  def catalogPlugin(spark: SparkSession,
                    name: String): org.apache.spark.sql.connector.catalog.CatalogPlugin =
    spark.asInstanceOf[classic.SparkSession].sessionState.catalogManager.catalog(name)

  /** Resolve a multipart identifier to (catalog, identifier) with Spark's
    * own lookup rules (current catalog/namespace defaults) — the
    * `private[sql]` LookupCatalog.CatalogAndIdentifier extractor. */
  def catalogAndIdentifier(spark: SparkSession, parts: Seq[String])
      : Option[(org.apache.spark.sql.connector.catalog.CatalogPlugin,
                org.apache.spark.sql.connector.catalog.Identifier)] = {
    val lookup = new org.apache.spark.sql.connector.catalog.LookupCatalog {
      override val catalogManager =
        spark.asInstanceOf[classic.SparkSession].sessionState.catalogManager
    }
    parts match {
      case lookup.CatalogAndIdentifier(cat, ident) => Some((cat, ident))
      case _ => None
    }
  }

  /** Drain the listener bus — lets tests that aggregate task metrics via a
    * SparkListener read a complete total (the bus is async). */
  def waitListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Rebind a streaming micro-batch DataFrame as a plain batch one so it can
    * flow through batch write paths inside `Sink.addBatch` (the pattern of
    * paimon-spark's PaimonUtils.createNewDataFrame /
    * Classic4Api.createDataset: execute the incremental plan, wrap the
    * InternalRow RDD as a non-streaming DataFrame). */
  def unstream(data: DataFrame): DataFrame = {
    val ds = data.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]]
    ds.sqlContext.asInstanceOf[classic.SQLContext]
      .internalCreateDataFrame(ds.queryExecution.toRdd, ds.schema)
  }

  /** A DSv2 batch scan's rows as a DataFrame, one task per input
    * partition, without a catalog table or an optimizer pass over the scan
    * (its nullability is relaxed: a reader may fill columns a file lacks
    * with nulls). */
  def scanRows(spark: SparkSession,
               scan: org.apache.spark.sql.connector.read.Scan): DataFrame = {
    val batch = scan.toBatch
    val rdd = new org.apache.spark.sql.execution.datasources.v2.DataSourceRDD(
      spark.sparkContext, batch.planInputPartitions().toSeq.map(Seq(_)),
      batch.createReaderFactory(), false, Map.empty)
    spark.asInstanceOf[classic.SparkSession].sqlContext
      .internalCreateDataFrame(rdd, scan.readSchema().asNullable)
  }

  /** Write `df` under `outputPath` as `format` files, hive-partitioned by
    * `partitionCols`, through Spark's FileFormatWriter (as Delta Lake's
    * TransactionalWrite does): it keeps a child ordering that starts with
    * the partition columns, and `trackers` see every file and row in the
    * write tasks. One job after the stages of `df`'s own exchanges. On the
    * stock local FS its files and directories get their permissions
    * without a `chmod` process each ([[graft.NoForkLocalFileSystem]]). */
  def writeFiles(df: DataFrame, format: String, outputPath: String,
                 partitionCols: Seq[String], options: Map[String, String],
                 trackers: Seq[WriteJobStatsTracker]): Unit = {
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    val qe = df.asInstanceOf[classic.Dataset[_]].queryExecution
    val fileFormat = fileFormatOf(session, format)
    SQLExecution.withNewExecutionId(qe, Some(s"graft write $outputPath")) {
      val plan = qe.executedPlan
      val committer = FileCommitProtocol.instantiate(
        session.sessionState.conf.fileCommitProtocolClass,
        java.util.UUID.randomUUID().toString, outputPath)
      val hadoopConf = session.sessionState.newHadoopConfWithOptions(options)
      if (graft.NoForkLocalFileSystem.isStockLocal(new Path(outputPath), hadoopConf))
        graft.NoForkLocalFileSystem.configure(hadoopConf)
      FileFormatWriter.write(session, plan, fileFormat, committer,
        FileFormatWriter.OutputSpec(outputPath, Map.empty, plan.output), hadoopConf,
        partitionCols.map(c => plan.output.find(_.name == c).get),
        None, trackers, options)
    }
  }

  /** Add a write task's output to its task metrics, as Spark's own writers do. */
  def recordTaskOutput(bytes: Long, records: Long): Unit =
    Option(TaskContext.get()).foreach { tc =>
      val m = tc.taskMetrics().outputMetrics
      m.setBytesWritten(m.bytesWritten + bytes)
      m.setRecordsWritten(m.recordsWritten + records)
    }

  /** The V1 `FileFormat` behind a datasource name (a file source V2 maps
    * to its fallback format), the class looked up once per name. */
  private def fileFormatOf(spark: SparkSession, format: String): FileFormat =
    fileFormats.computeIfAbsent(format, f =>
      DataSource.lookupDataSource(f, spark.asInstanceOf[classic.SparkSession].sessionState.conf)
        .getConstructor().newInstance() match {
        case v2: FileDataSourceV2 => v2.fallbackFileFormat
        case ff: FileFormat => ff.getClass
      }).getConstructor().newInstance().asInstanceOf[FileFormat]

  private val fileFormats = new java.util.concurrent.ConcurrentHashMap[String, Class[_]]()

  /** Read the files `index` names as `format` with the explicit `schema`,
    * the relation `spark.read.schema(schema).options(options).format(format)
    * .load(paths)` resolves to, minus its path listing: `HadoopFsRelation`
    * over `index` (partition columns are the index's, typed by `schema`),
    * wrapped as a `LogicalRelation`. */
  def readFiles(spark: SparkSession, index: FileIndex, schema: StructType, format: String,
                options: Map[String, String]): DataFrame = {
    val sch = CharVarcharUtils.replaceCharVarcharWithStringInSchema(schema)
    def same(a: String, b: String) = a.equalsIgnoreCase(b)
    val parts = StructType(index.partitionSchema.map(p => sch.find(f => same(f.name, p.name)).getOrElse(p)))
    val dataSchema = StructType(sch.filterNot(f => parts.exists(p => same(p.name, f.name))))
    val rel = HadoopFsRelation(index, parts, dataSchema.asNullable, None,
      fileFormatOf(spark, format), CaseInsensitiveMap(options))(spark)
    ofRows(spark, LogicalRelation(rel))
  }
}
