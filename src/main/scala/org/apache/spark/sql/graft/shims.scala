package org.apache.spark.sql.graft

import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{DataSource, FileFormat, FileFormatWriter, WriteJobStatsTracker}
import org.apache.spark.sql.execution.datasources.v2.FileDataSourceV2
import org.apache.spark.sql.{classic, Column, DataFrame, SparkSession}

/**
 * Bridge into Spark's `private[sql]` surface, placed under
 * `org.apache.spark.sql` for access — the same connector pattern the
 * reference uses (paimon-spark keeps shims under org.apache.spark.sql.paimon,
 * e.g. paimon-spark/paimon-spark-common/src/main/scala/org/apache/spark/sql/paimon/shims).
 * Kept to the minimum: plan→DataFrame and Expression→Column for the SQL
 * row-level command rewrites, and the data-file write.
 */
object SparkShims {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

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
    val fileFormat = DataSource.lookupDataSource(format, session.sessionState.conf)
      .getConstructor().newInstance() match {
      case v2: FileDataSourceV2 => v2.fallbackFileFormat.getConstructor().newInstance()
      case f: FileFormat => f
    }
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
}
