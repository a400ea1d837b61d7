package graft.dsv2

import graft.core._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, FieldReference, NamedReference, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetOptions
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.paths.SparkPath
import org.apache.spark.util.SerializableConfiguration

import java.util.OptionalLong

/**
 * Native DSv2 batch scan: manifest-planned file splits handed directly to
 * Spark's vectorized parquet reader — no Row↔InternalRow conversion, full
 * whole-stage codegen and columnar batches (replaces the round-1 V1
 * `df.rdd` fallback for the raw path).
 *
 * Mirrors the reference connector's scan surface
 * (paimon-spark/.../PaimonScan.scala:115 KeyGroupedPartitioning,
 * PaimonStatistics.scala:38 SupportsReportStatistics,
 * read/PaimonSupportsRuntimeFiltering.scala:55):
 *
 *  - one InputPartition per data file (full parallelism for plain scans);
 *    each carries its (partition values, bucket) as a HasPartitionKey, so
 *    joins between co-bucketed graft tables become storage-partitioned —
 *    Spark groups splits by key and skips BOTH exchanges
 *    (`spark.sql.sources.v2.bucketing.enabled=true`).
 *  - statistics from the manifest (row count / bytes) feed CBO broadcast
 *    decisions without touching data files.
 *  - runtime filtering (DPP): partition-column IN-filters from a joined dim
 *    re-prune the planned entries before execution.
 *
 * Only raw-convertible plans take this path (append tables, or compacted PK
 * tables — the overwhelmingly common read at scale). Buckets needing LSM
 * merge keep the V1 plan-based path, whose semantics are the engine's
 * tested DataFrame merge.
 *
 * Deletion vectors apply INSIDE the reader factory (paimon
 * ApplyDeletionVectorReader shape, deletionvectors/ApplyDeletionVectorReader.java):
 * a file with an outstanding vector reads through a delegate built with
 * parquet filter pushdown disabled (so the running row count equals the
 * parquet row index) and deleted positions are dropped inside each columnar
 * batch via a position-remapping vector view — the scan stays columnar for
 * every file, DV'd or clean.
 *
 * A key-pinned read whose filters the scan builder claimed (`exact`) reads
 * rows instead: the filter columns are read too, the filters run on each
 * row and the survivors are projected to the read schema.
 */
class GraftBatchScan(t: GraftTable, initial: Seq[ManifestEntry],
                     pushed: Array[Filter], required: Option[StructType],
                     readOptions: Map[String, String] = Map.empty,
                     dv: Map[String, Array[Byte]] = Map.empty,
                     private[dsv2] val exact: Option[ExactFilter] = None)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsReportPartitioning with SupportsRuntimeFiltering
    with SupportsReportOrdering {

  private var entries: Seq[ManifestEntry] = initial

  /** Surviving planned entries — runtime filtering (DPP) shrinks this;
    * tests assert on it. */
  def plannedEntryCount: Int = entries.size

  private[dsv2] def graftTable: GraftTable = t

  /** Swap for a scan serving the given MAP columns as structs of their
    * declared shredded key sub-columns ([[GraftMapShredRule]]): the parquet
    * read decodes ONLY those typed side columns, never the map. */
  private[dsv2] def withMapShred(
      mapCols: Map[String, Seq[(StructField, String)]]): GraftMapShredBatchScan =
    new GraftMapShredBatchScan(t, entries, pushed, readSchema(), mapCols,
      readOptions, dv)

  /** Set by [[DisableUnnecessaryGraftBucketedScan]]: stop reporting the
    * key-grouped layout and bin-pack files ACROSS key groups. */
  private var bucketedDisabled = false

  def bucketedScanDisabled: Boolean = bucketedDisabled

  /** Live files of the planned snapshot this scan's planning dropped (stats,
    * partition, index, top-N and limit pruning); set by the scan builder. */
  private[dsv2] var planSkippedFiles = 0L

  /** Files this scan does not read: the planning skips plus the runtime
    * filter's. */
  def skippedFiles: Long = planSkippedFiles + initial.size - entries.size

  /** True when this scan actually reports a key-grouped layout — the only
    * scans the AQE disable rule may rewrite. */
  def reportsBucketedLayout: Boolean =
    !bucketedDisabled && clusteringTransforms.nonEmpty && entries.nonEmpty

  /** Same-class copy over the given entries — MUST be overridden by every
    * subclass (the variant scan carries struct-view state a plain
    * GraftBatchScan copy would silently drop, crashing the columnar read
    * with a VariantType→StructType cast). */
  protected def freshCopy(es: Seq[ManifestEntry]): GraftBatchScan =
    new GraftBatchScan(t, es, pushed, required, readOptions, dv, exact)

  /** A copy of this scan with the bucketed layout turned off — used by the
    * AQE query-stage-prep rule when no downstream operator cares about the
    * partitioning: a 32-bucket table scanned for a plain projection should
    * pack its many small per-bucket files into few balanced tasks instead
    * of pinning one task per (partition, bucket) group (reference
    * PaimonScan.disableBucketedScan,
    * execution/adaptive/DisableUnnecessaryPaimonBucketedScan.scala:1). */
  def disableBucketedScan(): GraftBatchScan = {
    val s = freshCopy(entries)
    s.bucketedDisabled = true
    s.planSkippedFiles = skippedFiles
    s
  }

  override def readSchema(): StructType = required.getOrElse(t.schema.sparkSchema)

  override def toBatch: Batch = this

  // ---- runtime filtering (partition columns) ----
  // only columns the projection kept: Spark resolves these against the
  // scan OUTPUT, so a pruned-away partition column must not be reported
  // (PartitionPruning.getFilterableTableScan resolveRefs throws otherwise)
  override def filterAttributes(): Array[NamedReference] = {
    val out = readSchema().fieldNames.toSet
    t.config.partitionKeys.filter(out.contains)
      .map(Expressions.column).toArray
  }

  override def filter(filters: Array[Filter]): Unit = {
    val cond = filters.flatMap(GraftScanBuilder.toColumn).reduceOption(_ && _)
    cond.foreach { c =>
      val expr = StatsPrune.resolve(t.spark, t.dataSchema, c)
      entries = entries.filter(e =>
        StatsPrune.mightMatch(expr, t.dataSchema, e.stats, e.rowCount))
    }
  }

  // ---- statistics from the manifest (minus DV-deleted positions) ----
  private lazy val dvDeletedRows: Long =
    if (dv.isEmpty) 0L
    else entries.map { e =>
      val k = GraftTable.dvKey(e.path)
      dv.get(k).map(b => DvCache.bitmap(k, b).getLongCardinality).getOrElse(0L)
    }.sum
  /** ANALYZE-produced column stats (ndv / null count) for Spark's CBO —
    * paimon PaimonStatistics.scala columnStats() parity. Served best-effort
    * from `statistics/latest.json`; absent or stale stats degrade to
    * row/size-only (Spark treats missing colStats as unknown). */
  private lazy val analyzedColStats: Map[String, (Long, Long)] = {
    try {
      val p = new org.apache.hadoop.fs.Path(t.location, "statistics/latest.json")
      if (!t.sm.fs.exists(p)) Map.empty
      else {
        val root = graft.core.Json.mapper.readTree(t.sm.readString(p))
        val cs = root.get("colStats")
        if (cs == null) Map.empty
        else {
          val it = cs.fields()
          val b = Map.newBuilder[String, (Long, Long)]
          while (it.hasNext) {
            val e = it.next()
            b += e.getKey -> (e.getValue.get("distinctCount").asLong(),
              e.getValue.get("nullCount").asLong())
          }
          b.result()
        }
      }
    } catch { case _: Exception => Map.empty }
  }

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong =
      OptionalLong.of(math.max(1L, entries.map(_.fileSize).sum))
    override def numRows(): OptionalLong =
      OptionalLong.of(math.max(0L, entries.map(_.rowCount).sum - dvDeletedRows))
    override def columnStats(): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      val m = new java.util.HashMap[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      analyzedColStats.foreach { case (c, (ndv, nc)) =>
        m.put(Expressions.column(c),
          new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
            override def distinctCount(): OptionalLong = OptionalLong.of(ndv)
            override def nullCount(): OptionalLong = OptionalLong.of(nc)
          })
      }
      m
    }
  }

  // ---- partitioning report ----
  private[dsv2] def clusteringTransforms: Array[Transform] =
    GraftBatchScan.clusteringTransforms(t)

  override def outputPartitioning(): Partitioning = {
    val transforms = clusteringTransforms
    if (bucketedDisabled || transforms.isEmpty || entries.isEmpty)
      new UnknownPartitioning(planInputPartitions().length)
    else new KeyGroupedPartitioning(
      transforms.map(x => x: org.apache.spark.sql.connector.expressions.Expression),
      planInputPartitions().length)
  }

  private def partitionKeyRow(e: ManifestEntry): InternalRow =
    GraftBatchScan.partitionKeyRow(t, e)

  // ---- ordering report ----
  /** Per-group file runs proving the scan can serve every (partition,
    * bucket) key group PK-sorted — the gate behind [[outputOrdering]] and
    * the matching one-partition-per-group layout in
    * [[planInputPartitions]]. A group qualifies when it holds:
    *  - exactly ONE data file (with or without a DV — the DV filter keeps
    *    file order), the fully-compacted small-bucket case; or
    *  - a DV-free size-rolled compaction run whose files are STRICTLY
    *    disjoint on the first PK column by manifest bounds, concatenated
    *    in min-bound order. Strict `<` between a file's recorded max and
    *    the next file's recorded min proves no pk1 value spans two files,
    *    so the concatenation preserves the full composite-PK order (equal
    *    pk1 rows are confined to one file, which is internally sorted by
    *    the whole key). Truncated (inexact) string stats stay safe: the
    *    writer records a true lower bound for min and INCREMENTS a
    *    truncated max into a true upper bound, so the check is
    *    conservative. This is the at-scale shape — a 1 GB-target
    *    compaction rolls a big bucket into several key-disjoint sorted
    *    files, which must not lose the report the single-file case has.
    *    Multi-file runs additionally require v2 bucketing (then the
    *    reported key grouping makes each group ONE task, so the
    *    consolidated partition layout costs no parallelism; without it we
    *    must not pin a group to a single task just to keep an ordering
    *    the session cannot exploit exchange-free anyway).
    * Returns None — and [[outputOrdering]] reports nothing — unless EVERY
    * group qualifies. */
  private def orderedGroupRuns(): Option[Seq[Seq[ManifestEntry]]] = {
    val pks = t.config.primaryKeys
    if (pks.isEmpty || bucketedDisabled || entries.isEmpty ||
        t.config.option("pk-clustering-override", "false") == "true" ||
        !pks.forall(readSchema().fieldNames.toSet.contains)) return None
    val cached = orderedRunsCache
    if (cached != null && (cached._1 eq entries)) return cached._2
    val pk1 = pks.head
    val dt = t.dataSchema.fields.find(_.name == pk1).map(_.dataType)
      .getOrElse(return None)
    val v2Bucketing = t.spark.sessionState.conf
      .getConfString("spark.sql.sources.v2.bucketing.enabled", "false").toBoolean
    val groups = entries.groupBy(e => (e.partition.toSeq.sortBy(_._1), e.bucket))
      .toSeq.sortBy(_._1.toString).map(_._2)
    val runs: Seq[Option[Seq[ManifestEntry]]] = groups.map {
      case g if g.size == 1 => Some(g)
      case g if !v2Bucketing ||
          g.exists(e => dv.contains(GraftTable.dvKey(e.path))) => None
      case g => GraftBatchScan.disjointRun(g, pk1, dt)
    }
    val out = if (runs.exists(_.isEmpty)) None else Some(runs.map(_.get))
    orderedRunsCache = (entries, out)
    out
  }

  /** Memo keyed on the entries reference — runtime filtering swaps the
    * seq, invalidating it; outputPartitioning/outputOrdering/
    * planInputPartitions may each consult the runs several times per
    * plan. */
  @volatile private var orderedRunsCache
      : (Seq[ManifestEntry], Option[Seq[Seq[ManifestEntry]]]) = null

  /** Per-partition PK sort order (reference PaimonScan.scala:122
    * outputOrdering via SupportsReportOrdering), reported only when
    * [[orderedGroupRuns]] proves every key group serves PK-sorted: a PK
    * table whose physical order IS the primary key (no pk-clustering
    * override), bucketed layout still reported, the PKs surviving the
    * projection, and each group either a single file or a stats-disjoint
    * compaction run read in bound order. A window or sort-merge join keyed
    * on the PK over such a read then plans with neither Exchange nor
    * Sort. */
  override def outputOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    if (orderedGroupRuns().isEmpty) Array.empty
    else t.config.primaryKeys.map(pk => Expressions.sort(Expressions.column(pk),
      org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)).toArray

  override def planInputPartitions(): Array[InputPartition] = {
    if (entries.isEmpty) return Array.empty
    val toFile = GraftBatchScan.partitionedFile(new Path(t.location)) _
    // Bin-pack small files of the SAME key group ((partition, bucket) — the
    // reported KeyGroupedPartitioning unit) into shared input partitions up
    // to files.maxPartitionBytes (+ per-file openCostInBytes), like Spark's
    // own FilePartition.getFilePartitions: a streaming-ingested table with
    // 10^6 small files must not become 10^6 tasks. DV-carrying files stay
    // one-per-partition (position-to-bitmap alignment is per file); large
    // files stay whole (LSM files are size-rolled at write, so the
    // maxPartitionBytes ceiling is the write-side rolling target).
    val conf = t.spark.sessionState.conf
    val maxBytes = conf.filesMaxPartitionBytes
    val openCost = conf.filesOpenCostInBytes
    // bucketed-scan-disabled: one big group, so packing crosses (partition,
    // bucket) boundaries — legal because the layout is no longer reported
    // (partition values live in the data columns, not the directory row)
    val orderedRuns = orderedGroupRuns()
    // ordering reported → each multi-file group becomes ONE partition with
    // its files in the proven concatenation (min-bound) order, so the task
    // streams the group PK-sorted regardless of how Spark assembles grouped
    // partitions. Costs no parallelism: the runs only exist under v2
    // bucketing, where the reported key grouping already pins one task per
    // group.
    orderedRuns match {
      case Some(runs) if runs.exists(_.size > 1) =>
        return runs.map { run =>
          val key = partitionKeyRow(run.head)
          run match {
            case Seq(e) if dv.contains(GraftTable.dvKey(e.path)) =>
              val b = dv(GraftTable.dvKey(e.path))
              GraftInputPartition(Array(toFile(e)), key,
                DvCache.fingerprint(GraftTable.dvKey(e.path), b), b)
            case es =>
              // multi-file runs are DV-free by the gate; order is the run's
              GraftInputPartition(es.map(toFile).toArray, key)
          }
        }.toArray[InputPartition]
      case _ => ()
    }
    val groups: Seq[Seq[ManifestEntry]] =
      if (bucketedDisabled) Seq(entries.sortBy(_.path))
      else entries.groupBy(e => (e.partition.toSeq.sortBy(_._1), e.bucket)).toSeq
        .sortBy(_._1.toString).map(_._2)
    groups.flatMap { group =>
        val key = partitionKeyRow(group.head)
        val (dvFiles, plain) =
          group.partition(e => dv.contains(GraftTable.dvKey(e.path)))
        val dvParts = dvFiles.map { e =>
          val b = dv(GraftTable.dvKey(e.path))
          GraftInputPartition(Array(toFile(e)), key,
            DvCache.fingerprint(GraftTable.dvKey(e.path), b), b)
        }
        val packs = Seq.newBuilder[GraftInputPartition]
        var cur = List.empty[ManifestEntry]
        var curBytes = 0L
        def flush(): Unit = if (cur.nonEmpty) {
          packs += GraftInputPartition(cur.reverse.map(toFile).toArray, key)
          cur = Nil; curBytes = 0L
        }
        plain.sortBy(_.path).foreach { e =>
          val cost = e.fileSize + openCost
          if (cur.nonEmpty && curBytes + cost > maxBytes) flush()
          cur ::= e; curBytes += cost
        }
        flush()
        dvParts ++ packs.result()
      }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // DV files read through a NO-pushdown delegate: parquet row-group/page
    // skipping would break the position count that maps rows to vector bits.
    // Claimed (exact) filters need their columns read, then drop them.
    val fileRead = exact.fold(readSchema())(_.widen(readSchema(), t.dataSchema))
    val (pf, dvf) = GraftBatchScan.parquetFactories(t, fileRead, pushed, dv.nonEmpty)
    TaskEndClose(GraftReaderFactory(pf, dvf, exact.map(_.rows(fileRead, readSchema()))))
  }

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    GraftMicroBatchStream.forTable(t, checkpointLocation, readOptions)

  override def description(): String =
    s"GraftBatchScan(${t.location}, files=${entries.size}, pushed=${pushed.mkString(",")})"

  // ---- DSv2 scan metrics (Spark SQL UI) — the idiomatic-Spark bridge of
  // the reference's ScanMetrics (docs/maintenance/metrics.md): planning
  // results surface on the scan node as driver metrics.
  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] = Array(
    new GraftScanMetric("plannedFiles", "planned data files"),
    new GraftScanMetric("plannedBytes", "planned data bytes"),
    new GraftScanMetric("skippedFiles", "files skipped by stats/partition pruning"),
    new GraftScanMetric("deletionVectorFiles", "files read under a deletion vector"))
  override def reportDriverMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
    def m(n: String, v: Long) =
      new org.apache.spark.sql.connector.metric.CustomTaskMetric {
        override def name(): String = n
        override def value(): Long = v
      }
    Array(
      m("plannedFiles", entries.size.toLong),
      m("plannedBytes", entries.map(_.fileSize).sum),
      m("skippedFiles", skippedFiles),
      m("deletionVectorFiles",
        entries.count(e => dv.contains(graft.core.GraftTable.dvKey(e.path))).toLong))
  }
}

/** Scan-node sum metric. A TOP-LEVEL class with a 0-arg constructor on
  * purpose: SQLAppStatusListener re-instantiates the metric class by name to
  * aggregate task values for the UI — an anonymous class makes every job
  * end with a "did not have a zero-argument constructor" warning and the
  * metric silently missing from the SQL tab. */
class GraftScanMetric(n: String, d: String)
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  def this() = this("", "")
  override def name(): String = n
  override def description(): String = d
}

object GraftBatchScan {
  /** A new factory over `f`'s broadcast configuration, schemas and filters,
    * with its own reader callback: a parquet factory's callback closes the
    * reader it opened last when it opens the next one, so readers open at
    * once in one task — a merge's files, or two iterators over one
    * partition as `rdd.zip(rdd.map(…))` (KMeans) makes — each need a copy.
    * The constructor reads the SQL conf and the parquet options, whose
    * shipped copies cannot be read on an executor: the running task's conf
    * serves both (the options are the defaults — see [[parquetFactories]]). */
  private[dsv2] def fresh(f: ParquetPartitionReaderFactory): ParquetPartitionReaderFactory = {
    val conf = org.apache.spark.sql.internal.SQLConf.get
    f.copy(sqlConf = conf, options = new ParquetOptions(Map.empty[String, String], conf))
  }

  /** A manifest entry as one whole-file split under the table root: size
    * from the manifest, no filesystem call. */
  private[dsv2] def partitionedFile(root: Path)(e: ManifestEntry): PartitionedFile =
    split(new Path(root, e.path), e.fileSize)

  /** The file at `path`, of `size` bytes, as one whole-file split. */
  private[dsv2] def split(path: Path, size: Long): PartitionedFile =
    PartitionedFile(InternalRow.empty, SparkPath.fromPath(path), 0L, size,
      Array.empty[String], 0L, size, Map.empty)

  /** Clustering transforms of a table's fixed layout (partition identity
    * columns + the bucket transform) — the KeyGroupedPartitioning shape
    * both the batch scan and the merge-in-scan report. */
  private[dsv2] def clusteringTransforms(t: GraftTable): Array[Transform] = {
    val parts = t.config.partitionKeys.map(Expressions.identity(_): Transform)
    // PK tables bucket by the primary key; bucketed append tables by
    // bucket-key — both fixed layouts support storage-partitioned joins
    val bucket = t.fixedBucketKeys match {
      case Some(keys) =>
        Seq(Expressions.bucket(t.config.numBuckets, keys: _*): Transform)
      case None => Nil
    }
    (parts ++ bucket).toArray
  }

  /** The HasPartitionKey row matching [[clusteringTransforms]] for one
    * key group's entries. */
  private[dsv2] def partitionKeyRow(t: GraftTable, e: ManifestEntry): InternalRow = {
    val partVals = t.config.partitionKeys.map { pc =>
      val dt = t.dataSchema.fields.find(_.name == pc).get.dataType
      GraftBatchScan.statValue(dt, e.partition.getOrElse(pc, null))
    }
    val vals =
      if (t.fixedBucketKeys.isDefined) partVals :+ e.bucket else partVals
    new GenericInternalRow(vals.toArray[Any])
  }

  /** A multi-file group ordered into a provably PK-sorted concatenation
    * run, or None: every file must carry pk1 min/max bounds, and sorted
    * by min bound the files must be STRICTLY disjoint on pk1 (strict `<`
    * between a file's recorded max and the next one's recorded min means
    * no pk1 value spans files, so bound-order concatenation preserves the
    * full composite-key order — equal-pk1 rows sit inside one internally
    * sorted file). Truncated (inexact) stats stay safe: recorded min is a
    * true lower bound and a truncated max is incremented into a true
    * upper bound, so the check is conservative. */
  private[dsv2] def disjointRun(g: Seq[ManifestEntry], pk1: String,
                                dt: DataType): Option[Seq[ManifestEntry]] = {
    val bounds = g.map(e => e.stats.get(pk1)
      .filter(s => s.min != null && s.max != null).map(s => (e, s)))
    if (bounds.exists(_.isEmpty)) None
    else {
      val run = bounds.flatten
        .sortWith((a, b) => graft.core.StatsPrune.compare(dt, a._2.min, b._2.min) < 0)
      val disjoint = run.zip(run.drop(1)).forall { case ((_, a), (_, b)) =>
        graft.core.StatsPrune.compare(dt, a.max, b.min) < 0 }
      if (disjoint) Some(run.map(_._1)) else None
    }
  }

  /** Spark's vectorized parquet reader factories for graft files, built
    * ONCE per scan through Spark's own ParquetScan, so the Hadoop
    * configuration carries the full reader set-up (ReadSupport class,
    * requested schema, timezone, rebase modes): the factory that pushes
    * `filters` into parquet, and a copy of it sharing its broadcast that
    * files under a deletion vector read through — without pushdown when
    * `withDv` (their running row count must be the parquet row index), else
    * the same factory, never used. dataSchema = on-disk schema (incl. the
    * LSM envelope for PK tables); `readSchema` = pruned projection; no
    * hive-style partition columns (partition values live inside files). */
  private[dsv2] def parquetFactories(t: GraftTable, readSchema: StructType,
                                     filters: Array[Filter], withDv: Boolean)
      : (ParquetPartitionReaderFactory, ParquetPartitionReaderFactory) = {
    val spark = t.spark
    // ParquetScan wants a file index; the scan's files are its own splits
    val emptyIndex = new graft.core.ManifestFileIndex(spark, Nil, Map.empty, Some(t.fileSchema))
    val pf = org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan(
      spark, spark.sessionState.newHadoopConf(), emptyIndex, t.fileSchema, readSchema,
      new StructType(), filters,
      org.apache.spark.sql.util.CaseInsensitiveStringMap.empty(), None, Nil, Nil,
      Array.empty).createReaderFactory().asInstanceOf[ParquetPartitionReaderFactory]
    (pf, if (withDv && filters.nonEmpty) pf.copy(filters = Array.empty) else pf)
  }

  /** Typed (Catalyst-internal) value from a manifest stat string. */
  /** Types whose manifest partition-value string round-trips exactly through
    * [[statValue]] — the gate for partition-grouped aggregate pushdown
    * (float/double/decimal render ambiguously, so those fall back to a scan). */
  def partitionValueTypes(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | BooleanType |
         StringType | DateType => true
    case _: TimestampType => true
    case _ => false
  }

  def statValue(dt: DataType, s: String): Any = {
    if (s == null) return null
    dt match {
      case ByteType => s.toByte
      case ShortType => s.toShort
      case IntegerType => s.toInt
      case LongType => s.toLong
      case FloatType => s.toFloat
      case DoubleType => s.toDouble
      case BooleanType => s.toBoolean
      case StringType => org.apache.spark.unsafe.types.UTF8String.fromString(s)
      case DateType => java.time.LocalDate.parse(s).toEpochDay.toInt
      case _: TimestampType => s.toLong // stats store epoch-micros
      case _: TimestampNTZType =>
        org.apache.spark.sql.catalyst.util.DateTimeUtils.stringToTimestampWithoutTimeZone(
          org.apache.spark.unsafe.types.UTF8String.fromString(s)).getOrElse(null)
      case d: DecimalType => org.apache.spark.sql.types.Decimal(BigDecimal(s))
      case _ => org.apache.spark.unsafe.types.UTF8String.fromString(s)
    }
  }
}

/** Single-row scan serving a manifest-answered aggregation (no data files
  * read): the DSv2 face of aggFromManifest. */
class GraftAggScan(outSchema: StructType, rows: Array[Array[Any]])
    extends Scan with Batch {
  override def readSchema(): StructType = outSchema
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    Array(GraftAggResultPartition(rows))
  override def createReaderFactory(): PartitionReaderFactory = GraftAggReaderFactory()
  override def description(): String =
    s"GraftAggScan(manifest-only: ${outSchema.fieldNames.mkString(",")})"
}

case class GraftAggResultPartition(rows: Array[Array[Any]]) extends InputPartition

case class GraftAggReaderFactory() extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val rows = p.asInstanceOf[GraftAggResultPartition].rows
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow = new GenericInternalRow(rows(i))
      override def close(): Unit = ()
    }
}

/** File split(s) + partition key ((partition values, bucket)) for
  * storage-partitioned joins. `dvFp`/`dvBytes`: this file's outstanding
  * deletion vector (fingerprint precomputed on the driver) — null if none. */
case class GraftInputPartition(files: Array[PartitionedFile], key: InternalRow,
                               dvFp: String = null, dvBytes: Array[Byte] = null)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = key
  override def preferredLocations(): Array[String] = Array.empty
}

/** Adapts graft input partitions onto Spark's vectorized parquet reader
  * factory (row-group skipping + columnar batches for free). Partitions
  * carrying a deletion vector read through `dvDelegate` (built WITHOUT
  * parquet filter pushdown, so rows stream in file order and the running
  * count is the parquet row index); deleted positions are dropped INSIDE
  * the columnar batch via a position-remapping vector view, so one DV'd
  * file no longer de-vectorizes the whole scan (Spark requires every
  * partition of a scan to agree on columnar vs row — now they all say
  * columnar; reference applies DVs per-reader the same way,
  * deletionvectors/ApplyDeletionVectorReader.java). Every reader opens
  * through its own copy of the parquet factory ([[GraftBatchScan.fresh]]). */
case class GraftReaderFactory(delegate: ParquetPartitionReaderFactory,
                              dvDelegate: ParquetPartitionReaderFactory,
                              exact: Option[ExactRows] = None)
    extends PartitionReaderFactory {
  private def fp(p: InputPartition): FilePartition =
    FilePartition(0, p.asInstanceOf[GraftInputPartition].files)
  /** Claimed filters: the rows of the columnar batches (views, no copy)
    * that pass, projected to the read schema. */
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    exact match {
      case Some(x) =>
        x(if (delegate.supportColumnarReads(fp(p))) new BatchRows(createColumnarReader(p), null)
          else rowReader(p))
      case None => rowReader(p)
    }
  private def rowReader(p: InputPartition): PartitionReader[InternalRow] = {
    val gp = p.asInstanceOf[GraftInputPartition]
    if (gp.dvBytes == null) return GraftBatchScan.fresh(delegate).createReader(fp(p))
    val bm = DvCache.bitmapFp(gp.dvFp, gp.dvBytes) // once per task, cached per executor
    val inner = GraftBatchScan.fresh(dvDelegate).createReader(fp(p))
    new PartitionReader[InternalRow] {
      private var pos = -1L
      private var cur: InternalRow = _
      override def next(): Boolean = {
        while (inner.next()) {
          pos += 1
          if (!bm.contains(pos.toInt)) { cur = inner.get(); return true }
        }
        false
      }
      override def get(): InternalRow = cur
      override def close(): Unit = inner.close()
    }
  }
  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val gp = p.asInstanceOf[GraftInputPartition]
    if (gp.dvBytes == null) return GraftBatchScan.fresh(delegate).createColumnarReader(fp(p))
    val bm = DvCache.bitmapFp(gp.dvFp, gp.dvBytes)
    val inner = GraftBatchScan.fresh(dvDelegate).createColumnarReader(fp(p))
    new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
      private var pos = 0L // file row position of the next batch's first row
      private var cur: org.apache.spark.sql.vectorized.ColumnarBatch = _
      override def next(): Boolean = {
        while (inner.next()) {
          val b = inner.get()
          val n = b.numRows()
          val start = pos
          pos += n
          // logical→physical row map of surviving positions in this batch
          val map = new Array[Int](n)
          var m = 0
          var i = 0
          while (i < n) {
            if (!bm.contains((start + i).toInt)) { map(m) = i; m += 1 }
            i += 1
          }
          if (m == n) { cur = b; return true } // nothing deleted here
          if (m > 0) {
            val cols = new Array[org.apache.spark.sql.vectorized.ColumnVector](b.numCols())
            var c = 0
            while (c < b.numCols()) { cols(c) = new DvFilteredVector(b.column(c), map); c += 1 }
            cur = new org.apache.spark.sql.vectorized.ColumnarBatch(cols, m)
            return true
          }
          // fully-deleted batch: skip to the next one
        }
        false
      }
      override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = cur
      override def close(): Unit = inner.close()
    }
  }
  // all partitions answer alike (delegate and dvDelegate share schema+conf),
  // satisfying DataSourceV2ScanExecBase.supportsColumnar's agreement rule
  override def supportColumnarReads(p: InputPartition): Boolean =
    exact.isEmpty && delegate.supportColumnarReads(fp(p))
}

/** Readers that close when the task ends if they are closed unfinished:
  * Spark's DataSourceRDD closes a task's open reader of an RDD when the task
  * opens its next one, which in a task iterating one partition twice
  * (`rdd.zip(rdd.map(…))`, as KMeans does) is the other iterator's. */
case class TaskEndClose(inner: PartitionReaderFactory) extends PartitionReaderFactory {
  private class Reader[T](in: PartitionReader[T]) extends PartitionReader[T] {
    private var exhausted = false
    override def next(): Boolean = { exhausted = !in.next(); !exhausted }
    override def get(): T = in.get()
    override def currentMetricsValues()
        : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = in.currentMetricsValues()
    override def close(): Unit = Option(org.apache.spark.TaskContext.get()) match {
      case Some(tc) if !exhausted && !tc.isCompleted() =>
        tc.addTaskCompletionListener[Unit](_ => in.close())
      case _ => in.close()
    }
  }
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new Reader(inner.createReader(p))
  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new Reader(inner.createColumnarReader(p))
  override def supportColumnarReads(p: InputPartition): Boolean = inner.supportColumnarReads(p)
}

/** Column-vector view exposing only SURVIVING row positions of a batch
  * under a deletion vector: logical row `i` delegates to physical row
  * `map(i)`. Children wrap recursively so struct/array/map access remaps
  * too. `close` is a no-op — the underlying vectors belong to the inner
  * reader's batch, which the reader recycles/closes itself. */
private[dsv2] class DvFilteredVector(
    base: org.apache.spark.sql.vectorized.ColumnVector, map: Array[Int])
    extends org.apache.spark.sql.vectorized.ColumnVector(base.dataType) {
  override def close(): Unit = ()
  override def hasNull: Boolean = base.hasNull
  override def numNulls: Int = base.numNulls // upper bound; used only as a hint
  override def isNullAt(i: Int): Boolean = base.isNullAt(map(i))
  override def getBoolean(i: Int): Boolean = base.getBoolean(map(i))
  override def getByte(i: Int): Byte = base.getByte(map(i))
  override def getShort(i: Int): Short = base.getShort(map(i))
  override def getInt(i: Int): Int = base.getInt(map(i))
  override def getLong(i: Int): Long = base.getLong(map(i))
  override def getFloat(i: Int): Float = base.getFloat(map(i))
  override def getDouble(i: Int): Double = base.getDouble(map(i))
  override def getArray(i: Int): org.apache.spark.sql.vectorized.ColumnarArray =
    base.getArray(map(i))
  override def getMap(i: Int): org.apache.spark.sql.vectorized.ColumnarMap =
    base.getMap(map(i))
  override def getDecimal(i: Int, precision: Int, scale: Int): org.apache.spark.sql.types.Decimal =
    base.getDecimal(map(i), precision, scale)
  override def getUTF8String(i: Int): org.apache.spark.unsafe.types.UTF8String =
    base.getUTF8String(map(i))
  override def getBinary(i: Int): Array[Byte] = base.getBinary(map(i))
  // struct/array access routes EVERY row's field read through getChild —
  // cache wrapped children so it is one allocation per batch, not per row
  private var children: Array[org.apache.spark.sql.vectorized.ColumnVector] = _
  override def getChild(ordinal: Int): org.apache.spark.sql.vectorized.ColumnVector = {
    if (children == null)
      children = new Array[org.apache.spark.sql.vectorized.ColumnVector](ordinal + 1)
    else if (children.length <= ordinal)
      children = java.util.Arrays.copyOf(children, ordinal + 1)
    if (children(ordinal) == null)
      children(ordinal) = new DvFilteredVector(base.getChild(ordinal), map)
    children(ordinal)
  }
}

/** Native columnar scan for an accepted variant-extraction pushdown on
  * raw-convertible (append / compacted) tables: parquet reads the SHREDDED
  * physical columns vectorized, and each pushed variant column is served as
  * a zero-copy struct ColumnVector VIEW over those vectors — no variant
  * decode, no row materialization, columnar batches and whole-stage codegen
  * intact. PK tables still needing merge use the V1 [[GraftVariantScan]]
  * (shared merge semantics). */
class GraftVariantBatchScan(t: GraftTable, entries: Seq[ManifestEntry],
                            pushedF: Array[Filter],
                            variantCols: Map[String, Seq[(StructField, String)]],
                            readOpts: Map[String, String],
                            dvMap: Map[String, Array[Byte]],
                            shredPruned: Boolean = false)
    extends GraftBatchScan(t, entries, pushedF, None, readOpts, dvMap)
    with GraftVariantPrunable {

  override def variantColsMap: Map[String, Seq[(StructField, String)]] =
    variantCols

  override protected def freshCopy(es: Seq[ManifestEntry]): GraftBatchScan =
    new GraftVariantBatchScan(t, es, pushedF, variantCols, readOpts, dvMap,
      shredPruned)

  /** Stats-prune the planned entries by a predicate over the SHREDDED
    * physical columns ([[GraftVariantPrune]]): this scan serves only FINAL
    * rows (raw-convertible append / fully-merged PK buckets), so the full
    * value predicate may skip files. Idempotent — the pruned copy returns
    * itself, so the fixed-point user batch converges. */
  override def withShredPrune(extra: org.apache.spark.sql.Column)
      : GraftVariantBatchScan = {
    if (shredPruned) return this
    val fs = t.fileSchema
    val expr = StatsPrune.resolve(t.spark, fs, extra)
    val kept = entries.filter(e =>
      StatsPrune.mightMatch(expr, fs, e.stats, e.rowCount))
    new GraftVariantBatchScan(t, kept, pushedF, variantCols, readOpts,
      dvMap, shredPruned = true)
  }

  private def logicalSchema: StructType =
    StructType(t.schema.sparkSchema.fields.map { f =>
      variantCols.get(f.name)
        .map(fs => f.copy(dataType = StructType(fs.map(_._1))))
        .getOrElse(f)
    })

  /** Columns the parquet reader actually decodes: every non-variant table
    * column plus each pushed column's SOURCE columns (shred columns; the
    * variant binary itself only when a `$` root field was requested). */
  private def physicalSchema: StructType = {
    val fields = t.schema.sparkSchema.fields.flatMap { f =>
      variantCols.get(f.name) match {
        case Some(fs) => fs.map(_._2).distinct.map { src =>
          if (src == f.name) f
          else t.fileSchema.fields.find(_.name == src).getOrElse(
            throw new IllegalStateException(s"missing shred column $src"))
        }
        case None => Seq(f)
      }
    }
    StructType(fields.groupBy(_.name).map(_._2.head).toSeq
      .sortBy(f => fields.indexWhere(_.name == f.name)))
  }

  override def readSchema(): StructType = logicalSchema

  override def createReaderFactory(): PartitionReaderFactory = {
    val (pf, dvf) = GraftBatchScan.parquetFactories(t, physicalSchema, pushedF, dvMap.nonEmpty)
    TaskEndClose(GraftVariantReaderFactory(GraftReaderFactory(pf, dvf),
      physicalSchema, logicalSchema, variantCols))
  }

  override def description(): String =
    s"GraftVariantBatchScan(${t.location}, files=${entries.size}, " +
      s"pushedExtractions=${variantCols.map { case (c, fs) =>
        c + ":" + fs.map(_._2).mkString("[", ",", "]") }.mkString(",")}" +
      (if (shredPruned) ", shredPruned=true" else "") + ")"
}

/** Native columnar scan for a literal-key MAP access rewritten by
  * [[GraftMapShredRule]] (capability of the reference's shared-shredding
  * MAP storage + PushDownMapSelectedKeys.scala:36): each selected MAP
  * column is served as a struct of its declared shredded key sub-columns —
  * the parquet read decodes ONLY those typed side columns, the map value
  * bytes are never touched. Unlike the variant scan this one starts from
  * the already-PRUNED base read schema (the rule runs post-pushdown).
  * Implements [[GraftVariantPrunable]] so filters on `attrs['k']`
  * additionally file-skip via the side columns' min/max stats. */
class GraftMapShredBatchScan(t: GraftTable, entries: Seq[ManifestEntry],
                             pushedF: Array[Filter],
                             baseSchema: StructType,
                             mapCols: Map[String, Seq[(StructField, String)]],
                             readOpts: Map[String, String],
                             dvMap: Map[String, Array[Byte]],
                             shredPruned: Boolean = false)
    extends GraftBatchScan(t, entries, pushedF, Some(baseSchema), readOpts, dvMap)
    with GraftVariantPrunable {

  override def variantColsMap: Map[String, Seq[(StructField, String)]] = mapCols

  override protected def freshCopy(es: Seq[ManifestEntry]): GraftBatchScan =
    new GraftMapShredBatchScan(t, es, pushedF, baseSchema, mapCols, readOpts,
      dvMap, shredPruned)

  override def withShredPrune(extra: org.apache.spark.sql.Column)
      : GraftMapShredBatchScan = {
    if (shredPruned) return this
    val fs = t.fileSchema
    val expr = StatsPrune.resolve(t.spark, fs, extra)
    val kept = entries.filter(e =>
      StatsPrune.mightMatch(expr, fs, e.stats, e.rowCount))
    new GraftMapShredBatchScan(t, kept, pushedF, baseSchema, mapCols, readOpts,
      dvMap, shredPruned = true)
  }

  private def logicalSchema: StructType =
    StructType(baseSchema.fields.map { f =>
      mapCols.get(f.name)
        .map(fs => f.copy(dataType = StructType(fs.map(_._1))))
        .getOrElse(f)
    })

  private def physicalSchema: StructType = {
    val fields = baseSchema.fields.flatMap { f =>
      mapCols.get(f.name) match {
        case Some(fs) => fs.map(_._2).distinct.map { src =>
          t.fileSchema.fields.find(_.name == src).getOrElse(
            throw new IllegalStateException(s"missing map shred column $src"))
        }
        case None => Seq(f)
      }
    }
    StructType(fields.groupBy(_.name).map(_._2.head).toSeq
      .sortBy(f => fields.indexWhere(_.name == f.name)))
  }

  override def readSchema(): StructType = logicalSchema

  override def createReaderFactory(): PartitionReaderFactory = {
    val (pf, dvf) = GraftBatchScan.parquetFactories(t, physicalSchema, pushedF, dvMap.nonEmpty)
    TaskEndClose(GraftVariantReaderFactory(GraftReaderFactory(pf, dvf),
      physicalSchema, logicalSchema, mapCols))
  }

  override def description(): String =
    s"GraftMapShredBatchScan(${t.location}, files=${entries.size}, " +
      s"mapKeys=${mapCols.map { case (c, fs) =>
        c + ":" + fs.map(_._2).mkString("[", ",", "]") }.mkString(",")}" +
      (if (shredPruned) ", shredPruned=true" else "") + ")"
}

/** Struct ColumnVector view assembling a pushed variant column from its
  * serving source vectors (one per extraction, ordinal order). The struct
  * itself is never null — null variants surface as null children, which is
  * exactly what the write-time extraction produced. `close` is a no-op: the
  * children belong to the inner reader's batch. */
private[dsv2] class GraftStructVector(
    tpe: StructType,
    children: Array[org.apache.spark.sql.vectorized.ColumnVector])
    extends org.apache.spark.sql.vectorized.ColumnVector(tpe) {
  override def close(): Unit = ()
  override def hasNull: Boolean = false
  override def numNulls: Int = 0
  override def isNullAt(i: Int): Boolean = false
  override def getChild(ordinal: Int): org.apache.spark.sql.vectorized.ColumnVector =
    children(ordinal)
  private def nope = throw new UnsupportedOperationException("struct view")
  override def getBoolean(i: Int): Boolean = nope
  override def getByte(i: Int): Byte = nope
  override def getShort(i: Int): Short = nope
  override def getInt(i: Int): Int = nope
  override def getLong(i: Int): Long = nope
  override def getFloat(i: Int): Float = nope
  override def getDouble(i: Int): Double = nope
  override def getArray(i: Int): org.apache.spark.sql.vectorized.ColumnarArray = nope
  override def getMap(i: Int): org.apache.spark.sql.vectorized.ColumnarMap = nope
  override def getDecimal(i: Int, p: Int, s: Int): org.apache.spark.sql.types.Decimal = nope
  override def getUTF8String(i: Int): org.apache.spark.unsafe.types.UTF8String = nope
  override def getBinary(i: Int): Array[Byte] = nope
}

/** Reader factory bridging physical (shred columns decoded) batches to the
  * logical variant-struct shape. Columnar: output columns are the physical
  * vectors, with each pushed variant column replaced by a
  * [[GraftStructVector]] view — zero copy. Row path: an UnsafeProjection
  * built executor-side (CreateNamedStruct over the source fields). */
case class GraftVariantReaderFactory(inner: GraftReaderFactory,
                                     physicalSchema: StructType,
                                     logicalSchema: StructType,
                                     variantCols: Map[String, Seq[(StructField, String)]])
    extends PartitionReaderFactory {
  import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

  override def supportColumnarReads(p: InputPartition): Boolean =
    inner.supportColumnarReads(p)

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[ColumnarBatch] = {
    val in = inner.createColumnarReader(p)
    val physIdx = physicalSchema.fieldNames.zipWithIndex.toMap
    new PartitionReader[ColumnarBatch] {
      override def next(): Boolean = in.next()
      override def get(): ColumnarBatch = {
        val b = in.get()
        val out: Array[ColumnVector] = logicalSchema.fields.map { f =>
          variantCols.get(f.name) match {
            case Some(fs) => new GraftStructVector(
              StructType(fs.map(_._1)),
              fs.map { case (_, src) => b.column(physIdx(src)) }.toArray)
            case None => b.column(physIdx(f.name))
          }
        }
        new ColumnarBatch(out, b.numRows())
      }
      override def close(): Unit = in.close()
    }
  }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    import org.apache.spark.sql.catalyst.expressions._
    val in = inner.createReader(p)
    val physIdx = physicalSchema.fieldNames.zipWithIndex.toMap
    val outExprs: Seq[Expression] = logicalSchema.fields.toSeq.map { f =>
      def ref(name: String): Expression = {
        val i = physIdx(name)
        val pf = physicalSchema.fields(i)
        BoundReference(i, pf.dataType, pf.nullable)
      }
      variantCols.get(f.name) match {
        case Some(fs) => CreateNamedStruct(fs.flatMap { case (sf, src) =>
          Seq(Literal(sf.name), ref(src)) }.toSeq)
        case None => ref(f.name)
      }
    }
    val proj = UnsafeProjection.create(outExprs)
    new PartitionReader[InternalRow] {
      override def next(): Boolean = in.next()
      override def get(): InternalRow = proj(in.get())
      override def close(): Unit = in.close()
    }
  }
}
