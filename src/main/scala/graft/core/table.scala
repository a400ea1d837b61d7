package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SparkShims
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

import graft.functions.GraftAggs
import java.util.UUID

/**
 * A graft table: versioned, snapshot-isolated, bucketed parquet storage with
 * LSM-style merge-on-read semantics for primary-key tables.
 *
 * Capability parity targets (apache/paimon, cites into /root/reference):
 *  - PK tables with merge engines deduplicate / partial-update / aggregation /
 *    first-row (paimon-core/.../mergetree/compact/DeduplicateMergeFunction.java:32,
 *    PartialUpdateMergeFunction.java:65, aggregate/AggregateMergeFunction.java,
 *    FirstRowMergeFunction.java) — expressed as window/groupBy plans so
 *    Catalyst plans partial aggregation + whole-stage codegen.
 *  - Append-only tables (paimon-core/.../table/AppendOnlyFileStoreTable.java).
 *  - Snapshots, time travel, incremental reads, tags (Snapshot.java:44).
 *
 * Design notes for 100 TB scale:
 *  - Data movement is entirely DataFrame-planned (shuffle by partition+bucket,
 *    Spark parquet committer); the driver touches only metadata.
 *  - Stats collection is a distributed aggregation over the just-written
 *    files, grouped by `input_file_name()` (one pass, map-side combined).
 *  - Reads hand Spark an explicit file list + schema: no inference, parquet
 *    footer pruning and filter pushdown still apply per file.
 *  - Buckets with a single (compacted) file and no tombstones take the raw
 *    path (no shuffle); only overlapping buckets pay the merge window.
 */
class GraftTable private (
    val spark: SparkSession,
    val location: String,
    val sm: SnapshotManager) {

  import GraftTable._

  def schema: TableSchema = sm.latestSchema
  def config: TableConfig = schema.config
  private[graft] def dataSchema: StructType = schema.sparkSchema
  private[core] def pks: Seq[String] = config.primaryKeys
  private[graft] def isPk: Boolean = config.isPrimaryKeyed

  /** VARIANT shredding specs: `fields.<col>.shred = $.path:type[,...]` —
    * the write materializes each extraction as a typed physical column
    * (name [[GraftTable.shredColName]]) alongside the variant binary, with
    * full min/max stats; extraction reads then touch ONLY those columns
    * (capability of paimon variant shredding + extraction pushdown —
    * independent of table kind; PK tables need a dedup-family merge engine,
    * read/PaimonSupportsPushDownVariantExtractions.scala,
    * paimon-common/.../data/shredding/). */
  private[graft] def shredSpecs: Map[String, Seq[(String, String)]] =
    config.options.collect {
      case (k, v) if k.startsWith("fields.") && k.endsWith(".shred") =>
        k.stripPrefix("fields.").stripSuffix(".shred") ->
          v.split(",").toSeq.map { s =>
            val i = s.lastIndexOf(':')
            (s.take(i).trim, s.drop(i + 1).trim)
          }
    } ++ mapShredKeySpecs

  /** MAP shredding: `fields.<col>.shred-keys = k1,k2` on a MAP<STRING, V>
    * column materializes each declared key's value as a typed physical
    * column (same [[GraftTable.shredColName]] scheme and stats as variant
    * shredding) — `SELECT attrs['k1']` then reads ONLY that sub-column and
    * filters on it file-skip (capability of paimon shared-shredding MAP
    * storage + PushDownMapSelectedKeys.scala:36, re-expressed as declared
    * hot-key side columns). Spec value type = the map's value type. */
  private def mapShredKeySpecs: Map[String, Seq[(String, String)]] =
    config.options.collect {
      case (k, v) if k.startsWith("fields.") && k.endsWith(".shred-keys") =>
        val c = k.stripPrefix("fields.").stripSuffix(".shred-keys")
        val vt = dataSchema.fields.find(_.name == c).map(_.dataType) match {
          case Some(MapType(StringType, valueType, _)) => valueType.sql
          case Some(other) => throw new IllegalArgumentException(
            s"fields.$c.shred-keys requires MAP<STRING, ...>, got ${other.sql}")
          case None => throw new IllegalArgumentException(
            s"fields.$c.shred-keys: no such column $c")
        }
        c -> v.split(",").toSeq.map(_.trim).filter(_.nonEmpty).map(key => (key, vt))
    }

  /** Declared map shred keys per MAP column:
    * column → (value type, key → serving physical shred column). */
  private[graft] def mapShredSpecs: Map[String, (DataType, Map[String, String])] =
    shredSpecs.toSeq.flatMap { case (c, specs) =>
      dataSchema.fields.find(_.name == c).map(_.dataType) match {
        case Some(MapType(StringType, vt, _)) =>
          Some(c -> (vt, specs.zipWithIndex.map { case ((k, _), i) =>
            k -> GraftTable.shredColName(c, i) }.toMap))
        case _ => None
      }
    }.toMap

  private[core] def shredFields: Seq[StructField] =
    shredSpecs.toSeq.sortBy(_._1).flatMap { case (c, specs) =>
      specs.zipWithIndex.map { case ((_, tp), i) =>
        StructField(shredColName(c, i), DataType.fromDDL(tp))
      }
    }

  /** Row tracking (paimon row-tracking / `t$row_tracking`): append tables
    * with `row-tracking.enabled` carry a stable per-row id assigned at
    * ingest ((commit sequence << 48) + in-commit position) that SURVIVES
    * compaction rewrites — row lineage across file reorganizations. */
  private[graft] def isRowTracking: Boolean =
    !isPk && config.option("row-tracking.enabled", "false") == "true"

  /** Data-file format (paimon `file.format`, CoreOptions FILE_FORMAT):
    * parquet (default) / orc / csv / json — manifests, indexes and
    * changelog files stay parquet (internal metadata, format-invariant).
    * Deletion vectors and the native columnar DSv2 scan require parquet
    * (`_metadata.row_index` / vectorized reader); other formats read
    * through the DataFrame plan. */
  private[graft] def fileFormat: String = config.option("file.format", "parquet")

  /** Clustering columns when `pk-clustering-override` is on (else empty). */
  private[graft] def clusteringOverride: Seq[String] =
    if (config.option("pk-clustering-override", "false") == "true")
      config.option("clustering.columns", "")
        .split(',').map(_.trim).filter(_.nonEmpty).toSeq
    else Nil

  /** Reader/writer options for the data-file format: format-prefixed table
    * options pass through (e.g. `parquet.bloom.filter...`, `orc.compress`);
    * csv gets an explicit null marker so null and empty string round-trip
    * distinctly. */
  private[graft] def fmtOptions: Map[String, String] =
    (if (fileFormat == "csv") Map("nullValue" -> "\\N")
     else Map.empty[String, String]) ++
      config.options.get("file.compression").map("compression" -> _) ++
      config.options.filter(_._1.startsWith(fileFormat + "."))

  /** Read data files in the table's format with an explicit schema.
    * `basePath` set ⇒ paths live under a partitioned staging dir and the
    * schema's trailing partition columns resolve from directory values. */
  private[graft] def readDataFiles(sch: StructType, paths: Seq[String],
                                   basePath: Option[String] = None): DataFrame = {
    val r = spark.read.schema(sch).options(fmtOptions)
    basePath.foreach(b => r.option("basePath", b))
    r.format(formatProvider).load(paths: _*)
  }

  /** Spark datasource name for the table's file format ("avro" and "row"
    * map to the engine's own FileFormats — Spark ships neither). */
  private[graft] def formatProvider: String = fileFormat match {
    case "avro" => "graft-avro"
    case "row" => "graft-row"
    case f => f
  }

  /** Schema of data files on disk (adds LSM envelope cols for PK tables;
    * cf. paimon KeyValue envelope, SURVEY §1.3; adds shredded variant
    * extraction columns and the row-tracking id for append tables). */
  def fileSchema: StructType = {
    if (!isPk) StructType(dataSchema.fields ++ shredFields ++
      (if (isRowTracking) Seq(StructField(ROW_ID, LongType)) else Nil))
    else StructType(dataSchema.fields ++ shredFields ++ Array(
      StructField(SEQ, LongType, false),
      StructField(SEQ2, LongType, false),
      StructField(COMMIT, LongType, false),
      StructField(POS, LongType, true), // per-record input position (tiebreak)
      StructField(KIND, IntegerType, false)))
  }

  // ------------------------------------------------------------------
  // WRITE PATH
  // ------------------------------------------------------------------

  /** Next commit sequence (== next snapshot id under single writer). */
  private[core] def nextCommitSeq: Long = sm.latestSnapshotId.getOrElse(0L) + 1

  /** Align an input frame to the table schema (by name, with implicit cast —
    * cf. paimon PaimonAnalysis.scala output resolution). Missing columns
    * take their configured DEFAULT value (`fields.<name>.default-value`,
    * paimon column default values) or null. A FIXED vector dimension
    * (`fields.<name>.dimension`, the reference's VECTOR<t, n> metadata —
    * vector.mdx:184 `<index-type>.dimension` per-field form) is enforced at
    * write: a mismatched array fails the job instead of silently corrupting
    * every index built over the column. */
  private def align(df: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    val cols = dataSchema.fields.map { f =>
      val base =
        if (df.columns.contains(f.name)) col(f.name).cast(f.dataType)
        else config.options.get(s"fields.${f.name}.default-value")
          .map(v => lit(v).cast(f.dataType))
          .getOrElse(lit(null).cast(f.dataType))
      val checked = config.options.get(s"fields.${f.name}.dimension") match {
        case Some(d) if f.dataType.isInstanceOf[ArrayType] =>
          when(base.isNull || size(base) === d.toInt, base)
            .otherwise(raise_error(concat(
              lit(s"${f.name}: fixed vector dimension $d, got length "),
              size(base).cast("string"))))
        case _ => base
      }
      checked.as(f.name)
    } ++ keep.filter(df.columns.contains).map(col)
    df.select(cols.toIndexedSeq: _*)
  }

  /** sequence.field may name MULTIPLE fields ("update_time,flag",
    * sequence-rowkind.mdx:60) — compared in order; the engine carries the
    * first in __seq and the second in __seq2 (constant 0 when unused). */
  private[core] def seqFields: Seq[String] =
    config.sequenceField.toSeq.flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))

  private def seqFieldSurrogate(f: String): Column = {
    val dt = dataSchema.fields.find(_.name == f)
      .getOrElse(throw new IllegalArgumentException(s"sequence field $f missing"))
      .dataType
    val v = dt match {
      case _: TimestampType | _: TimestampNTZType => unix_micros(col(f).cast(TimestampType))
      case _: DateType => col(f).cast(IntegerType).cast(LongType)
      case _ => col(f).cast(LongType)
    }
    // sequence.field.sort-order=descending: SMALLER values are newer
    if (config.option("sequence.field.sort-order", "ascending")
        .toLowerCase == "descending") -v else v
  }

  private def seqExpr(commitSeq: Long): Column = seqFields match {
    case f +: _ => seqFieldSurrogate(f)
    case _ => lit(commitSeq)
  }

  private def seq2Expr: Column = seqFields match {
    case Seq(_, f2) => seqFieldSurrogate(f2)
    case fs if fs.size > 2 =>
      throw new IllegalArgumentException(
        s"at most 2 sequence fields supported, got ${fs.mkString(",")}")
    case _ => lit(0L)
  }

  /** POSTPONE bucket mode (paimon BucketMode.java:69, `bucket = -2`): fresh
    * writes land UNBUCKETED in a staging bucket (-2) with no shuffle at all;
    * the data becomes readable only once compaction hash-routes it into
    * `postpone.default-bucket-num` real buckets — the write path for
    * ingest-heavy tables where per-write shuffles are the bottleneck.
    * Incremental/streaming consumers of a postpone table should pair it
    * with `changelog-producer=full-compaction`: the compaction that makes
    * data visible also emits the exact changelog window. */
  /** Configured per-data-file secondary indexes (bloom-filter / bitmap /
    * bsi — see [[FileIndexes]]); built by every writeFiles pass. */
  private[core] def fileIndexSpecs: Seq[FileIndexSpec] =
    FileIndexes.specsOf(config.options, fileSchema)

  private[graft] def isPostpone: Boolean = isPk && config.numBuckets == -2
  private[core] def postponeBuckets: Int =
    config.option("postpone.default-bucket-num", "4").toInt

  // ------------------------------------------------------------------
  // POSTPONE FIXED-BUCKET BATCH WRITE (the reference's DEFAULT flow)
  // ------------------------------------------------------------------

  /** `postpone.batch-write-fixed-bucket` (default true, reference
    * CoreOptions POSTPONE_BATCH_WRITE_FIXED_BUCKET +
    * docs/primary-key-table/data-distribution.md:73-105): batch writes to a
    * postpone table stage to bucket -2, infer per-partition bucket counts
    * from the STAGED metadata, route to real buckets and commit — every
    * batch is immediately visible. `false` keeps the legacy flow: staging
    * commits invisibly and only `CALL compact` makes it readable. */
  private[graft] def postponeFixedEnabled: Boolean =
    isPostpone &&
      config.option("postpone.batch-write-fixed-bucket", "true") == "true"

  /** Explicitly configured `postpone.default-bucket-num` (no default in the
    * reference — [[postponeBuckets]]' "4" is this repo's legacy-flow
    * fallback only and must NOT count as "configured" here). */
  private def configuredPostponeDefault: Option[Int] =
    config.options.get("postpone.default-bucket-num").map(_.toInt)

  private def postponeTargetRows: Option[Long] =
    config.options.get("postpone.target-row-num-per-bucket").map(_.toLong)
  private def postponeTargetBytes: Long =
    graft.pipeline.Blob.parseMemorySize(
      config.option("postpone.target-size-per-bucket", "1gb"))

  private def ceilDiv(v: Long, d: Long): Long = if (v <= 0) 0L else (v - 1) / d + 1
  private def roundUpPow2(v: Long, cap: Int): Int = {
    val c = math.min(v, cap.toLong).toInt
    if (c <= 1) 1
    else math.min(java.lang.Integer.highestOneBit(c - 1) << 1, cap)
  }

  /** Bucket-count decision for ONE partition from an exactly-measured
    * staged batch — mirrors the reference's
    * PostponeUtils.decideFixedBucketNum (paimon-core/.../table/
    * PostponeUtils.java:284). Returns (targetBucketNum, requiresRescale).
    * A partition without real buckets uses a configured default EXACTLY;
    * otherwise the requirement comes from `postpone.target-row-num-per-
    * bucket` (precedence) or `postpone.target-size-per-bucket` (default
    * 1 GB), is at least 1, rounds up to a power of two and caps at
    * `postpone.batch-write-fixed-bucket.max-parallelism`. An existing
    * layout is kept unless the UNCAPPED requirement exceeds it by
    * `rescale-load-factor` (default 32) AND the capped suggestion is
    * actually larger. */
  private[graft] def decideFixedBucketNum(stagedRows: Long, stagedBytes: Long,
      existing: Option[Int]): (Int, Boolean) = {
    if (existing.isEmpty && configuredPostponeDefault.isDefined)
      return (configuredPostponeDefault.get, false)
    val maxN = math.max(1, config.option(
      "postpone.batch-write-fixed-bucket.max-parallelism", "2048").toInt)
    val loadFactor = math.max(1, config.option(
      "postpone.batch-write-fixed-bucket.rescale-load-factor", "32").toInt)
    val required = math.max(1L, postponeTargetRows match {
      case Some(t) => ceilDiv(stagedRows, t)
      case None => ceilDiv(stagedBytes, postponeTargetBytes)
    })
    val suggested = roundUpPow2(required, maxN)
    existing match {
      case None => (suggested, false)
      case Some(n) =>
        val rescale = required > n.toLong * loadFactor && suggested > n
        (if (rescale) suggested else n, rescale)
    }
  }

  /** PT-hash → real bucket count for partitions holding real buckets —
    * durable via ManifestEntry.totalBuckets (cf. reference
    * PostponeUtils.getKnownNumBuckets reading SimpleFileEntry
    * .totalBuckets). Pre-field files fall back to the legacy table-wide
    * routing count (they were routed with it). */
  private[core] def knownBucketCounts(live: Seq[ManifestEntry]): Map[String, Int] =
    live.filter(_.bucket >= 0).groupBy(e => GraftTable.ptOfPath(e.path))
      .map { case (pt, es) =>
        val stamped = es.map(_.totalBuckets).filter(_ > 0)
        pt -> (if (stamped.nonEmpty) stamped.max
               else math.max(es.map(_.bucket).max + 1, postponeBuckets))
      }

  /** Real-bucket routing for postpone rows with a PER-PARTITION modulus
    * (different partitions may carry different bucket counts). Row-local
    * expression: map-literal lookup on the PT hash, no join, no shuffle
    * beyond the writer's own routing repartition. */
  private[core] def postponeRouteExpr(countsByPt: Map[String, Int],
                                      default: Int): Column = {
    val routeCols = fixedBucketKeys.getOrElse(pks).map(col)
    val modulus =
      if (countsByPt.isEmpty) lit(default.toLong)
      else coalesce(element_at(typedLit(countsByPt), col(PT)), lit(default))
        .cast(LongType)
    pmod(xxhash64(routeCols.toIndexedSeq: _*), modulus).cast(IntegerType)
  }

  /** Legacy-compaction bucket resolution (reference data-distribution.md
    * `batch-write-fixed-bucket=false` paragraph): partitions with real
    * buckets keep their number; first-compacted partitions use a configured
    * `postpone.default-bucket-num` exactly, else estimate from the staged
    * files' rows/size (no power-of-two rounding in the legacy path). */
  private[core] def postponeCompactCounts(live: Seq[ManifestEntry]): Map[String, Int] = {
    val known = knownBucketCounts(live)
    val staged = live.filter(_.bucket == -2).groupBy(e => GraftTable.ptOfPath(e.path))
    live.groupBy(e => GraftTable.ptOfPath(e.path)).keySet.map { pt =>
      pt -> known.getOrElse(pt, configuredPostponeDefault.getOrElse {
        val es = staged.getOrElse(pt, Nil)
        val n = postponeTargetRows match {
          case Some(t) => ceilDiv(es.map(_.rowCount).sum, t)
          case None => ceilDiv(es.map(_.fileSize).sum, postponeTargetBytes)
        }
        math.max(1L, n).toInt
      })
    }.toMap
  }

  /** The reference's DEFAULT postpone batch write (data-distribution
    * .md:73-105, PaimonSparkWriter.scala:89): (1) stage the batch to
    * UNCOMMITTED bucket -2 files; (2) derive each touched partition's row
    * count + file size from the staged metadata alone (no input re-scan,
    * no caching); (3) decide per-partition real bucket counts; (4) rescale
    * any partition whose layout must grow as a SEPARATE overwrite commit
    * (real buckets only — previously committed -2 staging is never read,
    * rewritten or deleted here); (5) route the staged records to real
    * buckets and return the ADD entries — the caller's commit makes the
    * batch visible. Staged files stay uncommitted (orphan-swept later).
    * The staged envelope (SEQ/COMMIT assigned at staging) rides through
    * routing, so merge order matches a direct write. */
  private def postponeFixedAdds(df: DataFrame,
                                forOverwrite: Boolean = false): Seq[ManifestEntry] = {
    // direct path (reference PaimonSparkWriter.scala:133): a configured
    // default is used EXACTLY for overwrites or when no real buckets exist
    // anywhere yet — skip the staging pass entirely. The existence check is
    // a bounded probe (driver fold small tables, executor limit-1 above the
    // plan threshold), never a full live-set materialization.
    if (configuredPostponeDefault.isDefined &&
        (forOverwrite || !anyLiveRealBucket())) {
      val n = configuredPostponeDefault.get
      return writeFiles(df, bucketOverride = Some(postponeRouteExpr(Map.empty, n)))
        .map(e => if (e.bucket >= 0) e.copy(totalBuckets = n) else e)
    }
    val staged = writeFiles(df)
    if (staged.isEmpty) return Nil
    val stagedByPt = staged.groupBy(e => GraftTable.ptOfPath(e.path))
    // existing layouts of the TOUCHED partitions only — executor-side fold
    // above the plan threshold (a batch touches its partitions, not the
    // table's 10^7-file manifest set)
    val stagedPts = stagedByPt.keySet
    val known =
      if (forOverwrite) Map.empty[String, Int]
      else knownBucketCounts(sm.latestSnapshot.map(snap =>
        liveEntriesWhere(snap)(e =>
          e.bucket >= 0 && stagedPts.contains(GraftTable.ptOfPath(e.path))))
        .getOrElse(Nil))
    val decisions = stagedByPt.map { case (pt, es) =>
      pt -> decideFixedBucketNum(es.map(_.rowCount).sum,
        es.map(_.fileSize).sum, known.get(pt))
    }
    val rescaleCounts = decisions.collect { case (pt, (n, true)) => pt -> n }
    if (rescaleCounts.nonEmpty && !forOverwrite)
      rescalePostponePartitions(rescaleCounts)
    val counts = decisions.map { case (pt, (n, _)) => pt -> n }
    val routed = readEntries(staged, withInternal = true)
    writeFiles(routed, preMerged = true,
      bucketOverride = Some(postponeRouteExpr(counts, postponeBuckets)),
      totalBucketsByPt = counts)
  }

  /** Rescale: rewrite the REAL buckets of the given partitions to their new
    * counts as one separate overwrite commit (merging while rewriting —
    * it is a full per-partition rewrite). Deletion vectors of rewritten
    * files materialize; vectors on untouched files carry forward. */
  private def rescalePostponePartitions(newCounts: Map[String, Int]): Unit = {
    val pts = newCounts.keySet
    val victims = sm.latestSnapshot.map(snap => liveEntriesWhere(snap)(e =>
      e.bucket >= 0 && pts.contains(GraftTable.ptOfPath(e.path)))).getOrElse(Nil)
    if (victims.isEmpty) return
    val dv = dvFor(None)
    val merged = MergeEngines.merge(
      readEntries(victims, withInternal = true, dv), config, dataSchema)
    val adds = writeFiles(merged, preMerged = true, level = 1,
      bucketOverride = Some(postponeRouteExpr(newCounts, postponeBuckets)),
      totalBucketsByPt = newCounts)
    val victimPaths = victims.map(_.path).toSet
    val remaining = sm.latestSnapshot.flatMap(_.dvIndex)
      .map(n => sm.readDvIndex(n).filterNot { case (rel, _) =>
        victimPaths.contains(rel) })
      .getOrElse(Map.empty)
    val dvAction: Option[Option[String]] =
      Some(if (remaining.isEmpty) None else Some(sm.writeDvIndex(remaining)))
    sm.commit(victims.map(_.copy(kind = 1)) ++ adds, "OVERWRITE",
      s"rescale-${UUID.randomUUID().toString.take(8)}", schema.id,
      dvAction = dvAction)
  }

  /** Partitions whose real-bucket files carry MORE THAN ONE routing layout
    * (distinct positive totalBuckets stamps). Possible only on postpone
    * fixed-bucket tables, when an append routed with a stale per-partition
    * count commits concurrently with a rescale (both commits are valid —
    * optimistic concurrency doesn't serialize decisions). The same pk can
    * then live in two different buckets, so NO bucket of such a partition
    * may serve raw: the global-by-pk merge resolves it correctly, and the
    * next compaction/rescale heals the layout. (The reference throws on
    * this mismatch — getKnownNumBuckets IllegalStateException; merging is
    * the strictly friendlier recovery.) */
  private def mixedLayoutParts(entries: Seq[ManifestEntry])
      : Set[Map[String, String]] =
    if (!isPostpone) Set.empty
    else entries.filter(e => e.bucket >= 0 && e.totalBuckets > 0)
      .groupBy(_.partition)
      .filter { case (_, es) => es.map(_.totalBuckets).distinct.size > 1 }
      .keySet

  /** Bounded existence probe for real-bucket entries: driver fold below
    * the plan threshold, executor limit-1 above it — never a full live-set
    * materialization (the fixed-bucket direct-path gate at 10^7 files). */
  private def anyLiveRealBucket(): Boolean = sm.latestSnapshot.exists { snap =>
    if (snap.liveFilesLong.exists(_ >= sm.planDfThreshold))
      !sm.liveEntriesDf(spark, snap).filter(col("bucket") >= 0).limit(1).isEmpty
    else sm.liveEntries(snap).exists(_.bucket >= 0)
  }

  /** Committed postpone staging entries (bucket -2) visible to a batch read
    * under `postpone.merge-on-read=true` (reference CoreOptions
    * POSTPONE_MERGE_ON_READ, default false; PostponeMergeOnReadExec) —
    * merged with real buckets instead of waiting for compaction. Pruned by
    * the same merge-safe stats test as planned entries; the staging fold
    * runs executor-side above the plan threshold. */
  private[graft] def stagedMorEntries(snapshotId: Option[Long],
                                      filter: Option[Column]): Seq[ManifestEntry] = {
    if (!isPostpone ||
        config.option("postpone.merge-on-read", "false") != "true") return Nil
    val snap = snapshotId.map(sm.readSnapshot).orElse(sm.latestSnapshot)
      .getOrElse(return Nil)
    val staged = liveEntriesWhere(snap)(_.bucket == -2)
    if (staged.isEmpty) return Nil
    val fs = fileSchema
    filter.flatMap(c => pruneExpr(fs, c)) match {
      case Some(expr) =>
        staged.filter(e => StatsPrune.mightMatch(expr, fs, e.stats, e.rowCount))
      case None => staged
    }
  }

  /** Hash-bucket routing (cf. paimon DefaultBucketFunction.java:31 — ours is
    * xxhash64-based; stability matters only within this format).
    * `forCompact`: postpone tables route to REAL buckets at compaction. */
  private def bucketExpr(forCompact: Boolean = false): Column = {
    // hash-routing columns: trimmed pk (or explicit bucket-key) — shared
    // with routingKeys so plan-time bucket pruning matches the write path
    def routeCols: Seq[Column] =
      fixedBucketKeys.getOrElse(pks).map(col)
    if (isPostpone)
      if (forCompact)
        pmod(xxhash64(routeCols.toIndexedSeq: _*), lit(postponeBuckets.toLong)).cast(IntegerType)
      else lit(-2)
    else if (isPk) pmod(xxhash64(routeCols.toIndexedSeq: _*), lit(config.numBuckets)).cast(IntegerType)
    else fixedBucketKeys match {
      // bucketed append table (paimon append-table/bucketed.mdx:30
      // `bucket-key`): rows hash-route so `=`/`IN` on the full key prunes
      // to one bucket's files at plan time
      case Some(keys) =>
        pmod(xxhash64(keys.map(col).toIndexedSeq: _*), lit(config.numBuckets)).cast(IntegerType)
      case None => lit(0)
    }
  }

  /** Bucket-routing keys when files are hash-routed with a FIXED bucket
    * count: PK tables (HASH_FIXED) and bucketed append tables
    * (`bucket-key`). None for dynamic (-1) / postpone (-2) modes and plain
    * append tables — their bucket ids are not a function of the row. */
  private[graft] def fixedBucketKeys: Option[Seq[String]] =
    GraftTable.routingKeys(config)

  /** Filesystem-safe 64-bit partition hash (real values live inside the
    * files and in manifest stats — no Hive path-escaping roundtrips). */
  private def ptExpr: Column = {
    val partCols = config.partitionKeys
    if (partCols.isEmpty) lit("-")
    else format_string("%016x", xxhash64(
      partCols.map(c => coalesce(col(c).cast(StringType), lit("__NULL__"))).toIndexedSeq: _*))
  }

  /** HASH_DYNAMIC mode: `bucket = -1` (paimon BucketMode.java:46,
    * index/HashBucketAssigner). */
  private[graft] def isDynamicBucket: Boolean = isPk && config.numBuckets == -1

  /** KEY_DYNAMIC mode (paimon BucketMode.java:55, crosspartition/
    * GlobalIndexAssigner): dynamic-bucket PK table whose primary key does
    * NOT contain the partition key — an upsert may MOVE a key across
    * partitions, so the write consults a global key index and emits a
    * delete tombstone into the key's previous partition. */
  private[graft] def isCrossPartition: Boolean =
    isDynamicBucket && config.partitionKeys.nonEmpty &&
      !config.partitionKeys.forall(pks.contains)

  // ------------------------------------------------------------------
  // DYNAMIC BUCKET INDEX (persisted key-hash → bucket assignment)
  // ------------------------------------------------------------------

  private def bucketIndexDir = new Path(location, "index/bucket-index")
  private def bucketCountsPath = new Path(location, "index/bucket-counts.json")

  private def readBucketCounts(): Map[String, Long] =
    if (!sm.fs.exists(bucketCountsPath)) Map.empty
    else {
      val m = Json.mapper.readValue(sm.readString(bucketCountsPath),
        classOf[java.util.Map[String, Any]])
      import scala.jdk.CollectionConverters._
      m.asScala.map { case (k, v) => k -> v.asInstanceOf[Number].longValue }.toMap
    }

  /**
   * Assign a bucket to every row of `df` (which already carries PT):
   * existing keys route through the persisted index (a key must ALWAYS land
   * in its original bucket, or LSM merge breaks); new keys pack into buckets
   * of `dynamic-bucket.target-row-count` keys each, growing the bucket count
   * monotonically per partition. The assignment join and the new-key
   * row_number both shuffle only this batch's distinct keys — the index scan
   * is a parquet read, nothing driver-side except the per-partition counters.
   */
  private def assignDynamicBuckets(df: DataFrame): DataFrame = {
    // reference key is target-row-num; the -count spelling predates it here
    val target = config.options.get("dynamic-bucket.target-row-num")
      .orElse(config.options.get("dynamic-bucket.target-row-count"))
      .getOrElse("100000").toLong
    val KH = "__kh"
    val khExpr = xxhash64(pks.map(col).toIndexedSeq: _*)
    val batchKeys = df.select(col(PT), khExpr.as(KH)).distinct()
    val indexSchema = StructType(Seq(StructField(KH, LongType),
      StructField(BUCKET, IntegerType), StructField(PT, StringType)))
    // the index is PARTITIONED by __pt on disk: a write touching few
    // partitions reads only those partitions' index files, not the table's
    // whole key population (explicit schema — hex __pt values must never
    // go through partition-type inference). Batch partitions are collected
    // once; very wide batches (>1000 partitions) skip the filter.
    val batchPts: Seq[String] = {
      import spark.implicits._
      df.select(PT).distinct().as[String].take(1001).toSeq
    }
    def readIndex(): DataFrame = {
      val raw = spark.read.schema(indexSchema)
        .option("basePath", bucketIndexDir.toString)
        .parquet(bucketIndexDir.toString)
      if (batchPts.size <= 1000) raw.filter(col(PT).isin(batchPts: _*)) else raw
    }
    val index: DataFrame =
      if (sm.fs.exists(bucketIndexDir)) readIndex()
      else spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        indexSchema)
    val joined = batchKeys.join(index, Seq(PT, KH), "left")
    val known = joined.filter(col(BUCKET).isNotNull)
    val newKeys = joined.filter(col(BUCKET).isNull).drop(BUCKET)
    val counts = readBucketCounts()
    val countRows = counts.toSeq.map { case (pt, n) => (pt, n) }
    val countDf =
      if (countRows.isEmpty)
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
          StructType(Seq(StructField(PT, StringType), StructField("__base", LongType))))
      else {
        import spark.implicits._
        countRows.toDF(PT, "__base")
      }
    val w = Window.partitionBy(col(PT)).orderBy(col(KH))
    val assigned = newKeys
      .join(broadcast(countDf), Seq(PT), "left")
      .withColumn("__base", coalesce(col("__base"), lit(0L)))
      .withColumn("__rn", row_number().over(w))
      // dynamic-bucket.initial-buckets: early keys SPREAD round-robin over
      // that many buckets instead of filling bucket 0 first (parallel
      // first-load); dynamic-bucket.max-buckets caps growth — once the
      // sequential id passes max*target, new keys wrap onto existing
      // buckets (paimon MAX_BUCKETS semantics, -1 = unbounded)
      .withColumn("__sid", col("__base") + col("__rn") - 1)
      .withColumn(BUCKET, {
        val initial = config.option("dynamic-bucket.initial-buckets", "-1").toInt
        val maxB = config.option("dynamic-bucket.max-buckets", "-1").toInt
        val seqB =
          if (initial > 0)
            when(col("__sid") < initial * target, pmod(col("__sid"), lit(initial)))
              .otherwise(col("__sid") / target)
          else col("__sid") / target
        (if (maxB > 0) pmod(seqB.cast(LongType), lit(maxB.toLong)) else seqB)
          .cast(IntegerType)
      })
      .select(col(PT), col(KH), col(BUCKET))
    // persist new assignments + advance per-partition counters, THEN route
    // the batch through the refreshed on-disk index — the routing plan must
    // not re-derive "new keys" lazily after the index already contains them
    val newAssigned = assigned.cache()
    val perPt = newAssigned.groupBy(PT).agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    if (perPt.nonEmpty) {
      newAssigned.select(col(KH), col(BUCKET), col(PT))
        .write.mode("append").partitionBy(PT).parquet(bucketIndexDir.toString)
      val updated = (counts.keySet ++ perPt.keySet).map { pt =>
        pt -> (counts.getOrElse(pt, 0L) + perPt.getOrElse(pt, 0L))
      }.toMap
      sm.writeString(bucketCountsPath, Json.write(updated))
    }
    newAssigned.unpersist()
    val freshIndex = if (sm.fs.exists(bucketIndexDir)) readIndex() else index
    df.withColumn(KH, khExpr)
      .join(freshIndex.select(col(PT), col(KH), col(BUCKET)), Seq(PT, KH))
      .drop(KH)
  }

  /**
   * Write `df` as new data files under data/c-<uuid>/ and return manifest
   * ADD entries. No commit — caller composes the delta. Files are invisible
   * until a snapshot references them.
   *
   * `preMerged` marks frames that already carry the LSM envelope
   * (compaction / upsert-with-kinds paths).
   */
  /** Declared blob-storage columns (reference multimodal-table/blob.mdx
    * comment directives → table options): `blob-field` splits payloads to
    * `.bin` files under `<loc>/blob/` at write; `blob-descriptor-field`
    * stores serialized descriptor bytes inline; `blob-view-field` stores
    * serialized upstream references resolved at read. */
  private def optCols(key: String): Seq[String] =
    config.options.get(key).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
  private[graft] def blobFieldCols: Seq[String] = optCols("blob-field")
  private[graft] def blobDescriptorCols: Seq[String] = optCols("blob-descriptor-field")
  private[graft] def blobViewCols: Seq[String] = optCols("blob-view-field")

  /** Columns whose READ output differs from the stored bytes under the
    * given per-read options — the DSv2 scan serves projections touching
    * them through the DataFrame plan (where [[resolveBlobRead]] runs). */
  private[graft] def blobReadTransformCols(readOpts: Map[String, String]): Set[String] = {
    def opt(k: String, dflt: String) = readOpts.getOrElse(k, config.option(k, dflt))
    val resolveBytes = opt("blob-as-descriptor", "false") != "true"
    val resolveViews = opt("blob-view.resolve.enabled", "true") != "false"
    ((if (resolveBytes) blobFieldCols ++ blobDescriptorCols else Nil) ++
      (if (resolveViews) blobViewCols else Nil)).toSet
  }

  def writeFiles(dfIn: DataFrame, preMerged: Boolean = false,
                 commitSeqOverride: Option[Long] = None,
                 level: Int = 0,
                 // postpone fixed-bucket routing: a caller-supplied bucket
                 // expression (per-partition modulus) replaces bucketExpr
                 bucketOverride: Option[Column] = None,
                 // PT-hash → bucket count the override routed with; stamps
                 // ManifestEntry.totalBuckets on the produced entries
                 totalBucketsByPt: Map[String, Int] = Map.empty): Seq[ManifestEntry] = {
    val commitSeq = commitSeqOverride.getOrElse(nextCommitSeq)
    // pre-merged frames carry the envelope; the routing projection below
    // keeps exactly the file columns
    var df =
      if (preMerged) dfIn
      else {
        // a pre-assigned row id (compaction rewrite) passes through intact
        var d = align(dfIn, keep = if (isRowTracking) Seq(ROW_ID) else Nil)
        // materialize variant shred columns (typed extractions with stats) —
        // on PK tables they ride the LSM envelope like any value column
        // (dedup-family merge keeps whole rows, so a winner's extractions
        // stay consistent with its variant binary)
        shredSpecs.toSeq.sortBy(_._1).foreach { case (c, specs) =>
          val isMapShred = dataSchema.fields.find(_.name == c)
            .exists(_.dataType.isInstanceOf[MapType])
          specs.zipWithIndex.foreach { case ((p, tp), i) =>
            d = d.withColumn(shredColName(c, i),
              if (isMapShred) element_at(col(s"`$c`"), lit(p))
              else expr(s"variant_get(`$c`, '$p', '$tp')"))
          }
        }
        if (isRowTracking && !d.columns.contains(ROW_ID))
          d = d.withColumn(ROW_ID,
            lit(commitSeq << 48) + monotonically_increasing_id())
        if (isPk) {
          // __pos captures input order BEFORE any shuffle: duplicate keys in
          // one batch resolve last-input-wins, deterministically (paimon
          // assigns a per-record sequence number in its write buffer)
          // rowkind.field (paimon CoreOptions.ROWKIND_FIELD): a data column
          // holding "+I"/"-U"/"+U"/"-D" decides each record's kind — the
          // CDC-ingestion write shape; -D/-U become delete tombstones
          // ignore-delete (paimon CoreOptions.IGNORE_DELETE, fallback keys
          // first-row./deduplicate./partial-update.ignore-delete): retract
          // records (-D/-U) are dropped at ingestion instead of becoming
          // tombstones — e.g. consuming a CDC stream into a table that only
          // accumulates. Engine-made tombstones (cross-partition moves,
          // DELETE statements) are structural and unaffected.
          val ignoreDelete = Seq("ignore-delete",
            s"${config.mergeEngine}.ignore-delete")
            .exists(k => config.options.get(k).contains("true"))
          config.options.get("rowkind.field").foreach { f =>
            if (ignoreDelete) d = d.filter(!col(f).isin("-D", "-U"))
          }
          val kindExpr = config.options.get("rowkind.field") match {
            case Some(f) if !ignoreDelete =>
              when(col(f).isin("-D", "-U"), lit(KIND_DELETE))
                .otherwise(lit(KIND_INSERT))
            case _ => lit(KIND_INSERT)
          }
          // count aggregator: convert raw inputs to their 0/1 contribution
          // at ingestion, so every STORED value is a partial count and the
          // merge is a plain (associative) sum — a read-time "count the
          // non-null rows" would double-fold after compaction collapses
          // rows into accumulators. (The reference sidesteps this by having
          // no count agg at all — its docs say emulate with sum over 0/1,
          // aggregation.mdx:77-81 — this is that emulation built in.)
          val counted = dataSchema.fieldNames.filter(c => !pks.contains(c) &&
            (config.mergeEngine match {
              // the aggregation engine falls back to the table default
              case "aggregation" => config.fieldAggregates.getOrElse(c,
                config.defaultAggregate.getOrElse("last_non_null_value")) == "count"
              // partial-update only aggregates explicitly-marked fields
              case "partial-update" => config.fieldAggregates.get(c).contains("count")
              case _ => false
            })).toSet
          // the LSM envelope and the count conversions in ONE projection:
          // over a local input the optimizer evaluates every projection on
          // the driver (ConvertToLocalRelation), a pass over the batch each
          d = d.select((d.schema.fields.map { f =>
            if (!counted(f.name)) col(f.name)
            else when(col(f.name).isNotNull, lit(1)).otherwise(lit(0)).cast(f.dataType).as(f.name)
          } ++ Seq(seqExpr(commitSeq).as(SEQ), seq2Expr.as(SEQ2),
            lit(commitSeq).as(COMMIT), monotonically_increasing_id().as(POS),
            kindExpr.as(KIND))).toIndexedSeq: _*)
        }
        d
      }

    // declared blob-field columns: inline payloads split into shared .bin
    // files, descriptors stay in the row (magic-guarded, so compaction
    // rewrites and pre-merged flushes whose values are ALREADY descriptors
    // pass through untouched — only fresh payload bytes move out of line)
    val blobSplit = blobFieldCols.filter(df.columns.contains)
    if (blobSplit.nonEmpty) {
      // blob.target-file-size (blob.mdx options, default = target-file-size
      // = 128mb): roll each task's shared payload file at the bound
      val target = graft.pipeline.Blob.parseMemorySize(
        config.option("blob.target-file-size",
          config.option("target-file-size", "128mb")))
      df = graft.pipeline.Blob.splitBlobColumns(df, blobSplit,
        new Path(location, "blob").toString, target)
    }

    // partition + bucket routing. PT is a filesystem-safe 64-bit hash of the
    // partition values (real values live inside the files and in manifest
    // stats) — avoids Hive path-escaping roundtrip issues entirely. One
    // projection keeps exactly the file columns and adds PT and BUCKET.
    val partCols = config.partitionKeys
    val fileCols = fileSchema.fieldNames.toSeq.map(col)
    df = if (isDynamicBucket) assignDynamicBuckets(df.select(fileCols :+ ptExpr.as(PT): _*))
         else df.select(fileCols ++ Seq(ptExpr.as(PT),
           bucketOverride.getOrElse(bucketExpr(forCompact = preMerged)).as(BUCKET)): _*)
    // within-batch pre-merge for the deduplicate engine: the newest version
    // of each key wins. When the key fixes partition and bucket, it is
    // partitioned by (PT, BUCKET, pks), so it rides the routing shuffle below
    // and its sort (PT, BUCKET, pks, newest first) already is the file order
    def dedupBatch(d: DataFrame): DataFrame =
      if (!isPk || preMerged || config.mergeEngine != "deduplicate") d
      else d.withColumn("__rn", row_number().over(Window.partitionBy(
          ((if (partCols.forall(pks.contains)) Seq(col(PT), col(BUCKET)) else Nil) ++
            pks.map(col)): _*).orderBy(col(SEQ).desc, col(SEQ2).desc, col(POS).desc)))
        .filter(col("__rn") === 1).drop("__rn")
    // the routing shuffle: all rows of a (partition, bucket) in one task.
    // Unpartitioned fixed-bucket tables send bucket b straight to task
    // b mod n, n = min(buckets, shuffle partitions), so the buckets of a
    // small batch still write in parallel (AQE coalesces a by-column
    // repartition of a small batch into one task that writes every bucket
    // in turn); a pass-through id on BUCKET also clusters the dedup window
    def route(d: DataFrame): DataFrame =
      if (partCols.isEmpty && fixedBucketKeys.isDefined && bucketOverride.isEmpty)
        d.repartitionById(math.min(config.numBuckets,
          spark.sessionState.conf.numShufflePartitions), col(BUCKET))
      else d.repartition((partCols.map(col) :+ col(BUCKET)): _*)
    if (isPk && (!isPostpone || preMerged || bucketOverride.isDefined)) {
      // pk-clustering-override: physical order = clustering columns, so
      // scans filtering on them prune by file stats; PK uniqueness is
      // unaffected (MOR merge + DVs are order-independent)
      val sortCols = if (clusteringOverride.nonEmpty) clusteringOverride else pks
      // one shuffle per (partition, bucket); the local sort leads with the
      // writer's partition columns (PT, BUCKET), so FileFormatWriter keeps
      // it and every file comes out data-sorted — a CORRECTNESS invariant
      // the k-way MOR merge consumes, pinned by CoreTableSpec "every PK
      // data file is written pk-sorted: plain, merge-into, compaction, rolled"
      df = dedupBatch(route(df))
        .sortWithinPartitions((Seq(col(PT), col(BUCKET)) ++ sortCols.map(col)): _*)
    } else if (!isPk && fixedBucketKeys.isDefined) {
      // bucketed append: co-locate each bucket's rows so a write emits one
      // file per (partition, bucket), not tasks × buckets small files
      df = route(df)
    } else {
      // postpone fresh writes keep the INPUT partitioning: no routing
      // shuffle, files land under bucket -2 awaiting compaction
      df = dedupBatch(df)
    }

    val commitDir = s"data/c-${UUID.randomUUID().toString.take(12)}"
    val stagingAbs = new Path(location, commitDir).toString
    // format-prefixed table options flow to the writer (e.g. parquet bloom
    // filters, SURVEY §2.2); file rolling bounds a hot bucket's compaction
    // output (rolled files of one pass are key-disjoint). csv/json keep
    // microseconds and edge whitespace (Spark's text writers drop them), so
    // a reader gets back exactly the values the stats were taken over
    val writeOpts = fmtOptions ++
      config.options.get("write.max-records-per-file").map("maxRecordsPerFile" -> _) ++
      (if (fileFormat == "csv" || fileFormat == "json")
        Map("timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
          "timestampNTZFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
          "ignoreLeadingWhiteSpace" -> "false", "ignoreTrailingWhiteSpace" -> "false")
      else Map.empty)
    val dataCols = StructType(df.schema.fields.filterNot(f => f.name == PT || f.name == BUCKET))
    val tracker = new FileStatsTracker(dataCols, dataCols.fieldNames.map(statsModeFor(_, level)),
      spark.conf.get("spark.sql.session.timeZone"),
      spark.sparkContext.broadcast(new SerializableConfiguration(spark.sessionState.newHadoopConf())))
    SparkShims.writeFiles(df, formatProvider, stagingAbs, Seq(PT, BUCKET), writeOpts, Seq(tracker))

    val now = System.currentTimeMillis()
    val entries = tracker.files.map { f =>
      // partition values are constant within a file (partitionBy on PT)
      val partition = config.partitionKeys.map(pc => pc -> f.stats(pc).min).toMap
      val (minSeq, maxSeq) =
        if (isPk) (f.stats(SEQ).min.toLong, f.stats(SEQ).max.toLong) else (0L, 0L)
      // the routing layout each real-bucket file was written under
      // (ManifestEntry.totalBuckets): explicit per-partition counts from a
      // postpone fixed-bucket route, else the table-wide fixed layout
      val totalBuckets =
        if (f.bucket < 0) 0
        else totalBucketsByPt.get(GraftTable.ptOfPath(f.relPath)) match {
          case Some(n) => n
          case None =>
            if (isPostpone) postponeBuckets // legacy compact routing count
            else if (fixedBucketKeys.isDefined) config.numBuckets
            else 0
        }
      ManifestEntry(0, s"$commitDir/${f.relPath}", partition, f.bucket,
        f.rowCount, f.size, minSeq, maxSeq, level = level, stats = f.stats,
        schemaId = schema.id, creationTime = now, totalBuckets = totalBuckets)
    }
    // per-file secondary indexes (bloom/bitmap/bsi) for the new files —
    // a second distributed pass, payloads written straight from executors
    FileIndexes.build(this, stagingAbs)
    entries
  }

  /** `metadata.stats-mode` (paimon CoreOptions.METADATA_STATS_MODE, default
    * truncate(16)): how much per-file stats a writer records per column —
    * `none` (nothing, nullCount = -1), `counts` (null count only), `full`,
    * or `truncate(N)` (strings clipped to N chars; min stays a valid lower
    * bound, max is clipped-then-incremented to stay an upper bound, and the
    * entry is flagged inexact so min/max agg pushdown refuses it). Per-field
    * override `fields.<name>.stats-mode`, per-level override
    * `metadata.stats-mode.per.level` = "0:none,1:truncate(16)". Partition,
    * primary-key and sequence columns always collect full stats: partition
    * values and PK/SEQ ranges are structural (routing, raw-convertibility,
    * point lookups), matching paimon's always-collected key stats. */
  private[graft] def statsModeFor(fieldName: String, level: Int): String = {
    if (config.partitionKeys.contains(fieldName) ||
        config.primaryKeys.contains(fieldName) ||
        fieldName == SEQ || fieldName == KIND || fieldName == ROW_ID)
      return "full"
    // metadata.stats-keep-first-n-columns: only the first N data columns
    // keep stats (pk/partition/envelope stay full via the early return)
    val keepN = config.option("metadata.stats-keep-first-n-columns", "-1").toInt
    if (keepN >= 0 && dataSchema.fieldNames.indexOf(fieldName) >= keepN)
      return "none"
    config.options.get(s"fields.$fieldName.stats-mode").getOrElse {
      val perLevel = config.option("metadata.stats-mode.per.level", "")
        .split(',').iterator.map(_.trim).filter(_.contains(':'))
        .map { kv => val i = kv.indexOf(':'); kv.take(i) -> kv.drop(i + 1) }
        .toMap
      perLevel.getOrElse(level.toString,
        config.option("metadata.stats-mode", "truncate(16)"))
    }
  }

  /** INSERT INTO (append / upsert by merge engine). `watermark`: producer
    * event-time watermark persisted in the snapshot (paimon
    * Snapshot.FIELD_WATERMARK; carried forward when absent).
    *
    * With `changelog-producer=lookup`, the commit also materializes exact
    * +I/-U/+U/-D changelog rows by looking up the written keys against the
    * PREVIOUS state of only the touched buckets (paimon
    * LookupChangelogMergeFunctionWrapper) — streaming readers then consume
    * these files instead of diffing snapshots. */
  /**
   * `write.merge-schema` (paimon spark/sql-write.md "Write Merge Schema",
   * three-level opt-in): evolve the table to accept the incoming batch.
   *  - merge-schema: source-extra columns are added (nullable, fresh field
   *    ids); existing column types are preserved — align() casts incoming
   *    values to them.
   *  - merge-schema.type-widening: an incoming strictly-wider compatible
   *    type (INT→BIGINT, FLOAT→DOUBLE, DECIMAL precision growth) widens
   *    the table column (field id kept; old files read through the
   *    evolution cast).
   *  - merge-schema.explicit-cast: lossy changes between castable types
   *    (BIGINT→INT, STRING→DATE) also retype the column.
   * Key/partition/sequence columns never change type.
   */
  private[core] def mergeSchemaForWrite(df: DataFrame): Unit = {
    if (config.option("write.merge-schema", "false") != "true") return
    val widen = config.option("write.merge-schema.type-widening", "false") == "true"
    val lossy = config.option("write.merge-schema.explicit-cast", "false") == "true"
    val cur = dataSchema
    val extra = df.schema.fields.filterNot(f => cur.fieldNames.contains(f.name))
    if (extra.nonEmpty)
      addColumns(extra.map(f => StructField(f.name, f.dataType,
        nullable = true)).toIndexedSeq: _*)
    def widerCompatible(from: DataType, to: DataType): Boolean = (from, to) match {
      case (a, b) if a == b => false
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (a: DecimalType, b: DecimalType) =>
        b.scale >= a.scale && (b.precision - b.scale) >= (a.precision - a.scale) &&
          (b.precision > a.precision || b.scale > a.scale)
      case _ => false
    }
    df.schema.fields.filter(f => cur.fieldNames.contains(f.name)).foreach { f =>
      val t = cur(f.name).dataType
      if (t != f.dataType && !protectedCols.contains(f.name) && widen) {
        if (widerCompatible(t, f.dataType)) updateColumnType(f.name, f.dataType)
        else if (lossy &&
            org.apache.spark.sql.catalyst.expressions.Cast.canCast(f.dataType, t) &&
            org.apache.spark.sql.catalyst.expressions.Cast.canCast(t, f.dataType))
          updateColumnType(f.name, f.dataType)
        // else: table type wins; align() casts the incoming values
      }
    }
  }

  def write(df: DataFrame, watermark: Option[Long] = None,
            identifier: Option[String] = None): SnapshotMeta = {
    mergeSchemaForWrite(df)
    if (isCrossPartition) return writeCrossPartition(df, watermark)
    // postpone default flow: stage → infer per-partition buckets → route →
    // commit, immediately visible (rescale, if needed, committed separately
    // inside postponeFixedAdds before this append)
    val adds = if (postponeFixedEnabled) postponeFixedAdds(df) else writeFiles(df)
    val clFiles =
      if (isPk && config.option("changelog-producer", "none") == "lookup")
        produceChangelog(adds)
      else Nil
    // snapshot.ignore-empty-commit: an append that produced no files makes
    // no snapshot (CoreOptions.java:2585; opt-in like the reference)
    if (adds.isEmpty && clFiles.isEmpty && sm.latestSnapshot.isDefined &&
        config.option("snapshot.ignore-empty-commit", "false") == "true")
      return sm.latestSnapshot.get
    val snap = sm.commit(adds, "APPEND",
      identifier.getOrElse(s"append-${UUID.randomUUID().toString.take(8)}"),
      schema.id, watermark = watermark, changelog = clFiles)
    // write-time compaction trigger: hot buckets compact as a follow-up
    // commit (paimon num-sorted-run.compaction-trigger /
    // full-compaction.delta-commits). `write-only=true` (paimon
    // WRITE_ONLY, maintenance/dedicated-compaction.mdx) hands ALL
    // compaction work to a dedicated job — writers never compact.
    if (!writeOnly &&
        (config.options.contains("num-sorted-run.compaction-trigger") ||
         config.options.contains("full-compaction.delta-commits"))) {
      import RowOps._
      this.maybeCompactTriggered()
    }
    snap
  }

  /** `write-only=true`: skip write-path compaction + snapshot/partition
    * expiry (run them from a dedicated maintenance job instead). */
  private[core] def writeOnly: Boolean =
    config.option("write-only", "false") == "true"

  // ------------------------------------------------------------------
  // CROSS-PARTITION UPDATE (KEY_DYNAMIC)
  // ------------------------------------------------------------------

  /** Global key index: latest (pk → partition values, bucket) per key,
    * append-only parquet versioned by commit sequence (capability of paimon
    * crosspartition/GlobalIndexAssigner + IndexBootstrap, re-expressed as a
    * joinable DataFrame: every lookup is a bucketed equi-join, the driver
    * never sees a key). */
  private def pkIndexDir = new Path(location, "index/pk-index")

  /** Rebuild the global key index from the CURRENT table state (paimon
    * IndexBootstrap): rollback / fast-forward can rewind a table past index
    * entries — a stale "key already in partition X" answer would skip the
    * move tombstone and duplicate the key. One distributed scan. */
  private[core] def rebuildPkIndex(): Unit = {
    if (!isCrossPartition) return
    sm.fs.delete(pkIndexDir, true)
    val cur = read()
    if (cur.isEmpty) return
    val ver = sm.latestSnapshotId.getOrElse(0L)
    cur.select((pks.map(col) ++ config.partitionKeys.map(col)).toIndexedSeq: _*)
      .withColumn(PT, ptExpr)
      .withColumn(BUCKET, lit(-1)) // informational; routing uses the per-partition index
      .withColumn("__ver", lit(ver))
      .write.parquet(pkIndexDir.toString)
  }

  private def loadPkIndex(): Option[DataFrame] = {
    if (!sm.fs.exists(pkIndexDir)) return None
    val raw = spark.read.parquet(pkIndexDir.toString)
    val others = raw.columns.filterNot(pks.contains).toSeq
    Some(raw.groupBy(pks.map(col).toIndexedSeq: _*)
      .agg(max_by(struct(others.map(col).toIndexedSeq: _*), col("__ver")).as("__e"))
      .select((pks.map(col) :+ col("__e.*")).toIndexedSeq: _*))
  }

  /**
   * KEY_DYNAMIC write: keys already living in a DIFFERENT partition get a
   * delete tombstone written into their OLD partition/bucket (seq = the new
   * row's sequence, pos = -1 so the new version wins any full-table merge),
   * then the batch inserts normally and the key index advances. Restricted
   * to the deduplicate engine — the other engines drop tombstones during
   * their merge, which would resurrect the old row.
   */
  private def writeCrossPartition(dfIn: DataFrame,
                                  watermark: Option[Long]): SnapshotMeta = {
    require(config.mergeEngine == "deduplicate",
      "cross-partition update (KEY_DYNAMIC) requires the deduplicate engine")
    val commitSeq = nextCommitSeq
    val aligned = align(dfIn)
    val partCols = config.partitionKeys
    val dataCols = dataSchema.fields.map(_.name).toSeq
    val tombAdds: Seq[ManifestEntry] = loadPkIndex() match {
      case None => Nil
      case Some(idx) =>
        // latest batch row per key decides the key's target partition
        val latest = aligned
          .withColumn(POS, monotonically_increasing_id())
          .groupBy(pks.map(col).toIndexedSeq: _*)
          .agg(max_by(struct(dataCols.map(col).toIndexedSeq: _*), col(POS)).as("__r"))
          .select(col("__r.*")) // struct already carries the pk columns
        val idxA = idx.select(
          (pks.map(col) ++
            partCols.map(pc => col(pc).as(s"__old_$pc"))).toIndexedSeq: _*)
        val movedCond = partCols
          .map(pc => !(col(pc) <=> col(s"__old_$pc"))).reduce(_ || _)
        val moved = latest.join(idxA, pks).filter(movedCond)
        if (moved.isEmpty) Nil
        else {
          // tombstone = pk + OLD partition values, everything else null
          val tombCols = dataSchema.fields.map { f =>
            if (pks.contains(f.name)) col(f.name)
            else if (partCols.contains(f.name)) col(s"__old_${f.name}").as(f.name)
            else lit(null).cast(f.dataType).as(f.name)
          } ++ Seq(seqExpr(commitSeq).as(SEQ), seq2Expr.as(SEQ2),
            lit(commitSeq).as(COMMIT),
            lit(-1L).as(POS), lit(KIND_DELETE).as(KIND))
          writeFiles(moved.select(tombCols.toIndexedSeq: _*),
            preMerged = true, commitSeqOverride = Some(commitSeq))
        }
    }
    val adds = writeFiles(dfIn, commitSeqOverride = Some(commitSeq))
    // advance the key index from the files just written (partition values +
    // assigned bucket recovered from the commit directory layout)
    if (adds.nonEmpty) {
      val base = new Path(location, adds.head.path.split('/').take(2).mkString("/"))
      val written = readDataFiles(
        StructType(fileSchema.fields ++ Array(
          StructField(PT, StringType), StructField(BUCKET, IntegerType))),
        adds.map(e => new Path(location, e.path).toString),
        basePath = Some(base.toString))
      written.select((pks.map(col) ++ partCols.map(col) ++
          Seq(col(PT), col(BUCKET), lit(commitSeq).as("__ver"))).toIndexedSeq: _*)
        .write.mode("append").parquet(pkIndexDir.toString)
    }
    // changelog must see the tombstones too: a moved key's old-partition
    // bucket is "touched", so the lookup producer emits -U/+U, not a bare +I
    val clFiles =
      if (config.option("changelog-producer", "none") == "lookup")
        produceChangelog(tombAdds ++ adds) else Nil
    sm.commit(tombAdds ++ adds, "APPEND",
      s"append-xp-${UUID.randomUUID().toString.take(8)}",
      schema.id, watermark = watermark, changelog = clFiles)
  }

  /** Exact changelog rows for a delta (ADD entries not yet committed),
    * written as parquet under changelog/; returns relative file paths. */
  private def produceChangelog(adds: Seq[ManifestEntry]): Seq[String] = {
    val dataCols = dataSchema.fields.map(_.name).toSeq
    val newRows = readEntries(adds, withInternal = true)
    val touched = adds.map(e => (e.partition, e.bucket)).toSet
    val prevEntries = sm.latestSnapshot
      .map(s => liveEntriesWhere(s)(e => touched.contains((e.partition, e.bucket))))
      .getOrElse(Nil)
    val prevState =
      if (prevEntries.isEmpty) {
        val s = if (isPk) fileSchema else dataSchema
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), s)
      } else MergeEngines.merge(
        readEntries(prevEntries, withInternal = true, dvFor(None)), config, dataSchema)
    // state AFTER this commit, restricted to touched buckets
    val afterState = MergeEngines.merge(
      prevState.unionAll(newRows), config, dataSchema)
    // only keys present in this batch can have changed
    val batchKeys = newRows.select(pks.map(col).toIndexedSeq: _*).distinct()
    val prev = prevState.join(batchKeys, pks, "left_semi")
      .select(dataCols.map(col).toIndexedSeq: _*).alias("p")
    val after = afterState.join(batchKeys, pks, "left_semi")
      .select(dataCols.map(col).toIndexedSeq: _*).alias("a")
    val joinCond = pks.map(k => col(s"p.$k") <=> col(s"a.$k")).reduce(_ && _)
    val joined = prev.join(after, joinCond, "full_outer")
    // changelog-producer.row-deduplicate (CoreOptions.java:1084): by default
    // a touched key emits -U/+U even when the row is value-identical (the
    // reference's posture); with row-deduplicate=true only genuinely
    // changed rows do, optionally ignoring listed fields in the comparison
    val rowDedup =
      config.option("changelog-producer.row-deduplicate", "false") == "true"
    val dedupIgnore =
      config.option("changelog-producer.row-deduplicate-ignore-fields", "")
        .split(",").map(_.trim).filter(_.nonEmpty).toSet
    val changedCond =
      if (!rowDedup) lit(true)
      else dataCols.filterNot(pks.contains).filterNot(dedupIgnore)
        .map(c => !(col(s"p.$c") <=> col(s"a.$c")))
        .reduceOption(_ || _).getOrElse(lit(false))
    def side(s: String, kind: String, cond: Column): DataFrame =
      joined.filter(cond)
        .select(dataCols.map(c => col(s"$s.$c").as(c)).toIndexedSeq: _*)
        .withColumn("_row_kind", lit(kind))
    val pKey = col(s"p.${pks.head}"); val aKey = col(s"a.${pks.head}")
    val pPresent = pks.map(k => col(s"p.$k").isNotNull).reduce(_ && _)
    val aPresent = pks.map(k => col(s"a.$k").isNotNull).reduce(_ && _)
    val cl = side("a", "+I", !pPresent && aPresent)
      .unionAll(side("p", "-D", pPresent && !aPresent))
      .unionAll(side("p", "-U", pPresent && aPresent && changedCond))
      .unionAll(side("a", "+U", pPresent && aPresent && changedCond))
    writeChangelogFiles(cl)
  }

  /** VERSION AS OF watermark: EARLIEST snapshot whose watermark >= `w`
    * (reference StaticFromWatermarkStartingScanner; throws when none). */
  def readWatermark(w: Long): DataFrame =
    read(None, Some(sm.laterOrEqualWatermark(w)))

  /** INSERT OVERWRITE. `dynamic`: only replace partitions present in `df`
    * (paimon PaimonDynamicPartitionOverwriteCommand.scala). */
  def overwrite(df: DataFrame, dynamic: Boolean = false,
                staticPartition: Map[String, String] = Map.empty,
                identifier: Option[String] = None): SnapshotMeta = {
    mergeSchemaForWrite(df)
    // postpone fixed-bucket overwrite: a configured default-bucket-num is
    // used EXACTLY (no staging, no rescale); otherwise stage + infer
    val adds = if (postponeFixedEnabled) postponeFixedAdds(df, forOverwrite = true)
               else writeFiles(df)
    val victims = sm.latestSnapshot match {
      case None => Nil
      case Some(snap) =>
        if (dynamic) {
          val newParts = adds.map(_.partition).toSet
          liveEntriesWhere(snap)(e => newParts.contains(e.partition))
        } else if (staticPartition.nonEmpty) {
          val sp = staticPartition
          liveEntriesWhere(snap)(e =>
            sp.forall { case (k, v) => e.partition.get(k).contains(v) })
        } else sm.liveEntries(snap) // full overwrite: the delta IS the table
    }
    val deletes = victims.map(_.copy(kind = 1))
    sm.commit(deletes ++ adds, "OVERWRITE",
      identifier.getOrElse(s"overwrite-${UUID.randomUUID().toString.take(8)}"),
      schema.id)
  }

  def truncate(): SnapshotMeta = {
    val live = sm.latestSnapshot.map(sm.liveEntries).getOrElse(Nil)
    sm.commit(live.map(_.copy(kind = 1)), "OVERWRITE", "truncate", schema.id)
  }

  // ------------------------------------------------------------------
  // READ PATH
  // ------------------------------------------------------------------

  private[core] def emptyDf: DataFrame =
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), dataSchema)

  /** Plan live files for a snapshot, with manifest-level filter pruning.
    * Small tables fold manifests on the driver (no job latency); above
    * `metadata.plan.df-threshold` live files the fold AND the stats pruning
    * run as a DataFrame job — only surviving entries ever reach the driver
    * (SURVEY §7: manifests are DataFrames past ~10^6 files). */
  def planFiles(snapshotId: Option[Long] = None,
                filter: Option[Column] = None): Seq[ManifestEntry] = {
    val t0 = System.nanoTime()
    val snap = snapshotId.map(sm.readSnapshot).orElse(sm.latestSnapshot)
      .getOrElse(return Nil)
    if (snap.liveFilesLong.exists(_ >= sm.planDfThreshold)) {
      val out = planFilesDistributed(snap, filter)
      GraftMetrics.recordScan(location, (System.nanoTime() - t0) / 1000000L,
        snap.id, snap.manifests.size.toLong, out.size.toLong,
        snap.liveFilesLong.map(_ - out.size).getOrElse(-1L))
      return out
    }
    // postpone staging data (bucket -2) is unreadable until compaction
    val live = sm.liveEntries(snap).filter(_.bucket != -2)
    val out = filter match {
      case Some(c) =>
        // resolve against the FILE schema: stats cover envelope and shredded
        // extraction columns too, so filters on those prune as well
        val fs = fileSchema
        pruneExpr(fs, c) match {
          case Some(expr) =>
            val kept = bucketPrune(
              live.filter(e => StatsPrune.mightMatch(expr, fs, e.stats, e.rowCount)), expr)
            // file-index skipping (bloom/bitmap/bsi) on the stats survivors;
            // expr is already merge-safe-restricted for PK tables
            FileIndexes.pruneAndSelect(this, kept, expr)._1
          case None => live
        }
      case None => live
    }
    GraftMetrics.recordScan(location, (System.nanoTime() - t0) / 1000000L,
      snap.id, snap.manifests.size.toLong, out.size.toLong,
      (live.size - out.size).toLong)
    out
  }

  /** Columns safe for merge-on-read file pruning: constant across all stored
    * versions of a key, so dropping a file can never unbalance the merge. */
  private def mergeSafeCols: Set[String] =
    (pks ++ config.partitionKeys :+ PT).toSet

  /** Plan-time bucket pruning: files in buckets the predicate's pinned
    * routing-key literals cannot hash to are dropped (PK point reads +
    * bucketed-append data skipping). Only entries written under the CURRENT
    * routing layout participate — after `rescale` (new bucket count in a new
    * schema), files of older layouts always survive. Merge-safe for PK
    * tables: every version of a key lives in that key's bucket. */
  private def bucketPrune(entries: Seq[ManifestEntry],
                          expr: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[ManifestEntry] =
    fixedBucketKeys.flatMap(keys =>
      StatsPrune.bucketCandidates(expr, keys, config.numBuckets)) match {
      case Some(cands) =>
        val sameLayout = entries.map(_.schemaId).distinct.filter { sid =>
          val c = sm.readSchema(sid).config
          c.numBuckets == config.numBuckets &&
            GraftTable.routingKeys(c) == fixedBucketKeys
        }.toSet
        entries.filter(e =>
          !sameLayout.contains(e.schemaId) || cands.contains(e.bucket))
      case None => entries
    }

  /** True when EVERY given entry was written under the table's CURRENT
    * routing layout (same bucket count AND routing keys per its writer's
    * schemaId) — the precondition for trusting bucket ids across entries
    * (same check [[bucketPrune]] applies per entry; chain-stream merge
    * grouping uses it across branches, where a rescale or layout upgrade
    * may have rewritten one branch but not another). */
  private[graft] def sameRoutingLayout(entries: Seq[ManifestEntry]): Boolean =
    entries.map(_.schemaId).distinct.forall { sid =>
      val c = sm.readSchema(sid).config
      c.numBuckets == config.numBuckets &&
        GraftTable.routingKeys(c) == fixedBucketKeys
    }

  /** Resolve `c` for stats pruning; PK tables keep only merge-safe conjuncts
    * (value-column pruning on MOR input resurrects stale versions — see
    * StatsPrune.restrict). Fully-merged files re-prune with the full filter
    * via [[fullPrune]]. */
  private def pruneExpr(fs: StructType, c: Column)
      : Option[org.apache.spark.sql.catalyst.expressions.Expression] = {
    val resolved = StatsPrune.resolve(spark, fs, c)
    if (isPk) StatsPrune.restrict(resolved, mergeSafeCols) else Some(resolved)
  }

  /** Full-filter per-file pruning — only valid for files whose rows are
    * final (append tables, or raw-convertible fully-merged PK buckets). */
  private def fullPrune(entries: Seq[ManifestEntry], filter: Option[Column]): Seq[ManifestEntry] =
    filter match {
      case Some(c) =>
        val fs = fileSchema
        val expr = StatsPrune.resolve(spark, fs, c)
        entries.filter(e => StatsPrune.mightMatch(expr, fs, e.stats, e.rowCount))
      case None => entries
    }

  /** The distributed planning path: manifest read, ADD/DELETE fold and stats
    * pruning all execute on executors; the same [[StatsPrune.mightMatch]]
    * decides survival (one pruning implementation, two execution venues). */
  private def planFilesDistributed(snap: SnapshotMeta,
                                   filter: Option[Column]): Seq[ManifestEntry] = {
    val ss = spark
    import ss.implicits._
    val live = sm.liveEntriesDf(ss, snap)
      .filter(col("bucket") =!= -2).as[ManifestEntry]
    val exprOpt = filter.flatMap(c => pruneExpr(dataSchema, c))
    val pruned = exprOpt match {
      case Some(expr) =>
        val ds = dataSchema
        live.filter((e: ManifestEntry) => StatsPrune.mightMatch(expr, ds, e.stats, e.rowCount))
      case None => live
    }
    // bucket pruning, same rules as the driver path (the distributed path IS
    // the 100-TB case — a point read must not scan 10^7 entries' buckets)
    val bucketed = exprOpt.flatMap(e => fixedBucketKeys.flatMap(k =>
      StatsPrune.bucketCandidates(e, k, config.numBuckets))) match {
      case Some(cands) =>
        val sids = pruned.map(_.schemaId).distinct().collect()
        val sameLayout = sids.filter { sid =>
          val c = sm.readSchema(sid).config
          c.numBuckets == config.numBuckets &&
            GraftTable.routingKeys(c) == fixedBucketKeys
        }.toSet
        pruned.filter((e: ManifestEntry) =>
          !sameLayout.contains(e.schemaId) || cands.contains(e.bucket))
      case None => pruned
    }
    bucketed.collect().toSeq
  }

  /** Deletion vectors in force for a snapshot, keyed by [[GraftTable.dvKey]]
    * (one Spark write job reuses the same part-file NAME across bucket
    * directories, so the name alone is ambiguous — the commit-dir/pt/bucket
    * suffix is required). */
  private[graft] def dvFor(snapshotId: Option[Long]): Map[String, Array[Byte]] = {
    val snap = snapshotId.map(sm.readSnapshot).orElse(sm.latestSnapshot)
    snap.flatMap(_.dvIndex) match {
      case Some(name) => sm.readDvIndex(name).map { case (p, b) => dvKey(p) -> b }
      case None => Map.empty
    }
  }

  // ------------------------------------------------------------------
  // DATA EVOLUTION (column patches over row ids)
  // ------------------------------------------------------------------

  /** Outstanding column patches at a snapshot (paimon data evolution:
    * UPDATE on a row-tracking append table rewrites only the assigned
    * columns as (row id → value) patch files; the base files — and any
    * wide blob/embedding columns in them — never move). */
  private[graft] def patchesFor(snapshotId: Option[Long]): Seq[PatchFile] =
    snapshotId.map(sm.readSnapshot).orElse(sm.latestSnapshot)
      .map(_.patchList).getOrElse(Nil)

  /** Does this base file's row-id range intersect any patch? Missing
    * row-id stats ⇒ conservative true. */
  private def patchOverlaps(e: ManifestEntry, patches: Seq[PatchFile]): Boolean =
    e.stats.get(ROW_ID) match {
      case Some(s) if s.min != null && s.max != null =>
        val (lo, hi) = (s.min.toLong, s.max.toLong)
        patches.exists(p => p.rowIdMin <= hi && p.rowIdMax >= lo)
      case _ => true
    }

  /** Merge patch generations (later non-covered-wins per column) and apply
    * them onto `df` (which must carry [[ROW_ID]]). A column set to NULL by
    * an UPDATE stays null: per-column coverage markers distinguish
    * "patched to null" from "not patched". Patches are usually tiny next
    * to the base scan — broadcast when provably small, else AQE picks. */
  private[graft] def applyPatches(df: DataFrame, patches: Seq[PatchFile]): DataFrame = {
    if (patches.isEmpty) return df
    val allCols = patches.flatMap(_.cols).distinct
    val byName = dataSchema.fields.map(f => f.name -> f).toMap
    val union = patches.map { p =>
      val sch = StructType(StructField(ROW_ID, LongType) +:
        p.cols.map(c => byName(c)))
      val pdf = spark.read.schema(sch)
        .parquet(new Path(location, p.path).toString)
      val cols = col(ROW_ID) +: allCols.flatMap { c =>
        if (p.cols.contains(c))
          Seq(col(c), lit(p.seq).as(s"__k_$c"))
        else
          Seq(lit(null).cast(byName(c).dataType).as(c),
            lit(null).cast(LongType).as(s"__k_$c"))
      }
      pdf.select(cols.toIndexedSeq: _*)
    }.reduce(_ unionAll _)
    // latest covering patch wins per column (max_by ignores null keys =
    // generations that did not touch the column); __has marks coverage
    val aggs = allCols.flatMap { c =>
      Seq(max_by(col(c), col(s"__k_$c")).as(s"__patch_$c"),
        max(col(s"__k_$c")).as(s"__has_$c"))
    }
    var merged = union.groupBy(col(ROW_ID)).agg(aggs.head, aggs.tail: _*)
    if (patches.map(_.rows).sum <= 4_000_000L) merged = broadcast(merged)
    val joined = df.join(merged, Seq(ROW_ID), "left")
    allCols.foldLeft(joined) { (d, c) =>
      d.withColumn(c,
        when(col(s"__has_$c").isNotNull, col(s"__patch_$c")).otherwise(col(c)))
    }.drop(allCols.flatMap(c => Seq(s"__patch_$c", s"__has_$c")): _*)
  }

  /** Columns a filter references (post-resolution against the file schema);
    * used to detect predicates over patched columns, whose base-file stats
    * are stale for pruning. */
  private[core] def filterCols(c: Column): Set[String] =
    StatsPrune.resolve(spark, fileSchema, c).references.map(_.name).toSet

  /** Position-skip map for a scan of `entries` under `filter`: outstanding
    * deletion vectors merged with file-index row selections (rows an exact
    * bitmap/bsi index proves cannot match are skipped in the reader; Spark
    * still re-applies the filter to the survivors). ONLY valid where rows
    * are final — append tables and fully-merged (raw) PK buckets; row
    * skipping on merge-on-read INPUT would unbalance the merge exactly like
    * value-column file pruning. */
  private[graft] def skipMapFor(entries: Seq[ManifestEntry], filter: Option[Column],
                                snapshotId: Option[Long]): Map[String, Array[Byte]] = {
    val dv = dvFor(snapshotId)
    if (fileIndexSpecs.isEmpty || filter.isEmpty || entries.isEmpty) return dv
    val expr = StatsPrune.resolve(spark, fileSchema, filter.get)
    val (_, sels) = FileIndexes.pruneAndSelect(this, entries, expr)
    FileIndexes.mergeSkips(entries, sels, dv)
  }

  private[core] def readEntries(entries: Seq[ManifestEntry], withInternal: Boolean,
                                dv: Map[String, Array[Byte]] = Map.empty,
                                withMeta: Boolean = false): DataFrame = {
    if (entries.isEmpty) {
      val s = if (withInternal && isPk) fileSchema else dataSchema
      return spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), s)
    }
    val curSchema = schema
    def envelopeOf(st: StructType): StructType =
      if (!isPk) st
      else StructType(st.fields ++ Array(
        StructField(SEQ, LongType, false), StructField(SEQ2, LongType, false),
        StructField(COMMIT, LongType, false),
        StructField(POS, LongType, true), StructField(KIND, IntegerType, false)))
    def applyDv(dfIn: DataFrame): DataFrame = {
      if (dv.isEmpty) return dfIn
      // apply deletion vectors: filter out (file, row_index) marked deleted
      // (paimon ApplyDeletionVectorReader). Bitmaps deserialize once per
      // executor via DvCache — fingerprint keys are precomputed HERE, on the
      // driver, so the per-row path is map-lookup + bitmap.contains only
      // (no per-row byte-array hashing); _metadata.row_index is Spark's
      // native parquet row position — no extra shuffle, scan-side filter.
      val dvMap: Map[String, (String, Array[Byte])] =
        dv.map { case (k, b) => k -> (DvCache.fingerprint(k, b), b) }
      val keep = udf { (path: String, idx: Long) =>
        val decoded = if (path.contains('%')) new java.net.URI(path).getPath else path
        val key = GraftTable.dvKey(decoded)
        dvMap.get(key) match {
          case Some((fp, bytes)) => !DvCache.bitmapFp(fp, bytes).contains(idx.toInt)
          case None => true
        }
      }
      dfIn.withColumn("__fp", col("_metadata.file_path"))
        .withColumn("__ri", col("_metadata.row_index"))
        .filter(keep(col("__fp"), col("__ri")))
        .drop("__fp", "__ri")
    }
    // group files by write-schema; old files remap to the current schema BY
    // FIELD ID (paimon SchemaEvolutionUtil cast/index mapping): renamed
    // columns keep their data, dropped ids vanish, added ids read as null.
    // metadata columns ride the scan itself (_metadata is only addressable on
    // the file-source relation, before any projection drops it)
    def attachMeta(d: DataFrame): DataFrame =
      if (!withMeta) d
      else d.withColumn(GraftTable.FILE_PATH_COL, col("_metadata.file_path"))
        .withColumn(GraftTable.ROW_INDEX_COL, col("_metadata.row_index"))
    val metaCols =
      if (withMeta) Seq(col(GraftTable.FILE_PATH_COL), col(GraftTable.ROW_INDEX_COL))
      else Nil
    val parts = entries.groupBy(_.schemaId).toSeq.sortBy(_._1).map { case (sid, es) =>
      val paths = es.map(e => new Path(location, e.path).toString)
      if (sid == curSchema.id) {
        applyDv(attachMeta(readDataFiles(fileSchema, paths)))
      } else {
        val old = sm.readSchema(sid)
        val raw = applyDv(
          attachMeta(readDataFiles(envelopeOf(old.sparkSchema), paths)))
        val byId = old.fields.map(f => f.id -> f).toMap
        val dataCols = curSchema.fields.map { f =>
          val dt = DataType.fromDDL(f.dataType)
          byId.get(f.id) match {
            case Some(of) =>
              GraftTable.evolveFieldExpr(of, f, col(of.name)).as(f.name)
            case None =>
              // a field the file predates reads its configured DEFAULT, not
              // null (read-time assignment, paimon DefaultValueAssigner —
              // write-time align covers post-evolution files)
              config.options.get(s"fields.${f.name}.default-value")
                .map(v => lit(v).cast(dt).as(f.name))
                .getOrElse(lit(null).cast(dt).as(f.name))
          }
        }
        // old-schema files predate any shred columns: read them as null
        val nullShred = shredFields.map(f => lit(null).cast(f.dataType).as(f.name))
        val cols = (if (isPk)
          dataCols ++ nullShred ++
            Seq(col(SEQ), col(SEQ2), col(COMMIT), col(POS), col(KIND))
        else dataCols ++ nullShred) ++ metaCols
        raw.select(cols.toIndexedSeq: _*)
      }
    }
    val df0 = parts.reduce(_ unionAll _)
    // files written before __seq2 existed read it as null: normalize to 0L so
    // the DataFrame merge/compaction tiebreak matches GraftMorScan's coalesce
    // (and so a preMerged rewrite never feeds null into the required field)
    val df = if (isPk) df0.withColumn(SEQ2, coalesce(col(SEQ2), lit(0L))) else df0
    if (withInternal) df
    else df.select((dataSchema.fields.map(f => col(f.name)) ++ metaCols).toIndexedSeq: _*)
  }

  /** Decode-free variant extraction: project the SHREDDED columns the write
    * materialized — the variant binary itself is never read or decoded
    * (paimon extraction pushdown capability). `aliases` rename the spec's
    * extractions in order; the caller filters/selects the result (column
    * pruning keeps the scan to exactly the referenced physical columns). */
  /** Snapshot read exposing the shredded variant-extraction columns
    * ALONGSIDE the data columns (merged view on PK tables, DV-applied,
    * stats-pruned by `filter`). The DSv2 variant-extraction pushdown
    * ([[graft.dsv2.GraftScanBuilder]]) serves variant-struct fields from
    * these physical columns — the variant binary is never decoded. */
  def readWithShreds(filter: Option[Column] = None,
                     snapshotId: Option[Long] = None): DataFrame = {
    val raw = readEntries(planFiles(snapshotId, filter), withInternal = true,
      dvFor(snapshotId))
    val df =
      if (!isPk) raw
      else MergeEngines.merge(raw, config, dataSchema)
        .drop(SEQ, SEQ2, COMMIT, POS, KIND)
    df.select((dataSchema.fields.map(f => col(f.name)) ++
      shredFields.map(f => col(f.name))).toIndexedSeq: _*)
  }

  def readVariantExtracted(colName: String, aliases: Seq[String]): DataFrame = {
    val specs = shredSpecs.getOrElse(colName, throw new IllegalArgumentException(
      s"no shred spec for column $colName (set fields.$colName.shred)"))
    require(aliases.length == specs.length, "one alias per declared extraction")
    val raw = readEntries(planFiles(None, None), withInternal = true, dvFor(None))
    // PK tables: extraction goes through the MERGED view — dedup-family
    // merges keep whole rows, so the winner's shred columns are its own
    // extractions; the variant binary is never decoded (only projected out)
    val df =
      if (!isPk) raw
      else MergeEngines.merge(raw, config, dataSchema)
        .drop(SEQ, SEQ2, COMMIT, POS, KIND)
    specs.indices.foldLeft(df) { (d, i) =>
      d.withColumnRenamed(shredColName(colName, i), aliases(i))
    }
  }

  /** Snapshot read with merge-on-read. Buckets already reduced to a single
    * tombstone-free file skip the merge (raw path, cf. paimon
    * DataSplit.rawConvertible, table/source/DataSplit.java:83). */
  def read(filter: Option[Column] = None, snapshotId: Option[Long] = None): DataFrame =
    read(filter, snapshotId, Map.empty[String, String])

  /** Read with per-call options (DSv2 passes the scan's read options here so
    * e.g. `blob-view.resolve.enabled=false` works per query). */
  def read(filter: Option[Column], snapshotId: Option[Long],
           readOpts: Map[String, String]): DataFrame = {
    // fallback branch (paimon scan.fallback-branch / FallbackReadFileStoreTable):
    // partitions missing on the main table serve from the named branch
    val base = config.options.get("scan.fallback-branch") match {
      case Some(fb) if sm.branch.isEmpty && snapshotId.isEmpty =>
        readFallback(fb, filter, readOpts)
      case _ => readMain(filter, snapshotId)
    }
    resolveBlobRead(base, readOpts, snapshotId)
  }

  /** Stored-form read for the maintenance/row-op plane: blob descriptors
    * and view references stay serialized (no resolution, no upstream join,
    * no plan-time collect). MERGE/DELETE/ANALYZE operate here so rewrites
    * re-commit the stable stored bytes — the reference's managed-blob
    * posture (pk-table blob-storage.md: merges reorder rows "without
    * rewriting the surviving payload bytes"). Consequence, documented: a
    * row-op predicate over a blob column sees descriptor bytes, not
    * payloads. */
  private[graft] def readStored(filter: Option[Column] = None): DataFrame =
    read(filter, None, GraftTable.STORED_READ_OPTS)

  /** Read-side blob semantics (reference blob.mdx): declared blob /
    * descriptor columns resolve their serialized descriptors to the actual
    * byte ranges unless `blob-as-descriptor=true`; declared blob-view
    * columns resolve upstream references through a rowId join unless
    * `blob-view.resolve.enabled=false`. Inline payload bytes (row-level-op
    * leftovers) always pass through unchanged. */
  private def resolveBlobRead(df: DataFrame, readOpts: Map[String, String],
                              snapshotId: Option[Long] = None): DataFrame = {
    def opt(k: String, dflt: String) = readOpts.getOrElse(k, config.option(k, dflt))
    val present = df.columns.toSet
    val bCols = (blobFieldCols ++ blobDescriptorCols).filter(present)
    val vCols = blobViewCols.filter(present)
    if (bCols.isEmpty && vCols.isEmpty) return df
    var out = df
    if (opt("blob-as-descriptor", "false") != "true") {
      val resolve = graft.pipeline.Blob.resolveBlobBytes(spark)
      bCols.foreach { c =>
        val resolved = df.schema(c).dataType match {
          case BinaryType => resolve(col(c))
          // collection storage: every element/value resolves independently
          case ArrayType(BinaryType, _) => transform(col(c), x => resolve(x))
          case MapType(_, BinaryType, _) => map_from_arrays(
            map_keys(col(c)), transform(map_values(col(c)), x => resolve(x)))
          case _ => col(c)
        }
        out = out.withColumn(c, resolved)
      }
    }
    if (vCols.nonEmpty && opt("blob-view.resolve.enabled", "true") != "false")
      vCols.foreach { c => out = resolveBlobViewColumn(out, c, snapshotId) }
    out
  }

  /** Resolve one blob-view column: the distinct upstream (location, field)
    * pairs are collected first (a tiny partial-agg job — table-count scale,
    * never row scale), each upstream's (rowId → resolved bytes) projection
    * is unioned, and the view rows join on rowId. Non-reference bytes keep
    * their value (forwarded refs written under resolve=false stay intact
    * until read with resolution on). */
  private def resolveBlobViewColumn(df: DataFrame, c: String,
                                    snapshotId: Option[Long] = None): DataFrame = {
    val keyCol = s"__bv_key_$c"
    val withKey = df.withColumn(keyCol, graft.pipeline.Blob.parseViewKey(col(c)))
    // distinct upstream pairs are computed over the FULL column once per
    // (table, branch, snapshot) and memoized — repeated reads of a view
    // table pay no further plan-time job; filters only shrink the join's
    // left side. The discovery scan targets the SAME snapshot the read
    // serves: a time-travel read of an old snapshot must see the pairs
    // present in THAT snapshot's rows, not the current one's (a ref whose
    // upstream pair has since vanished would otherwise resolve to null).
    val snapKey = snapshotId.orElse(sm.latestSnapshotId).getOrElse(0L)
    val pairs = GraftTable.blobViewPairCache.getOrElseUpdate(
      (location, sm.branch.getOrElse(""), snapKey, c), {
        readEntries(planFiles(snapshotId), withInternal = false)
          .select(graft.pipeline.Blob.parseViewKey(col(c)).as("k"))
          .filter(col("k").isNotNull)
          .select(col("k.location"), col("k.field"))
          .distinct().collect().map(r => (r.getString(0), r.getString(1))).toSeq
      })
    if (pairs.isEmpty) return df
    val lookups = pairs.map { case (loc, fld) =>
      val up = GraftTable.load(spark, loc)
      require(up.isRowTracking,
        s"blob view upstream $loc does not have row-tracking.enabled")
      require(up.dataSchema.fieldNames.contains(fld),
        s"blob view upstream $loc has no column $fld")
      val raw = up.readEntries(up.planFiles(), withInternal = true, up.dvFor(None))
      // outstanding data-evolution column patches must be visible through
      // the view (an UPDATE on the upstream blob column lands as a patch
      // until the next compaction)
      val rows =
        if (up.isRowTracking) up.applyPatches(raw, up.patchesFor(None)) else raw
      // the join side carries DESCRIPTORS (~100 B), never payloads: the
      // pread happens AFTER the join, on exactly the rows the view keeps —
      // payload bytes never enter a shuffle, and a filtered view read never
      // resolves upstream rows it dropped (the 100-TB shape; locally the
      // descriptor shuffle is also strictly smaller)
      rows.select(lit(loc).as("__bv_loc"), lit(fld).as("__bv_fld"),
        col(GraftTable.ROW_ID).as("__bv_rid"),
        col(fld).as("__bv_desc"))
    }.reduce(_ unionAll _)
    withKey.join(lookups,
        col(s"$keyCol.location") === col("__bv_loc") &&
          col(s"$keyCol.field") === col("__bv_fld") &&
          col(s"$keyCol.rowId") === col("__bv_rid"), "left")
      .withColumn(c,
        when(col(keyCol).isNotNull,
          graft.pipeline.Blob.resolveBlobBytes(spark)(col("__bv_desc")))
          .otherwise(col(c)))
      .drop(keyCol, "__bv_loc", "__bv_fld", "__bv_rid", "__bv_desc")
  }

  /** Fallback-branch composition: main partitions read from main, partitions
    * with no main data read from the fallback branch. The partition-set diff
    * is manifest metadata (partition values, not files). */
  private def readFallback(branchName: String, filter: Option[Column],
                           readOpts: Map[String, String]): DataFrame = {
    val fb = GraftTable.load(spark, location, Some(branchName))
    val mainDf = readMain(filter, None)
    if (config.partitionKeys.isEmpty)
      return if (planFiles(None, None).nonEmpty) mainDf
             else fb.read(filter, None, readOpts)
    val mainParts = planFiles(None, None).map(_.partition).distinct.toSet
    val missing = fb.planFiles(None, None).map(_.partition).distinct
      .filterNot(mainParts.contains)
    if (missing.isEmpty) return mainDf
    val cond = missing.map { m =>
      config.partitionKeys.map { k =>
        m.get(k).flatMap(Option(_)) match {
          case Some(v) => col(k).cast(StringType) <=> lit(v)
          case None => col(k).isNull
        }
      }.reduce(_ && _)
    }.reduce(_ || _)
    mainDf.unionAll(fb.read(filter.map(_ && cond).orElse(Some(cond)), None, readOpts))
  }

  /** File creation time, manifest-resident (stamped at write — paimon
    * DataFileMeta.java:253 creationTime). 0 means the manifest predates the
    * field: fall back to ONE filesystem stat for that file only, so legacy
    * tables stay correct without re-introducing O(files) driver RPCs for
    * current ones. */
  private[graft] def entryCreationTime(e: ManifestEntry): Long =
    if (e.creationTime > 0L) e.creationTime
    else {
      // legacy manifests (field predates stamping): per-file driver stat.
      // `CALL sys.compact_manifest` migrates such tables — it stamps
      // creationTime from batched dir listings, after which this path never
      // runs again (counter is test instrumentation for that guarantee)
      GraftTable.legacyStatFallbacks.incrementAndGet()
      sm.fs.getFileStatus(new Path(location, e.path)).getModificationTime
    }

  private def readMain(filter: Option[Column], snapshotId: Option[Long]): DataFrame = {
    val patches = if (isRowTracking) patchesFor(snapshotId) else Nil
    if (patches.nonEmpty) return readPatched(filter, snapshotId, patches)
    // scan.file-creation-time-millis (batch form): only files created at or
    // after the cutoff serve the read — maintenance paths are unaffected
    // (they plan through planFiles directly). Creation time comes from the
    // MANIFEST (stamped at write), not a per-file driver getFileStatus.
    val fileCutoff = config.options.get("scan.file-creation-time-millis").map(_.toLong)
    val entries0 = planFiles(snapshotId, filter)
    val entries = fileCutoff match {
      case Some(c) => entries0.filter(entryCreationTime(_) >= c)
      case None => entries0
    }
    // postpone.merge-on-read: committed -2 staging joins the merge set
    // instead of waiting for compaction (reference POSTPONE_MERGE_ON_READ)
    val stagedMor = if (isPk) stagedMorEntries(snapshotId, filter) else Nil
    if (entries.isEmpty && stagedMor.isEmpty)
      return filter.foldLeft(emptyDf)((d, c) => d.filter(c))
    val dv = dvFor(snapshotId)
    val out =
      if (!isPk)
        readEntries(entries, withInternal = false, skipMapFor(entries, filter, snapshotId))
      else {
        val byBucket = entries.groupBy(e => (e.partition, e.bucket))
        // raw-convertible buckets (see rawBucket): fully-merged compaction
        // output (possibly several size-rolled, key-disjoint files) or a
        // single dedup level-0 file. partial-update/aggregation level-0
        // files may hold several versions of a key, so they must merge.
        // A partition with visible staging can't serve ANY bucket raw: a
        // staged version of a key must merge against its real-bucket rows.
        // Same for a partition with MIXED routing layouts (concurrent
        // fixed-bucket append vs rescale): a pk may span two buckets.
        val stagedParts = stagedMor.map(_.partition).toSet ++
          mixedLayoutParts(entries)
        val (rawB, mergeB) = byBucket.partition { case ((p, _), es) =>
          rawBucket(es) && !stagedParts.contains(p) }
        // merge work needed + merge-in-scan eligible → route THIS read
        // through the DSv2 connector (GraftMorScan): per-bucket in-scan
        // merge, zero exchanges, instead of the relational Window/max_by
        // plan. Branch-pinned handles keep the relational plan (the
        // path-based connector load reads main). Eligibility is checked
        // UNFILTERED: the connector prunes with the weaker convertible
        // subset, so its entry set is a superset — the uniform-schema
        // check must hold for all live entries or the connector could
        // bounce back here (V1 fallback) and loop.
        if (stagedMor.isEmpty && mergeB.nonEmpty && sm.branch.isEmpty &&
            morPlanEntries(snapshotId, None).isDefined) {
          var r = spark.read.format("graft")
          snapshotId.foreach(id => r = r.option("scan.snapshot-id", id.toString))
          // pin the STORED blob form on the bounce: blob resolution belongs
          // to the OUTER read()'s resolveBlobRead wrapper — without the pin
          // the connector's blob routing would send the scan back to the V1
          // DataFrame plan, which re-enters this bounce (infinite recursion,
          // exactly the bounce-back hazard noted above)
          GraftTable.STORED_READ_OPTS.foreach { case (k, v) => r = r.option(k, v) }
          return filter.foldLeft(r.load(location))((d, c) => d.filter(c))
        }
        // raw buckets are fully merged: their rows are final, so the FULL
        // filter (value conjuncts included) prunes them per-file — this is
        // where post-compaction value-filter file skipping happens for PK
        // tables (planFiles itself only pruned on merge-safe columns)
        val rawEntries = fullPrune(rawB.values.flatten.toSeq, filter)
        val mergeEntries = mergeB.values.flatten.toSeq ++ stagedMor
        // version-pileup estimate: rows per bucket vs the bucket's largest
        // file (a lower bound on distinct keys). High ratio → hash-agg merge
        // (map-side duplicate collapse); low ratio → sort window.
        val heavyDup = mergeB.nonEmpty && {
          val total = mergeEntries.map(_.rowCount).sum.toDouble
          val keysLb = mergeB.values.map(_.map(_.rowCount).max).sum.toDouble
          keysLb > 0 && total / keysLb >= 2.0
        }
        val parts = Seq(
          if (rawEntries.nonEmpty)
            // raw rows are final → index row-skip applies (merge input: DVs only)
            Some(readEntries(rawEntries, withInternal = false,
              skipMapFor(rawEntries, filter, snapshotId)))
          else None,
          if (mergeEntries.nonEmpty)
            Some(MergeEngines.merge(readEntries(mergeEntries, withInternal = true, dv),
              config, dataSchema, preferHash = heavyDup)
              .select(dataSchema.fields.map(f => col(f.name)).toIndexedSeq: _*))
          else None).flatten
        parts.reduce(_ unionAll _)
      }
    filter.foldLeft(out)((d, c) => d.filter(c))
  }

  /** Data-evolution read: base files merged with outstanding column
    * patches. Files whose row-id range no patch touches stay a plain scan;
    * only overlapping files pay the patch join. A filter referencing a
    * patched column cannot prune files (base stats are stale for it) —
    * planning falls back to the un-filtered entry list, the row filter
    * still applies at the end. */
  private def readPatched(filter: Option[Column], snapshotId: Option[Long],
                          patches: Seq[PatchFile]): DataFrame = {
    val pCols = patches.flatMap(_.cols).toSet
    val pruneSafe = filter.filter(c => !filterCols(c).exists(pCols.contains))
    val entries = planFiles(snapshotId, pruneSafe)
    if (entries.isEmpty)
      return filter.foldLeft(emptyDf)((d, c) => d.filter(c))
    val (hit, miss) = entries.partition(e => patchOverlaps(e, patches))
    val dataCols = dataSchema.fields.map(f => col(f.name)).toIndexedSeq
    val parts = Seq(
      if (hit.nonEmpty)
        Some(applyPatches(
          readEntries(hit, withInternal = true,
            skipMapFor(hit, pruneSafe, snapshotId)), patches)
          .select(dataCols: _*))
      else None,
      if (miss.nonEmpty)
        Some(readEntries(miss, withInternal = false,
          skipMapFor(miss, pruneSafe, snapshotId)))
      else None).flatten
    val out = parts.reduce(_ unionAll _)
    filter.foldLeft(out)((d, c) => d.filter(c))
  }

  /** Entries iff this snapshot+filter plan is servable RAW — every bucket a
    * single merged (or dedup level-0) file, no tombstones. The native DSv2
    * columnar scan takes this path; anything else needs the DataFrame merge
    * plan. `allowDv=false` (default) also demands no deletion vectors —
    * callers that apply DVs themselves (the native scan's reader factory
    * skips per-file positions) pass true. */
  /** A bucket's entry-set is servable RAW (rows final, no merge needed):
    * every file level>0 — ONE compaction's outputs, key-disjoint even when
    * size-rolling split them (compaction rewrites all live files of a
    * bucket, so two compactions' outputs never coexist) — or a single
    * deduplicate-engine level-0 file (within-batch pre-merge guarantees
    * unique keys). Tombstones force the merge plan either way. */
  private[graft] def rawBucket(es: Seq[ManifestEntry]): Boolean = {
    def noTombstone(e: ManifestEntry) =
      e.stats.get(KIND).forall(s => s.max == null || s.max.toInt <= KIND_UPDATE_AFTER)
    if (es.forall(_.level > 0)) es.forall(noTombstone)
    else es.size == 1 && noTombstone(es.head) &&
      config.mergeEngine == "deduplicate"
  }

  /** Entries for a merge-INSIDE-the-scan plan (dsv2.GraftMorScan): PK
    * deduplicate/first-row over uniform-schema parquet files — the merge
    * runs per (partition, bucket) key group in the reader, zero exchanges.
    * None → the relational MergeEngines plan (other engines, schema
    * evolution, column patches, fallback branch, non-parquet). */
  private[graft] def morPlanEntries(snapshotId: Option[Long] = None,
                                    filter: Option[Column] = None)
      : Option[Seq[ManifestEntry]] = {
    if (!isPk) return None
    if (config.mergeEngine != "deduplicate" && config.mergeEngine != "first-row")
      return None
    if (fileFormat != "parquet") return None
    if (isRowTracking && patchesFor(snapshotId).nonEmpty) return None
    // pk-clustering-override files are CLUSTERING-sorted, not pk-sorted —
    // the in-scan k-way merge requires pk order, so those tables merge
    // through the V1 relational plan (their raw compacted reads are
    // unaffected; uncompacted merge reads are the rare state the
    // override trades away for value-column file skipping)
    if (config.option("pk-clustering-override", "false") == "true") return None
    // visible postpone staging (-2) needs the V1 merge plan
    if (stagedMorEntries(snapshotId, None).nonEmpty) return None
    if (sm.branch.isEmpty && config.options.contains("scan.fallback-branch"))
      return None
    val entries = planFiles(snapshotId, filter)
    if (entries.isEmpty) return None
    // old-schema files need the field-id remap (V1 evolution read)
    if (entries.exists(_.schemaId != schema.id)) return None
    // mixed routing layouts: a pk may span buckets — the per-bucket in-scan
    // merge would miss the cross-bucket duplicate; V1's global merge wins
    if (mixedLayoutParts(entries).nonEmpty) return None
    Some(entries)
  }

  def rawPlan(snapshotId: Option[Long] = None,
              filter: Option[Column] = None,
              allowDv: Boolean = false): Option[Seq[ManifestEntry]] = {
    if (!allowDv && dvFor(snapshotId).nonEmpty) return None
    // outstanding column patches need the patch-join plan
    if (isRowTracking && patchesFor(snapshotId).nonEmpty) return None
    // visible postpone staging (-2) must merge → never raw-servable
    if (stagedMorEntries(snapshotId, None).nonEmpty) return None
    // fallback-branch reads compose two tables — DataFrame plan only
    if (sm.branch.isEmpty && config.options.contains("scan.fallback-branch"))
      return None
    val entries = planFiles(snapshotId, filter)
    // files from older schema versions need the field-id remap (V1 path);
    // the native columnar scan reads strictly by current column names
    if (entries.exists(_.schemaId != schema.id)) return None
    if (!isPk) return Some(entries)
    val ok = mixedLayoutParts(entries).isEmpty &&
      entries.groupBy(e => (e.partition, e.bucket))
        .forall { case (_, es) => rawBucket(es) }
    // every bucket fully merged → rows are final → the full filter (value
    // conjuncts included) may prune per-file, and so may the file indexes
    if (!ok) None
    else if (!isPk) Some(entries)
    else {
      val byStats = fullPrune(entries, filter)
      Some(filter match {
        case Some(c) if fileIndexSpecs.nonEmpty =>
          FileIndexes.pruneAndSelect(this, byStats,
            StatsPrune.resolve(spark, fileSchema, c))._1
        case _ => byStats
      })
    }
  }

  /** ALL live entries including postpone staging (bucket -2) — compaction's
    * input view; normal planning/reads exclude staging. */
  private[core] def allLiveEntries(): Seq[ManifestEntry] =
    sm.latestSnapshot.map(sm.liveEntries).getOrElse(Nil)

  /** Live entries surviving `keep`, evaluated on EXECUTORS above the plan
    * threshold — victim selection for overwrite / changelog-diff touches
    * only the matching entries on the driver, never the full manifest set
    * (SURVEY §7 100-TB posture; partition-scoped INSERT OVERWRITE of a
    * 10^7-file table folds one partition, not the table). */
  private def liveEntriesWhere(snap: SnapshotMeta)(
      keep: ManifestEntry => Boolean): Seq[ManifestEntry] = {
    if (snap.liveFilesLong.exists(_ >= sm.planDfThreshold)) {
      val ss = spark
      import ss.implicits._
      sm.liveEntriesDf(ss, snap).as[ManifestEntry]
        .filter(keep).collect().toSeq
    } else sm.liveEntries(snap).filter(keep)
  }

  /** Read exactly `entries` (no merge, current DVs applied) — the data side
    * of index-driven plans (GlobalIndex names the files to read). */
  def readFiles(entries: Seq[ManifestEntry]): DataFrame =
    readEntries(entries, withInternal = false, dvFor(None))

  /** Read-optimized scan: raw files only, no merge (paimon `t$ro`). */
  def readRaw(snapshotId: Option[Long] = None): DataFrame =
    readEntries(planFiles(snapshotId, None), withInternal = false)

  /** Snapshot read with paimon-style METADATA COLUMNS appended
    * (`__graft_file_path`, `__graft_row_index`, `__graft_partition`,
    * `__graft_bucket` — capability of paimon's PaimonMetadataColumn /
    * SupportsMetadataColumns, PaimonSparkTableBase.scala:119). File identity
    * is per-row, so PK tables are limited to the engines whose merge picks
    * ONE source row per key (deduplicate / first-row); partial-update and
    * aggregation combine several rows, leaving no well-defined origin.
    * Partition values live in the data columns (only hashed `__pt` dirs are
    * on disk) and the bucket is parsed from the file path — no extra join. */
  def readWithMetadata(snapshotId: Option[Long] = None,
                       readOpts: Map[String, String] = Map.empty): DataFrame = {
    require(fileFormat == "parquet",
      "metadata columns require parquet data files (_metadata.row_index)")
    if (isPk) require(Set("deduplicate", "first-row").contains(config.mergeEngine),
      s"metadata columns undefined for merge engine ${config.mergeEngine}: " +
        "merged rows combine several source rows")
    val partType = StructType(config.partitionKeys.map(k =>
      dataSchema.fields.find(_.name == k).getOrElse(
        throw new IllegalStateException(s"partition key $k missing"))))
    def finish(df: DataFrame): DataFrame =
      df.withColumn(GraftTable.PARTITION_COL,
          struct(config.partitionKeys.map(col).toIndexedSeq: _*))
        .withColumn(GraftTable.BUCKET_COL,
          regexp_extract(col(GraftTable.FILE_PATH_COL),
            s"${GraftTable.BUCKET}=(-?\\d+)", 1).cast(IntegerType))
        .select((dataSchema.fields.map(f => col(f.name)) ++
          GraftTable.METADATA_COLS.map(col)).toIndexedSeq: _*)
    val entries = planFiles(snapshotId, None)
    if (entries.isEmpty) {
      val s = StructType(dataSchema.fields ++ Array(
        StructField(GraftTable.FILE_PATH_COL, StringType),
        StructField(GraftTable.ROW_INDEX_COL, LongType),
        StructField(GraftTable.PARTITION_COL, partType),
        StructField(GraftTable.BUCKET_COL, IntegerType)))
      return spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), s)
    }
    val dv = dvFor(snapshotId)
    val out =
      if (!isPk) finish(readEntries(entries, withInternal = false, dv, withMeta = true))
      else {
        val merged = MergeEngines.merge(
          readEntries(entries, withInternal = true, dv, withMeta = true),
          config, dataSchema)
        finish(merged)
      }
    // same blob read semantics as plain read(): a projection that happens
    // to also ask for __graft_file_path must not flip blob columns to
    // their serialized stored form — and the scan's per-read options
    // (blob-as-descriptor / blob-view.resolve.enabled) are honored exactly
    // like read() honors them
    resolveBlobRead(out, readOpts, snapshotId)
  }

  /** Full rows incl. LSM envelope, rowkind as string (paimon `t$audit_log`). */
  def auditLog(snapshotId: Option[Long] = None): DataFrame = {
    // append tables have no envelope; withInternal would only leak shred
    // cols. DVs apply: a vectored-out row is deleted everywhere, the audit
    // view included
    val df = readEntries(planFiles(snapshotId, None), withInternal = isPk,
      dvFor(snapshotId))
    if (!isPk) df.withColumn("rowkind", lit("+I"))
    else df.withColumn("rowkind",
        when(col(KIND) === KIND_DELETE, "-D")
          .when(col(KIND) === KIND_UPDATE_AFTER, "+U").otherwise("+I"))
      .drop(SEQ, SEQ2, COMMIT, KIND)
  }

  def readTag(tag: String): DataFrame = read(None, Some(sm.readTag(tag).snapshotId))

  /** TIMESTAMP AS OF: latest snapshot committed at or before `tsMillis`. */
  def readTimestamp(tsMillis: Long): DataFrame = {
    val ids = sm.snapshotIds.filter(id => sm.readSnapshot(id).timestampMs <= tsMillis)
    if (ids.isEmpty) emptyDf else read(None, Some(ids.max))
  }

  // ------------------------------------------------------------------
  // INCREMENTAL / CHANGELOG
  // ------------------------------------------------------------------

  /** Add nullable columns to the schema (schema evolution; cf. paimon
    * SchemaManager.commitChanges, paimon-core/.../schema/SchemaManager.java:254).
    * Files written before the change read back with nulls in the new cols. */
  def addColumns(newCols: StructField*): Unit = {
    val cur = schema
    newCols.foreach(f => require(!cur.fields.exists(_.name == f.name),
      s"column ${f.name} exists"))
    // max over ALL schema versions: re-using a DROPPED field's id would
    // resurrect its data from old files through the id remap
    val maxId = (0L to sm.latestSchemaId)
      .flatMap(id => sm.readSchema(id).fields.map(_.id)).max
    val added = newCols.zipWithIndex.map { case (f, i) =>
      FieldDef(maxId + 1 + i, f.name, f.dataType.sql, nullable = true,
        comment = f.getComment())
    }
    sm.writeSchema(TableSchema(cur.id + 1, cur.fields ++ added, cur.config,
      System.currentTimeMillis()))
  }

  /** ALTER TABLE SET TBLPROPERTIES: options persist as a schema version
    * bump (same ledger as column evolution — a snapshot's schemaId pins the
    * options it was written under, paimon SchemaChange.setOption). */
  def setOption(key: String, value: String): Unit = setOptions(Map(key -> value))

  def setOptions(kvs: Map[String, String]): Unit = {
    val cur = schema
    sm.writeSchema(TableSchema(cur.id + 1, cur.fields,
      cur.config.copy(options = cur.config.options ++ kvs),
      System.currentTimeMillis()))
  }

  /** ALTER TABLE UNSET TBLPROPERTIES. */
  def removeOptions(keys: Seq[String]): Unit = {
    val cur = schema
    sm.writeSchema(TableSchema(cur.id + 1, cur.fields,
      cur.config.copy(options = cur.config.options -- keys),
      System.currentTimeMillis()))
  }

  private def protectedCols: Set[String] =
    (config.primaryKeys ++ config.partitionKeys ++ seqFields).toSet

  /** Rename a column; files written under older schemas keep serving the
    * data through the field-id remap (paimon SchemaChange.renameColumn). */
  def renameColumn(oldName: String, newName: String): Unit = {
    val cur = schema
    require(cur.fields.exists(_.name == oldName), s"no column $oldName")
    require(!cur.fields.exists(_.name == newName), s"column $newName exists")
    require(!protectedCols.contains(oldName),
      s"cannot rename key/partition/sequence column $oldName")
    val fields = cur.fields.map(f =>
      if (f.name == oldName) f.copy(name = newName) else f)
    // column-registered options must follow the rename or their capability
    // silently detaches: per-field keys (fields.<col>.dimension /
    // .aggregate-function / …) and comma-list memberships (vector-field,
    // blob-*-field, bucket-key, file-index.*.columns)
    val listKey = (k: String) => k.endsWith("-field") || k == "bucket-key" ||
      (k.startsWith("file-index.") && k.endsWith(".columns"))
    val renamedOpts = cur.config.options.map {
      case (k, v) if k.startsWith(s"fields.$oldName.") =>
        s"fields.$newName.${k.stripPrefix(s"fields.$oldName.")}" -> v
      case (k, v) if listKey(k) =>
        k -> v.split(",").map(_.trim)
          .map(c => if (c == oldName) newName else c).mkString(",")
      case kv => kv
    }
    val renamedAggs = cur.config.fieldAggregates.map {
      case (c, fn) if c == oldName => newName -> fn
      case kv => kv
    }
    sm.writeSchema(TableSchema(cur.id + 1, fields,
      cur.config.copy(options = renamedOpts, fieldAggregates = renamedAggs),
      System.currentTimeMillis()))
  }

  /** ALTER TABLE … ALTER COLUMN c COMMENT '…' (sql-alter.md "Changing
    * Column Comment"): metadata-only schema bump. Empty string clears. */
  def setColumnComment(name: String, comment: Option[String]): Unit = {
    val cur = schema
    require(cur.fields.exists(_.name == name), s"no column $name")
    val fields = cur.fields.map(f =>
      if (f.name == name) f.copy(comment = comment.filter(_.nonEmpty)) else f)
    sm.writeSchema(TableSchema(cur.id + 1, fields, cur.config,
      System.currentTimeMillis()))
  }

  /** Reorder a column (paimon SchemaChange.Move / Spark ALTER COLUMN …
    * FIRST | AFTER x, reference docs/spark/sql-alter.md "Changing Column
    * Position"): metadata-only — field ids are untouched, so files written
    * under any order keep serving their data through the id remap. `after`
    * None ⇒ FIRST. */
  def moveColumn(name: String, after: Option[String]): Unit = {
    val cur = schema
    val field = cur.fields.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"no column $name"))
    require(!after.contains(name), s"cannot move $name after itself")
    val rest = cur.fields.filterNot(_.name == name)
    val fields = after match {
      case None => field +: rest
      case Some(anchor) =>
        val i = rest.indexWhere(_.name == anchor)
        require(i >= 0, s"no column $anchor")
        (rest.take(i + 1) :+ field) ++ rest.drop(i + 1)
    }
    sm.writeSchema(TableSchema(cur.id + 1, fields, cur.config,
      System.currentTimeMillis()))
  }

  /** Drop a column (field id retired; old files' data becomes invisible). */
  def dropColumn(name: String): Unit = {
    val cur = schema
    require(cur.fields.exists(_.name == name), s"no column $name")
    require(!protectedCols.contains(name),
      s"cannot drop key/partition/sequence column $name")
    require(cur.fields.size > 1, "cannot drop the last column")
    sm.writeSchema(TableSchema(cur.id + 1, cur.fields.filterNot(_.name == name),
      cur.config, System.currentTimeMillis()))
  }

  /** Append a field to a STRUCT column (nested evolution; old files read
    * the new field as null — the new field gets a fresh nested id, never a
    * RETIRED one: re-adding a dropped name must not resurface its data). */
  def addNestedColumn(colName: String, fieldName: String, dt: DataType): Unit = {
    val (cur, ids) = structWithIds(colName)
    require(!cur.fieldNames.contains(fieldName), s"nested field $fieldName exists")
    updateStructColumn(colName, StructType(cur.fields :+ StructField(fieldName, dt)),
      ids + (fieldName -> (maxNestedIdEver(colName) + 1)))
  }

  /** Largest nested id this column has EVER used, across every schema
    * version (the column itself is tracked by its top-level field id, so
    * renames don't lose the history). Mirrors the top-level dropped-id
    * reuse guard. */
  private def maxNestedIdEver(colName: String): Int = {
    val topId = schema.fields.find(_.name == colName)
      .getOrElse(throw new IllegalArgumentException(s"no column $colName")).id
    (0L to sm.latestSchemaId).foldLeft(-1) { (acc, sid) =>
      sm.readSchema(sid).fields.find(_.id == topId) match {
        case Some(fd) => DataType.fromDDL(fd.dataType) match {
          case st: StructType =>
            val ids = GraftTable.nestedIdsOf(st, fd)
            if (ids.isEmpty) acc else math.max(acc, ids.values.max)
          case _ => acc
        }
        case None => acc
      }
    }
  }

  /** Rename a field inside a STRUCT column (id remap keeps the data). */
  def renameNestedColumn(colName: String, oldField: String, newField: String): Unit = {
    val (cur, ids) = structWithIds(colName)
    require(cur.fieldNames.contains(oldField), s"no nested field $oldField")
    require(!cur.fieldNames.contains(newField), s"nested field $newField exists")
    updateStructColumn(colName, StructType(cur.fields.map(f =>
      if (f.name == oldField) f.copy(name = newField) else f)),
      ids - oldField + (newField -> ids(oldField)))
  }

  /** Drop a field inside a STRUCT column: the nested id is retired, so old
    * files' data for it becomes invisible — and a later re-add under the
    * same name gets a FRESH id (old data must not resurface). */
  def dropNestedColumn(colName: String, fieldName: String): Unit = {
    val (cur, ids) = structWithIds(colName)
    require(cur.fieldNames.contains(fieldName), s"no nested field $fieldName")
    require(cur.fields.length > 1, "cannot drop the last nested field")
    updateStructColumn(colName, StructType(cur.fields.filterNot(_.name == fieldName)),
      ids - fieldName)
  }

  /** Reorder a STRUCT column's fields (`order` = permutation of the current
    * names). Ids travel with the names, so old files still map by id. */
  def reorderNestedColumns(colName: String, order: Seq[String]): Unit = {
    val (cur, ids) = structWithIds(colName)
    require(order.sorted == cur.fieldNames.toSeq.sorted,
      s"order must be a permutation of ${cur.fieldNames.mkString(",")}")
    val byName = cur.fields.map(f => f.name -> f).toMap
    updateStructColumn(colName, StructType(order.map(byName)), ids)
  }

  /** Current struct type + its nested-id map (positional when absent — see
    * [[FieldDef.nestedIds]]). */
  private def structWithIds(colName: String): (StructType, Map[String, Int]) = {
    val fd = schema.fields.find(_.name == colName)
      .getOrElse(throw new IllegalArgumentException(s"no column $colName"))
    val st = DataType.fromDDL(fd.dataType) match {
      case s: StructType => s
      case _ => throw new IllegalArgumentException(s"$colName is not a struct column")
    }
    (st, GraftTable.nestedIdsOf(st, fd))
  }

  private def updateStructColumn(name: String, st: StructType,
                                 ids: Map[String, Int]): Unit = {
    val cur = schema
    require(!protectedCols.contains(name),
      s"cannot evolve key/partition/sequence column $name")
    val fields = cur.fields.map(f =>
      if (f.name == name) f.copy(dataType = st.sql, nestedIds = Some(ids)) else f)
    sm.writeSchema(TableSchema(cur.id + 1, fields, cur.config,
      System.currentTimeMillis()))
  }

  /** Change a column's type (old files cast on read; paimon
    * SchemaChange.updateColumnType via casting/CastExecutors). If the column
    * is a struct WITH nested ids, the map reconciles by name: surviving
    * names keep their id, new names get fresh ids, removed names retire. */
  def updateColumnType(name: String, dt: DataType): Unit = {
    val cur = schema
    require(cur.fields.exists(_.name == name), s"no column $name")
    require(!protectedCols.contains(name),
      s"cannot retype key/partition/sequence column $name")
    val fields = cur.fields.map { f =>
      if (f.name != name) f
      else (dt, f.nestedIdMap) match {
        case (st: StructType, Some(ids)) =>
          var next = maxNestedIdEver(name) + 1
          val merged = st.fieldNames.map { n =>
            n -> ids.getOrElse(n, { val i = next; next += 1; i })
          }.toMap
          f.copy(dataType = dt.sql, nestedIds = Some(merged))
        case _ => f.copy(dataType = dt.sql)
      }
    }
    sm.writeSchema(TableSchema(cur.id + 1, fields, cur.config,
      System.currentTimeMillis()))
  }

  /**
   * Scan-level aggregate pushdown: COUNT(*) / MIN(col) / MAX(col) answered
   * purely from manifest stats — zero data files read (paimon
   * SupportsPushDownAggregates path, paimon-spark/.../PaimonScanBuilder.scala:93
   * + AggregatePushDownUtils.scala:36). Requires every bucket raw-convertible
   * (append table, or fully compacted PK table) so file stats equal table
   * stats. `aggs` = (alias, func, col).
   */
  def aggFromManifest(aggs: Seq[(String, String, String)],
                      snapshotId: Option[Long] = None): DataFrame = {
    val entries = planFiles(snapshotId, None)
    val rawOk = !isPk || entries.groupBy(e => (e.partition, e.bucket)).forall {
      case (_, es) => es.size == 1 && es.head.level > 0
    }
    require(rawOk, "aggregate pushdown needs an append or fully-compacted table")
    require(dvFor(snapshotId).isEmpty,
      "aggregate pushdown unavailable while deletion vectors are outstanding")
    val rowCount = entries.map(_.rowCount).sum
    def fold(colName: String, wantMax: Boolean): Option[String] = {
      val dt = dataSchema.fields.find(_.name == colName).get.dataType
      // refuse unusable stats (metadata.stats-mode none/counts/truncated):
      // null bounds are only foldable when the file is provably all-null
      require(entries.forall(e => e.stats.get(colName).exists(s =>
        !s.inexact && s.nullCount >= 0 &&
          ((s.min != null && s.max != null) || s.nullCount == e.rowCount))),
        s"min/max pushdown needs exact stats for $colName " +
          "(degraded by metadata.stats-mode)")
      val vals = entries.flatMap(_.stats.get(colName))
        .flatMap(s => Option(if (wantMax) s.max else s.min))
      if (vals.isEmpty) None
      else Some(vals.reduce((a, b) =>
        if (StatsPrune.compare(dt, a, b) >= 0 == wantMax) a else b))
    }
    def litOf(dt: DataType, v: Option[String]): Column = (dt, v) match {
      case (_: TimestampType, Some(s)) => timestamp_micros(lit(s.toLong)).cast(dt)
      case _ => lit(v.orNull).cast(dt)
    }
    val exprs = aggs.map {
      case (alias, "count", _) => lit(rowCount).cast(LongType).as(alias)
      case (alias, "min", c) =>
        val dt = dataSchema.fields.find(_.name == c).get.dataType
        litOf(dt, fold(c, wantMax = false)).as(alias)
      case (alias, "max", c) =>
        val dt = dataSchema.fields.find(_.name == c).get.dataType
        litOf(dt, fold(c, wantMax = true)).as(alias)
      case (_, f, _) => throw new IllegalArgumentException(s"unsupported pushdown agg $f")
    }
    spark.range(1).select(exprs.toIndexedSeq: _*)
  }

  /** Files added by snapshots in (from, to], skipping compactions (paimon
    * IncrementalDeltaStartingScanner semantics). */
  private def deltaEntriesBetween(from: Long, to: Long): Seq[ManifestEntry] = {
    (from + 1 to to).flatMap { id =>
      val s = sm.readSnapshot(id)
      if (s.kind == "COMPACT") Nil
      else s.deltaManifests.flatMap(sm.readManifest)
        .filter(e => e.kind == 0 && e.bucket != -2) // postpone staging invisible
    }
  }

  /** Incremental upsert rows between two snapshots (paimon
    * `paimon_incremental_query` TVF, delta mode). For PK tables, the latest
    * version per key among the delta, minus tombstones. */
  def incremental(fromSnapshot: Long, toSnapshot: Long): DataFrame = {
    val entries = deltaEntriesBetween(fromSnapshot, toSnapshot)
    if (entries.isEmpty) return emptyDf
    if (!isPk) readEntries(entries, withInternal = false)
    else MergeEngines.merge(readEntries(entries, withInternal = true), config, dataSchema)
      .select(dataSchema.fields.map(f => col(f.name)).toIndexedSeq: _*)
  }

  /** Upsert-view diff between two snapshot STATES (paimon
    * IncrementalDiffStartingScanner / SnapshotReader.readIncrementalDiff):
    * rows of `to` whose key is absent from `from` or whose value changed.
    * Deletions have no batch-row representation and are dropped — the same
    * contract as the reference's diff scan. Append tables fall back to the
    * delta read (diff == delta when rows are immutable). */
  def incrementalDiff(fromSnapshot: Long, toSnapshot: Long): DataFrame = {
    if (!isPk) return incremental(fromSnapshot, toSnapshot)
    if (fromSnapshot >= toSnapshot) return emptyDf
    val before = // from below the earliest snapshot = diff against empty
      if (sm.snapshotIds.minOption.exists(_ > fromSnapshot)) emptyDf
      else read(None, Some(fromSnapshot))
    diffStates(before, read(None, Some(toSnapshot)))
      .filter(col("_row_kind").isin("+I", "+U"))
      .select(dataSchema.fields.map(f => col(f.name)).toIndexedSeq: _*)
  }

  /** Latest snapshot committed at-or-before epoch-millis `ts` (paimon
    * SnapshotManager.earlierOrEqualTimeMills). */
  def snapshotAtOrBeforeTime(ts: Long): Option[Long] =
    sm.snapshotIds.filter(id => sm.readSnapshot(id).timestampMs <= ts).maxOption

  /** Row-level changelog between snapshots as +I/-U/+U/-D rows (paimon
    * incremental diff / binlog; SURVEY §2.9). When every snapshot in the
    * range carries write-time changelog files (changelog-producer=lookup),
    * those are read directly — O(delta), no diff join. Otherwise falls back
    * to the exact full-state diff (O(table), producer-independent). */
  def changelog(fromSnapshot: Long, toSnapshot: Long): DataFrame = {
    require(isPk, "changelog diff requires a primary-keyed table")
    val clSchema = StructType(dataSchema.fields :+
      StructField("_row_kind", StringType, false))
    // full-compaction producer: COMPACT snapshots carry changelog for the
    // window (changelogBase, id]; a continuous chain from..to serves the
    // request from stored files — O(changelog), no diff.
    val allInRange = (fromSnapshot + 1 to toSnapshot).map(sm.readSnapshot)
    val fcCompacts = allInRange
      .filter(s => s.kind == "COMPACT" && s.changelogFiles.nonEmpty)
      .sortBy(_.id)
    val fcChainOk = fcCompacts.nonEmpty && fcCompacts.last.id == toSnapshot && {
      var b = fromSnapshot; var ok = true
      fcCompacts.foreach { c =>
        if (!c.changelogBaseLong.contains(b)) ok = false else b = c.id
      }
      ok
    }
    // expire_changelogs may have deleted stored files the snapshots still
    // reference — only serve from files that are all present
    def allPresent(rel: Seq[String]): Boolean =
      rel.forall(p => sm.fs.exists(new Path(location, p)))
    if (fcChainOk && allPresent(fcCompacts.flatMap(_.changelogFiles))) {
      val paths = fcCompacts.flatMap(_.changelogFiles)
        .map(p => new Path(location, p).toString)
      return spark.read.schema(clSchema).parquet(paths: _*)
    }
    val snaps = allInRange.filter(_.kind != "COMPACT")
    if (snaps.nonEmpty && snaps.forall(_.changelogFiles.nonEmpty) &&
        allPresent(snaps.flatMap(_.changelogFiles))) {
      val paths = snaps.flatMap(_.changelogFiles)
        .map(p => new Path(location, p).toString)
      return spark.read.schema(clSchema).parquet(paths: _*)
    }
    diffStates(read(None, Some(fromSnapshot)), read(None, Some(toSnapshot)))
  }

  /** Exact per-key state diff as +I/-U/+U/-D rows (shared by the changelog
    * fallback and the full-compaction producer). */
  private def diffStates(before0: DataFrame, after0: DataFrame): DataFrame = {
    val before = before0.withColumn("__side", lit("b"))
    val after = after0.withColumn("__side", lit("a"))
    val dataCols = dataSchema.fields.map(_.name).toSeq
    val b = before.select((dataCols.map(col) :+ col("__side")).toIndexedSeq: _*).alias("b")
    val a = after.select((dataCols.map(col) :+ col("__side")).toIndexedSeq: _*).alias("a")
    val joinCond = pks.map(k => col(s"b.$k") <=> col(s"a.$k")).reduce(_ && _)
    val joined = b.join(a, joinCond, "full_outer")
    val changedCond = dataCols.filterNot(pks.contains)
      .map(c => !(col(s"b.$c") <=> col(s"a.$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    val inserts = joined.filter(col("b.__side").isNull)
      .select(dataCols.map(c => col(s"a.$c").as(c)).toIndexedSeq: _*)
      .withColumn("_row_kind", lit("+I"))
    val deletes = joined.filter(col("a.__side").isNull)
      .select(dataCols.map(c => col(s"b.$c").as(c)).toIndexedSeq: _*)
      .withColumn("_row_kind", lit("-D"))
    val updBase = joined.filter(col("b.__side").isNotNull && col("a.__side").isNotNull && changedCond)
    val ubefore = updBase.select(dataCols.map(c => col(s"b.$c").as(c)).toIndexedSeq: _*)
      .withColumn("_row_kind", lit("-U"))
    val uafter = updBase.select(dataCols.map(c => col(s"a.$c").as(c)).toIndexedSeq: _*)
      .withColumn("_row_kind", lit("+U"))
    inserts.unionAll(deletes).unionAll(ubefore).unionAll(uafter)
  }

  /** Changelog files for a FULL COMPACTION (changelog-producer =
    * full-compaction, paimon FullChangelogMergeTreeCompactRewriter): diff
    * the new merged state against the state at the previous produced point
    * and persist the exact -U/+U/+I/-D rows. Returns (files, base id). */
  private[core] def fullCompactionChangelog(curState: DataFrame): (Seq[String], Option[Long]) = {
    val base = sm.snapshotIds.sorted.reverse.find { id =>
      val s = sm.readSnapshot(id)
      s.kind == "COMPACT" && s.changelogFiles.nonEmpty
    }.getOrElse(0L)
    val prev = if (base == 0L) emptyDf else read(None, Some(base))
    val cl = diffStates(prev, curState)
    (writeChangelogFiles(cl), Some(base))
  }

  /** Persist changelog rows under changelog/, returning relative paths. */
  private def writeChangelogFiles(cl: DataFrame): Seq[String] = {
    val clDir = s"changelog/c-${UUID.randomUUID().toString.take(12)}"
    val clAbs = new Path(location, clDir).toString
    cl.write.parquet(clAbs)
    val fsys = sm.fs
    val locUri = new Path(location).toUri.getPath
    val it = fsys.listFiles(new Path(clAbs), false)
    val out = scala.collection.mutable.ArrayBuffer[String]()
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && st.getPath.getName.endsWith(".parquet"))
        out += st.getPath.toUri.getPath.stripPrefix(locUri).stripPrefix("/")
    }
    out.toSeq
  }
}

object GraftTable {
  /** Count of per-file getFileStatus fallbacks taken for legacy manifests
    * missing creationTime — tests assert it stays 0 after a
    * `compact_manifest` migration. */
  private[graft] val legacyStatFallbacks = new java.util.concurrent.atomic.AtomicLong()

  /** Hash-routing key columns of a FIXED-bucket layout (see
    * [[GraftTable.fixedBucketKeys]]); config-level so historical schemas can
    * be compared against the current layout. */
  private[core] def routingKeys(c: TableConfig): Option[Seq[String]] =
    if (c.numBuckets <= 0) None
    else {
      val bk = c.option("bucket-key", "").split(",").map(_.trim)
        .filter(_.nonEmpty).toSeq
      if (bk.nonEmpty) Some(bk)
      else if (c.primaryKeys.nonEmpty) {
        // the reference's default bucket key is the TRIMMED primary key —
        // pk minus partition keys (TableSchema.trimmedPrimaryKeys,
        // paimon-api/.../schema/TableSchema.java:168) — so the same logical
        // key stays co-located across time partitions (chain-table merges,
        // cross-partition reads, storage-partitioned joins spanning
        // partitions). Degenerate pk == partition keys falls back to the
        // full pk instead of refusing the table.
        //
        // LAYOUT VERSIONING: routing is a PERSISTED property — files were
        // placed by it. Tables stamp their layout at creation
        // (bucket.key-layout, GraftTable.create); a table WITHOUT the stamp
        // predates trimmed routing and must keep reading AND writing the
        // full-pk layout its files live under — re-deriving buckets with a
        // newer function would silently drop rows from bucket-pruned reads
        // and split a key's versions across buckets on upsert.
        if (c.option("bucket.key-layout", "full-pk") == "trimmed-pk") {
          val trimmed = c.primaryKeys.filterNot(c.partitionKeys.contains)
          Some(if (trimmed.nonEmpty) trimmed else c.primaryKeys)
        } else Some(c.primaryKeys)
      } else None
    }

  /** Stable per-file key: last 3 path components (commit-dir/pt/bucket/file
    * collapse to pt-dir/bucket-dir/file-name — unique across commits because
    * the file name carries the write job UUID). */
  def dvKey(path: String): String = {
    val parts = path.split('/')
    parts.takeRight(3).mkString("/")
  }

  /** Physical column name of a shredded variant extraction. */
  def shredColName(c: String, i: Int): String = s"__shred__${c}__$i"

  /** Row-tracking id column ((commit seq << 48) + in-commit position). */
  val ROW_ID = "__row_id"

  /** Metadata column names (paimon PaimonMetadataColumn.scala:60-66 family). */
  val FILE_PATH_COL = "__graft_file_path"
  val ROW_INDEX_COL = "__graft_row_index"
  val PARTITION_COL = "__graft_partition"
  val BUCKET_COL = "__graft_bucket"
  val METADATA_COLS: Seq[String] =
    Seq(FILE_PATH_COL, ROW_INDEX_COL, PARTITION_COL, BUCKET_COL)

  /** Nested-id map of a struct FieldDef: explicit when present, positional
    * otherwise (a version without the map predates any nested evolution of
    * that column, so position IS the original stable id). */
  private[core] def nestedIdsOf(st: StructType, fd: FieldDef): Map[String, Int] =
    fd.nestedIdMap.getOrElse(st.fieldNames.zipWithIndex.toMap)

  /** NESTED schema evolution (paimon nested SchemaChange): old files remap
    * to the current type POSITIONALLY inside structs — rename keeps the
    * data, widened leaves cast, fields APPENDED to a struct read as null —
    * recursing through arrays. Anything else falls back to Spark's cast. */
  private[core] def evolveExpr(src: DataType, dst: DataType,
                               e: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (src, dst) match {
      case (s, d) if s == d => e
      case (s: StructType, d: StructType) if d.fields.length >= s.fields.length =>
        val kids = d.fields.zipWithIndex.map { case (df, i) =>
          if (i < s.fields.length)
            evolveExpr(s.fields(i).dataType, df.dataType,
              e.getField(s.fields(i).name)).as(df.name)
          else lit(null).cast(df.dataType).as(df.name)
        }
        when(e.isNull, lit(null).cast(d)).otherwise(struct(kids.toIndexedSeq: _*))
      case (s: ArrayType, d: ArrayType) =>
        transform(e, x => evolveExpr(s.elementType, d.elementType, x))
      // TRY cast: a lossy retype (write.merge-schema.explicit-cast) must
      // read old out-of-range values as null, not fail the scan under ANSI
      // (paimon's CastExecutors are non-throwing the same way)
      case (_, d) => e.try_cast(d)
    }

  /** Top-level field remap honoring NESTED FIELD IDS: direct children of a
    * struct column match by their stable nested id (rename keeps data, drop
    * retires the id, re-add under the same name gets a fresh id and reads
    * null from old files, reorder follows the id); levels below, and
    * non-struct columns, take the [[evolveExpr]] rules. */
  private[core] def evolveFieldExpr(srcDef: FieldDef, dstDef: FieldDef,
                                    e: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val src = DataType.fromDDL(srcDef.dataType)
    val dst = DataType.fromDDL(dstDef.dataType)
    (src, dst) match {
      case (s: StructType, d: StructType) =>
        val srcByld = nestedIdsOf(s, srcDef).map(_.swap)
        val dstIds = nestedIdsOf(d, dstDef)
        val srcFields = s.fields.map(f => f.name -> f).toMap
        val kids = d.fields.map { df =>
          dstIds.get(df.name).flatMap(srcByld.get).map(srcFields) match {
            case Some(sf) =>
              evolveExpr(sf.dataType, df.dataType, e.getField(sf.name)).as(df.name)
            case None => lit(null).cast(df.dataType).as(df.name)
          }
        }
        when(e.isNull, lit(null).cast(d)).otherwise(struct(kids.toIndexedSeq: _*))
      case _ => evolveExpr(src, dst, e)
    }
  }

  /** Per-read options pinning the STORED form of blob columns. */
  val STORED_READ_OPTS: Map[String, String] =
    Map("blob-as-descriptor" -> "true", "blob-view.resolve.enabled" -> "false")

  /** (table location, branch, snapshot id, view column) → distinct upstream
    * (location, field) pairs — safe to cache: snapshots are immutable. */
  private[core] val blobViewPairCache =
    scala.collection.concurrent.TrieMap[(String, String, Long, String), Seq[(String, String)]]()

  // internal (LSM envelope / routing) column names
  val SEQ = "__seq"
  val SEQ2 = "__seq2" // second user sequence field (0 when unused)
  val COMMIT = "__commit"
  val POS = "__pos"
  val KIND = "__kind"
  val PT = "__pt"
  val BUCKET = "__bucket"

  /** PT-hash of the partition directory a data-file path sits under —
    * the per-partition key for postpone bucket-count bookkeeping. */
  private val PtDirRe = ("(?:^|/)" +
    java.util.regex.Pattern.quote(PT) + "=([^/]+)").r
  private[core] def ptOfPath(path: String): String =
    PtDirRe.findFirstMatchIn(path).map(_.group(1)).getOrElse("-")

  val KIND_INSERT = 0
  val KIND_UPDATE_AFTER = 2
  val KIND_DELETE = 3

  def create(spark: SparkSession, location: String, schema: StructType,
             config: TableConfig): GraftTable = {
    val sm = new SnapshotManager(location, spark.sessionState.newHadoopConf())
    require(!sm.tableExists, s"table exists at $location")
    config.primaryKeys.foreach(k => require(schema.fieldNames.contains(k),
      s"primary key $k not in schema"))
    config.partitionKeys.foreach(k => require(schema.fieldNames.contains(k),
      s"partition key $k not in schema"))
    config.options.get("bucket-key").foreach { bk =>
      require(config.primaryKeys.isEmpty,
        "bucket-key applies to append tables (PK tables route by primary key)")
      bk.split(",").map(_.trim).filter(_.nonEmpty).foreach(k =>
        require(schema.fieldNames.contains(k), s"bucket-key $k not in schema"))
    }
    // sequence.snapshot-ordering (sequence-rowkind.mdx:75): merge by commit
    // snapshot id — exactly this engine's DEFAULT ordering (__seq =
    // commitSeq when no sequence.field), so the option only needs its
    // documented constraints enforced
    if (config.option("sequence.snapshot-ordering", "false") == "true") {
      require(config.sequenceField.isEmpty,
        "sequence.snapshot-ordering is mutually exclusive with sequence.field")
      require(config.option("write-only", "false") == "true",
        "sequence.snapshot-ordering requires write-only=true (dedicated compaction)")
    }
    config.sequenceField.foreach { sf =>
      val fs = sf.split(",").map(_.trim).filter(_.nonEmpty)
      require(fs.size <= 2, s"at most 2 sequence fields supported, got $sf")
      fs.foreach(f => require(schema.fieldNames.contains(f),
        s"sequence field $f not in schema"))
    }
    val fmt = config.option("file.format", "parquet")
    require(Set("parquet", "orc", "csv", "json", "avro", "text", "row")(fmt),
      s"unknown file.format $fmt")
    // text: one line per row — exactly one STRING column, append tables
    // only (the LSM envelope needs typed columns)
    if (fmt == "text") {
      require(config.primaryKeys.isEmpty,
        "file.format=text supports append tables only")
      require(schema.fields.length == 1 &&
          schema.fields.head.dataType == StringType,
        "file.format=text requires exactly one STRING column")
      // row tracking / shredding add typed file columns a one-string-column
      // line format cannot carry — fail at create, not deep in the writer
      require(config.option("row-tracking.enabled", "false") != "true",
        "file.format=text cannot store the row-tracking id column")
      require(!config.options.keys.exists(k =>
          k.startsWith("fields.") && k.endsWith(".shred")),
        "file.format=text cannot store shredded extraction columns")
    }
    if (fmt == "csv") schema.fields.foreach { f =>
      val flat = f.dataType match {
        case _: StructType | _: ArrayType | _: MapType | _: BinaryType |
             _: VariantType => false
        case _ => true
      }
      require(flat,
        s"file.format=csv supports flat atomic schemas only (column ${f.name})")
    }
    if (fmt == "avro") schema.fields.foreach(f =>
      require(!f.dataType.isInstanceOf[VariantType],
        s"file.format=avro does not support VARIANT (column ${f.name})"))
    // variant shredding on PK tables: the winner row carries its own
    // extractions, which requires a whole-row merge (dedup family) — a
    // field-combining engine would need extraction-of-merged-variant
    if (config.primaryKeys.nonEmpty &&
        config.options.keys.exists(k => k.startsWith("fields.") && k.endsWith(".shred")))
      require(Set("deduplicate", "first-row")(config.mergeEngine),
        "variant shredding on primary-key tables requires the deduplicate " +
          s"or first-row merge engine, got ${config.mergeEngine}")
    if (fmt != "parquet")
      require(config.option("deletion-vectors.enabled", "false") != "true",
        "deletion vectors require file.format=parquet (_metadata.row_index)")
    // PK clustering override (paimon pk-clustering-override.md): files sort
    // by clustering columns instead of the PK; uniqueness still holds via
    // MOR + DVs, so only dedup-family engines without changelog support it
    if (config.option("pk-clustering-override", "false") == "true") {
      val cl = config.option("clustering.columns", "")
        .split(',').map(_.trim).filter(_.nonEmpty)
      require(cl.nonEmpty, "pk-clustering-override requires clustering.columns")
      cl.foreach(c => require(schema.fieldNames.contains(c),
        s"clustering column $c not in schema"))
      cl.foreach(c => require(!config.primaryKeys.contains(c),
        s"clustering column $c must not be a primary key"))
      require(Set("deduplicate", "first-row")(config.mergeEngine),
        "pk-clustering-override supports deduplicate/first-row only")
      require(config.mergeEngine == "first-row" ||
        config.option("deletion-vectors.enabled", "false") == "true",
        "pk-clustering-override requires deletion-vectors.enabled (or first-row)")
      require(config.option("changelog-producer", "none") == "none",
        "pk-clustering-override does not support changelog producers")
      require(config.sequenceField.isEmpty,
        "pk-clustering-override does not support sequence.field")
    }
    // stamp the bucket-routing layout at creation: routing places files, so
    // it must never change under a persisted table. Unstamped tables
    // (created before trimmed routing) keep the full-pk layout — see
    // GraftTable.routingKeys.
    val stamped =
      if (config.numBuckets > 0 && config.primaryKeys.nonEmpty &&
          !config.options.contains("bucket.key-layout"))
        config.copy(options = config.options + ("bucket.key-layout" -> "trimmed-pk"))
      else config
    sm.writeSchema(TableSchema.fromSpark(0, schema, stamped))
    withHooks(new GraftTable(spark, location, sm))
  }

  /** Attach post-commit callbacks configured by table options (iceberg
    * metadata export mirrors paimon's IcebergCommitCallback; automatic tag
    * creation mirrors paimon's TagAutoManager on the writer commit path). */
  private def withHooks(t: GraftTable): GraftTable = {
    val hooks = Seq.newBuilder[SnapshotMeta => Unit]
    if (IcebergExport.enabled(t))
      hooks += (_ => { IcebergExport.export(t); () })
    if (t.config.option("tag.automatic-creation", "none") != "none")
      hooks += (snap => autoCreateTag(t, snap))
    // automatic snapshot expiry per commit (paimon snapshot.num-retained.max
    // / snapshot.time-retained / snapshot.num-retained.min — paimon expires
    // on every commit; we activate only when configured so time travel over
    // full history stays the default). Tag- and consumer-pinned snapshots
    // survive inside expireSnapshots. num-retained.min is capped by .max so
    // a small .max keeps meaning "keep exactly N".
    if (!t.writeOnly &&
        (t.config.options.contains("snapshot.num-retained.max") ||
         t.config.options.contains("snapshot.time-retained")))
      hooks += { _ =>
        import RowOps._
        val maxK = t.config.options.get("snapshot.num-retained.max")
          .map(_.toInt).getOrElse(Int.MaxValue)
        val age = t.config.options.get("snapshot.time-retained")
          .map(RowOps.parseDurationMs)
        val minK = math.min(
          t.config.option("snapshot.num-retained.min", "10").toInt, maxK)
        t.expireSnapshots(maxK, age, minK)
        ()
      }
    // automatic partition expiry (paimon partition.expiration-time); fires
    // once per commit — the expiry's own OVERWRITE commit finds no victims
    if (!t.writeOnly && t.config.options.contains("partition.expiration-time"))
      hooks += { _ =>
        import RowOps._
        t.maybeExpirePartitions()
        ()
      }
    val hs = hooks.result()
    if (hs.nonEmpty) t.sm.postCommitHook = Some(s => hs.foreach(_(s)))
    t
  }

  /** Automatic tags at commit (paimon `tag.automatic-creation` +
    * `tag.creation-period` + `tag.num-retained-max`, tag/TagAutoCreation):
    * `watermark` mode tags `watermark-<w>` from the snapshot watermark
    * (skipped while no watermark is flowing), `process-time` tags by the
    * commit time bucketed to the creation period (daily/hourly). Existing
    * names are left alone (one tag per period); the oldest AUTO tags beyond
    * `tag.num-retained-max` expire — user-created tags are never touched. */
  private def autoCreateTag(t: GraftTable, snap: SnapshotMeta): Unit = {
    val mode = t.config.option("tag.automatic-creation", "none")
    def isAuto(n: String): Boolean = mode match {
      case "watermark" => n.startsWith("watermark-")
      case _ => n.matches("\\d{4}-\\d{2}-\\d{2}( \\d{2})?")
    }
    val name: Option[String] = mode match {
      case "watermark" => snap.watermarkLong.map(w => s"watermark-$w")
      case "process-time" =>
        val ts = java.time.Instant.ofEpochMilli(snap.timestampMs)
          .atZone(java.time.ZoneOffset.UTC)
        Some(t.config.option("tag.creation-period", "daily") match {
          case "hourly" => ts.toLocalDate.toString + f" ${ts.getHour}%02d"
          case _ => ts.toLocalDate.toString
        })
      case other => throw new IllegalArgumentException(
        s"tag.automatic-creation=$other (watermark|process-time|none)")
    }
    name.foreach { n =>
      if (!t.sm.listTags().exists(_.name == n)) t.sm.createTag(n, snap.id)
      val maxKeep = t.config.option("tag.num-retained-max", "0").toInt
      if (maxKeep > 0) {
        // order by tagged snapshot (monotone with creation; lexicographic
        // name order would put watermark-9 after watermark-10)
        val auto = t.sm.listTags().filter(tm => isAuto(tm.name)).sortBy(_.snapshotId)
        auto.dropRight(maxKeep).foreach(tm => t.sm.deleteTag(tm.name))
      }
    }
  }

  def load(spark: SparkSession, location: String): GraftTable =
    load(spark, location, None)

  /** Load a table, optionally pinned to a branch: same data/manifests,
    * independent snapshot chain (commits land on the branch only). */
  def load(spark: SparkSession, location: String, branch: Option[String]): GraftTable = {
    val sm = new SnapshotManager(location, spark.sessionState.newHadoopConf(), branch)
    require(sm.tableExists, s"no graft table at $location")
    branch.foreach(b => require(sm.branchExists(b), s"no branch $b at $location"))
    withHooks(new GraftTable(spark, location, sm))
  }

  def exists(spark: SparkSession, location: String): Boolean =
    new SnapshotManager(location, spark.sessionState.newHadoopConf()).tableExists

  /** Create-or-replace helper for tests/benchmarks. */
  def createOrReplace(spark: SparkSession, location: String, schema: StructType,
                      config: TableConfig): GraftTable = {
    val sm = new SnapshotManager(location, spark.sessionState.newHadoopConf())
    if (sm.fs.exists(new Path(location))) sm.fs.delete(new Path(location), true)
    create(spark, location, schema, config)
  }
}

/**
 * The four storage-side merge engines, expressed as Catalyst-friendly
 * window/groupBy plans (SURVEY §2.4a). Input carries the LSM envelope
 * (__seq/__commit/__kind); output is one row per key, envelope retained
 * (so compaction can persist it).
 */
object MergeEngines {
  import GraftTable._

  /** Comparator over the LSM envelope fields of a collected struct —
    * array_sort cannot order structs whose payload holds maps. */
  private[core] def envelopeCmp(l: Column, r: Column): Column = {
    def f(c: Column, n: String) = c.getField(n)
    when(f(l, SEQ) < f(r, SEQ), -1).when(f(l, SEQ) > f(r, SEQ), 1)
      .when(f(l, SEQ2) < f(r, SEQ2), -1).when(f(l, SEQ2) > f(r, SEQ2), 1)
      .when(f(l, COMMIT) < f(r, COMMIT), -1).when(f(l, COMMIT) > f(r, COMMIT), 1)
      .when(f(l, POS) < f(r, POS), -1).when(f(l, POS) > f(r, POS), 1)
      .otherwise(0)
  }

  def merge(df: DataFrame, config: TableConfig, schema: StructType,
            preferHash: Boolean = false): DataFrame = {
    val pks = config.primaryKeys
    config.mergeEngine match {
      case "deduplicate" => dedup(df, pks, latestFirst = true, preferHash)
      case "first-row" => dedup(df, pks, latestFirst = false, preferHash)
      case "partial-update" => partialUpdate(df, pks, schema, config)
      case "aggregation" => aggregation(df, pks, schema, config)
      case other => throw new IllegalArgumentException(s"unknown merge engine $other")
    }
  }

  /** deduplicate: last (or first) row per key by (seq, commit, pos); drop
    * delete tombstones after selection. Two physical shapes, same result:
    *  - sort window (default): cheapest when most keys carry ~1 version;
    *  - hash aggregation (max_by/min_by over the row struct) when
    *    `preferHash`: partial aggregation collapses duplicates MAP-SIDE
    *    before the shuffle — the winner when many versions pile up per key
    *    (upsert-heavy streams), since it shuffles one row per key. */
  private def dedup(df: DataFrame, pks: Seq[String], latestFirst: Boolean,
                    preferHash: Boolean = false): DataFrame = {
    if (preferHash) {
      val ordKey = struct(col(SEQ), col(SEQ2), col(COMMIT), col(POS))
      val rowStruct = struct(df.columns.map(col).toIndexedSeq: _*)
      val pick = if (latestFirst) max_by(rowStruct, ordKey) else min_by(rowStruct, ordKey)
      df.groupBy(pks.map(col).toIndexedSeq: _*)
        .agg(pick.as("__r"))
        .select(col("__r.*"))
        .filter(col(KIND) =!= KIND_DELETE)
    } else {
      val ord =
        if (latestFirst) Seq(col(SEQ).desc, col(SEQ2).desc, col(COMMIT).desc, col(POS).desc)
        else Seq(col(SEQ).asc, col(SEQ2).asc, col(COMMIT).asc, col(POS).asc)
      val w = Window.partitionBy(pks.map(col).toIndexedSeq: _*).orderBy(ord: _*)
      df.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
        .filter(col(KIND) =!= KIND_DELETE)
    }
  }

  /** partial-update: per non-key field, last non-null value by (seq, commit)
    * (paimon PartialUpdateMergeFunction.java:65). SEQUENCE GROUPS
    * (`fields.<seqCol>.sequence-group = a,b`): fields a,b are versioned by
    * seqCol instead of the row sequence — a stale seqCol cannot clobber a
    * newer value even if its row arrived later (paimon sequence-group
    * semantics; rows with null seqCol never update the group). */
  private def partialUpdate(df: DataFrame, pks: Seq[String], schema: StructType,
                            config: TableConfig): DataFrame = {
    // partial-update.remove-record-on-delete (paimon partial-update.md:53):
    // a -D record resets the accumulated row — only records AFTER the last
    // qualifying delete contribute; none after → the key disappears.
    // remove-record-on-sequence-group=<col>: only deletes carrying a
    // non-null value of that sequence column qualify.
    val removeAll =
      config.options.get("partial-update.remove-record-on-delete").contains("true")
    val removeGroup =
      config.options.get("partial-update.remove-record-on-sequence-group")
    // seqCol -> fields it governs
    val groups: Map[String, Seq[String]] = config.options.collect {
      case (k, v) if k.startsWith("fields.") && k.endsWith(".sequence-group") =>
        k.stripPrefix("fields.").stripSuffix(".sequence-group") ->
          v.split(",").map(_.trim).toSeq
    }
    val fieldToGroup: Map[String, String] =
      groups.flatMap { case (g, fs) => fs.map(_ -> g) }
    // with sequence groups (and no remove-record-on-* option), -D/-U
    // records RETRACT per-group instead of being dropped: they advance the
    // group seq, null the group's plain fields, subtract from its
    // subtractable aggregates, and never touch non-group fields (the
    // reference's retractWithSequenceGroup). Scoped to rowkind.field
    // tables — there a KIND_DELETE row IS a user retract record; on other
    // tables delete kinds are structural tombstones (cross-partition
    // moves) that must remove the row outright.
    val retractMode = groups.nonEmpty && !removeAll && removeGroup.isEmpty &&
      config.options.contains("rowkind.field")
    val isDel = col(KIND) === KIND_DELETE
    val alive =
      if (removeAll || removeGroup.isDefined) {
        val qualifies = removeGroup match {
          case Some(g) => col(KIND) === KIND_DELETE && col(g).isNotNull
          case None => col(KIND) === KIND_DELETE
        }
        val ord = struct(col(SEQ), col(SEQ2), col(COMMIT), col(POS))
        val wAll = Window.partitionBy(pks.map(col).toIndexedSeq: _*)
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        df.withColumn("__delmax", max(when(qualifies, ord)).over(wAll))
          .filter(col(KIND) =!= KIND_DELETE &&
            (col("__delmax").isNull ||
              struct(col(SEQ), col(SEQ2), col(COMMIT), col(POS)) > col("__delmax")))
          .drop("__delmax")
      } else if (retractMode) df
      else df.filter(col(KIND) =!= KIND_DELETE)
    val w = Window.partitionBy(pks.map(col).toIndexedSeq: _*)
      .orderBy(col(SEQ).asc, col(SEQ2).asc, col(COMMIT).asc, col(POS).asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wFull = Window.partitionBy(pks.map(col).toIndexedSeq: _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // the group's ordering key: (seq cols..., envelope). A group name may be
    // a comma list (composite sorted fields, partial-update.md:109); a row
    // sits outside the group only when ALL its seq cols are null (the
    // reference's isEmptySequenceGroup skip — a partially-null composite
    // group key still participates in the group's merge)
    def groupOrd(g: String): Column = {
      val cols = g.split(",").map(_.trim).toSeq
      when(cols.map(col(_).isNotNull).reduce(_ || _),
        struct((cols.map(col) ++ Seq(col(SEQ), col(SEQ2), col(COMMIT), col(POS))): _*))
    }
    val seqColToGroup: Map[String, String] =
      groups.keys.flatMap(g => g.split(",").map(_.trim -> g)).toMap
    val nonKey = schema.fields.map(_.name).filterNot(pks.contains)
    // one select over the ORIGINAL columns (a withColumn chain would rebind
    // a sequence column before the fields it governs read it)
    // sequence-group fields take the WINNER row's value verbatim — "a true
    // partial-update, not just a non-null update" (partial-update.md:66):
    // advancing the group seq replaces the group's fields even with NULLs,
    // and a lower-seq input is rejected wholesale (the reference's
    // PartialUpdateMergeFunction.updateWithSequenceGroup compare>=0 rule)
    // "Aggregation For Partial Update" (partial-update.md:152-170): a field
    // with fields.<f>.aggregate-function folds EVERY record (the sequence
    // group, when present, is an ORDERING key, not a version filter; rows
    // with a null group seq are skipped). Window-aggregate forms of the
    // aggregation-engine folds, associative across compaction refolds.
    def puAgg(fn: String, name: String, ord: Column, retract: Boolean): Column = {
      val dt = schema.fields.find(_.name == name).get.dataType
      val c = col(name)
      // participation: the row's ordering key is non-null; under retraction
      // only the subtractable functions see delete rows (others keep the
      // permissive ignore-retract posture of the aggregation engine)
      def lv(x: Column) = if (retract) when(ord.isNotNull && !isDel, x)
                          else when(ord.isNotNull, x)
      def signed(x: Column) = if (retract)
        when(ord.isNotNull, when(isDel, -x).otherwise(x)) else when(ord.isNotNull, x)
      val lord = if (retract) when(!isDel, ord) else ord
      fn match {
        case "sum" => sum(signed(c)).over(wFull).cast(dt)
        case "count" =>
          // stored values are 0/1 contributions (write-side conversion)
          coalesce(sum(signed(c)).over(wFull), lit(0L)).cast(dt)
        case "max" => max(lv(c)).over(wFull)
        case "min" => min(lv(c)).over(wFull)
        case "bool_and" => bool_and(lv(c)).over(wFull)
        case "bool_or" => bool_or(lv(c)).over(wFull)
        case "last_value" => max_by(c, lord).over(wFull)
        case "first_value" => min_by(c, lord).over(wFull)
        case "last_non_null_value" => max_by(c, when(c.isNotNull, lord)).over(wFull)
        case "first_non_null_value" => min_by(c, when(c.isNotNull, lord)).over(wFull)
        case "listagg" =>
          val collected = array_sort(collect_list(when(lv(c).isNotNull,
            struct(ord.as("o"), c.cast(StringType).as("v")))).over(wFull))
          when(size(collected) === 0, lit(null).cast(StringType))
            .otherwise(array_join(transform(collected, x => x.getField("v")), ","))
        case "collect" =>
          val collected = array_sort(collect_list(when(lv(c).isNotNull,
            struct(ord.as("o"), c.as("v")))).over(wFull))
          val flat = flatten(transform(collected, x => x.getField("v")))
          val res = if (config.option(s"fields.$name.distinct", "false") == "true")
            array_distinct(flat) else flat
          when(size(collected) === 0, lit(null).cast(dt)).otherwise(res)
        case "product" =>
          // retraction = division: delete rows contribute with opposite
          // sign to the zero/negative/magnitude running sums
          val d = when(ord.isNotNull, c).cast(DoubleType)
          val sgn = if (retract) when(isDel, -1L).otherwise(1L) else lit(1L)
          val zeros = sum(when(d === 0.0, sgn).otherwise(0L)).over(wFull)
          val negs = sum(when(d < 0.0, sgn).otherwise(0L)).over(wFull)
          val nn = sum(when(d.isNotNull, sgn).otherwise(0L)).over(wFull)
          val lnTerm = if (retract) when(isDel, -log(abs(d))).otherwise(log(abs(d)))
                       else log(abs(d))
          when(coalesce(nn, lit(0L)) <= 0, lit(null).cast(DoubleType))
            .when(zeros > 0, lit(0.0))
            .otherwise(exp(sum(lnTerm).over(wFull)) *
              when(pmod(negs, lit(2L)) === 1, -1.0).otherwise(1.0))
            .cast(dt)
        case other => throw new IllegalArgumentException(
          s"aggregate-function $other is not supported inside partial-update")
      }
    }
    def aggOf(c: String): Option[String] = config.fieldAggregates.get(c)
    val envOrd = struct(col(SEQ), col(SEQ2), col(COMMIT), col(POS))
    val valueExprs = nonKey.map { c =>
      (fieldToGroup.get(c) match {
        case Some(g) => aggOf(c) match {
          case Some(fn) => puAgg(fn, c, groupOrd(g), retract = retractMode)
          case None if retractMode =>
            // winner-takes including deletes: a -D whose group seq wins
            // NULLs the field (retractWithSequenceGroup row.setField(i,null))
            val dt = schema.fields.find(_.name == c).get.dataType
            val win = max_by(struct(isDel.as("kd"), col(c).as("v")),
              groupOrd(g)).over(wFull)
            when(win.isNull || win.getField("kd"), lit(null).cast(dt))
              .otherwise(win.getField("v"))
          case None => max_by(col(c), groupOrd(g)).over(wFull)
        }
        case None if seqColToGroup.contains(c) =>
          // the seq col itself takes the winner's value too (for composite
          // groups a per-field max would mix rows; for single cols this IS
          // the high-water mark); retracting rows also advance it
          max_by(col(c), groupOrd(seqColToGroup(c))).over(wFull)
        case None => aggOf(c) match {
          case Some(fn) => // no group: arrival order; deletes never touch
            // non-group fields in the reference retract path
            puAgg(fn, c, if (retractMode) when(!isDel, envOrd) else envOrd,
              retract = false)
          case None =>
            val src = if (retractMode) when(!isDel, col(c)) else col(c)
            last(src, ignoreNulls = true).over(w)
        }
      }).as(c)
    }
    val folded = alive.select((pks.map(col) ++ valueExprs ++ Seq(
        max(col(SEQ)).over(w).as(SEQ),
        max(col(SEQ2)).over(w).as(SEQ2),
        max(col(COMMIT)).over(w).as(COMMIT),
        max(col(POS)).over(w).as(POS),
        lit(KIND_INSERT).as(KIND)) ++
        (if (retractMode)
          Seq(max(when(!isDel, lit(1)).otherwise(lit(0))).over(wFull).as("__hasins"))
        else Nil)).toIndexedSeq: _*)
      .dropDuplicates(pks)
    // a key that only ever saw retract records yields no row ("If the first
    // value is retract, and no insert record is received, the row kind
    // should be RowKind.DELETE" — PartialUpdateMergeFunction.java:113)
    if (retractMode) folded.filter(col("__hasins") === 1).drop("__hasins")
    else folded
  }

  /** aggregation engine: per-field aggregate functions over each key group
    * (paimon aggregate/FieldAggregator.java factories; SURVEY §2.4a).
    * RETRACTION (-D/-U records): `sum`, `count` and `product` subtract the
    * retracted value (paimon FieldSumAgg.retract / FieldProductAgg.retract)
    * unless `fields.<f>.ignore-retract=true`; every other aggregator ignores
    * retract records — the posture of paimon's FieldIgnoreRetractAgg wrapper
    * (the reference THROWS there without ignore-retract; we choose the
    * permissive documented behavior). */
  private def aggregation(df: DataFrame, pks: Seq[String], schema: StructType,
                          config: TableConfig): DataFrame = {
    def fnOf(name: String): String = config.fieldAggregates.getOrElse(name,
      config.defaultAggregate.getOrElse("last_non_null_value"))
    def retractsField(name: String): Boolean =
      Set("sum", "count", "product", "collect", "merge_map", "nested_update",
        "nested_partial_update", "last_value", "last_non_null_value")(fnOf(name)) &&
        config.option(s"fields.$name.ignore-retract", "false") != "true"
    // aggregation.remove-record-on-delete (CoreOptions.java:1149): a -D
    // record RESETS the whole accumulated row — only records after the last
    // delete contribute; none after means the key disappears
    val dfIn =
      if (config.option("aggregation.remove-record-on-delete", "false") == "true") {
        val ord = struct(col(SEQ), col(SEQ2), col(COMMIT), col(POS))
        val wAll = Window.partitionBy(pks.map(col).toIndexedSeq: _*)
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        df.withColumn("__delmax",
            max(when(col(KIND) === KIND_DELETE, ord)).over(wAll))
          .filter(col(KIND) =!= KIND_DELETE &&
            (col("__delmax").isNull || ord > col("__delmax")))
          .drop("__delmax")
      } else df
    // keep -D/-U rows only when some field actually subtracts them; otherwise
    // the pre-filter keeps every other aggregator's expression on the fast
    // no-conditional path (identical to the no-retract plan)
    val anyRetract = schema.fields.exists(f =>
      !pks.contains(f.name) && retractsField(f.name))
    val alive = if (anyRetract) dfIn else dfIn.filter(col(KIND) =!= KIND_DELETE)
    val isRetract = col(KIND) === KIND_DELETE
    val ordKey = struct(col(SEQ), col(SEQ2), col(COMMIT), col(POS))
    // retract rows must not feed non-retracting aggregators: null out the
    // value (for value aggs) or the ordering key (for positional aggs) —
    // both make the row invisible, matching the pre-filter semantics
    def liveVal(c: Column): Column = if (anyRetract) when(!isRetract, c) else c
    val liveOrd: Column = if (anyRetract) when(!isRetract, ordKey) else ordKey
    def aggFor(name: String, dt: DataType): Column = {
      val fn = fnOf(name)
      val c = col(name)
      fn match {
        case "sum" if retractsField(name) =>
          sum(when(isRetract, -c).otherwise(c)).cast(dt)
        case "sum" => sum(liveVal(c)).cast(dt)
        case "max" => max(liveVal(c))
        case "min" => min(liveVal(c))
        // count: stored values are already partial counts (write-side 0/1
        // conversion in writeFiles), so merging = summing; retraction
        // subtracts the stored contribution
        case "count" if retractsField(name) =>
          coalesce(sum(when(isRetract, -c).otherwise(c)), lit(0L)).cast(dt)
        case "count" => coalesce(sum(liveVal(c)), lit(0L)).cast(dt)
        case "product" =>
          // streaming-safe product: sign/zero tracked separately, magnitude
          // via exp(Σ ln|x|) — no per-group materialization (log(0)/log(null)
          // are null in Spark, so zeros/nulls drop out of the magnitude sum).
          // Retraction = division: the retracted row's contribution enters
          // each running total with the opposite sign (paimon
          // FieldProductAgg.retract)
          val retr = retractsField(name)
          val d = (if (retr) c else liveVal(c)).cast(DoubleType)
          val sgn = if (retr) when(isRetract, -1L).otherwise(1L) else lit(1L)
          val zeros = sum(when(d === 0.0, sgn).otherwise(0L))
          val negs = sum(when(d < 0.0, sgn).otherwise(0L))
          val lnTerm = if (retr) when(isRetract, -log(abs(d))).otherwise(log(abs(d)))
                       else log(abs(d))
          when(coalesce(sum(when(d.isNotNull, sgn)), lit(0L)) <= 0,
              lit(null).cast(DoubleType))
            .when(zeros > 0, lit(0.0))
            .otherwise(exp(sum(lnTerm)) *
              when(pmod(negs, lit(2L)) === 1, -1.0).otherwise(1.0))
            .cast(dt)
        case "bool_and" => bool_and(liveVal(c))
        case "bool_or" => bool_or(liveVal(c))
        // last_value/last_non_null_value retraction "just sets the field to
        // null" (aggregation.mdx Retraction): the retract row participates
        // in the ordering and contributes null when it is last
        case "last_value" if retractsField(name) =>
          max_by(when(isRetract, lit(null).cast(dt)).otherwise(c), ordKey)
        case "last_value" => max_by(c, liveOrd)
        case "first_value" => min_by(c, liveOrd)
        case "last_non_null_value" if retractsField(name) =>
          max_by(when(isRetract, lit(null).cast(dt)).otherwise(c),
            when(c.isNotNull, ordKey))
        case "last_non_null_value" => max_by(c, when(c.isNotNull, liveOrd))
        case "first_non_null_value" => min_by(c, when(c.isNotNull, liveOrd))
        case "listagg" =>
          // zero non-null inputs must fold to NULL (the reference's
          // FieldListaggAgg identity) — an "" accumulator would re-merge
          // with a later value into a spurious leading delimiter
          val collected = array_sort(collect_list(when(liveVal(c).isNotNull,
            struct(col(SEQ), col(SEQ2), col(COMMIT), c.cast(StringType).as("v")))))
          when(size(collected) === 0, lit(null).cast(StringType))
            .otherwise(array_join(transform(collected, x => x.getField("v")), ","))
        case "merge_map" =>
          // per-key map union in sequence order, later values override
          // (paimon FieldMergeMapAgg): fold map_concat over the ordered
          // versions, dropping shadowed keys first so concat never clashes.
          // Explicit comparator: maps make the carrier struct unorderable.
          // Retraction (best-effort, FieldMergeMapAgg.retract): a -D/-U
          // row's map removes its KEYS from the accumulator.
          val doRetract = retractsField(name)
          val sorted = array_sort(collect_list(when(c.isNotNull &&
              (if (doRetract) lit(true) else !isRetract),
            struct(col(SEQ), col(SEQ2), col(COMMIT), col(POS),
              (if (doRetract) isRetract else lit(false)).as("kd"), c.as("v")))),
            (l, r) => MergeEngines.envelopeCmp(l, r))
          aggregate(sorted, lit(null).cast(dt), (acc, r) => {
            val m = r.getField("v")
            when(!r.getField("kd"),
              when(acc.isNull, m).otherwise(
                map_concat(map_filter(acc, (k, _) => !map_contains_key(m, k)), m)))
              .otherwise(when(acc.isNull, acc)
                .otherwise(map_filter(acc, (k, _) => !map_contains_key(m, k))))
          })
        case "collect" | "nested_update" if retractsField(name) && anyRetract =>
          // sequential fold with retraction (FieldCollectAgg.retract /
          // FieldNestedUpdateAgg.retract, best-effort): an insert row's
          // array concatenates; a retract row removes ONE occurrence of
          // each of its elements from the accumulator
          val collected = array_sort(collect_list(when(c.isNotNull,
            struct(col(SEQ), col(SEQ2), col(COMMIT), col(POS), isRetract.as("kd"),
              c.as("v")))),
            (l, r) => MergeEngines.envelopeCmp(l, r))
          def removeFirst(a: Column, e: Column): Column = {
            val pos = array_position(a, e).cast(IntegerType)
            when(e.isNull, a).when(pos > 0,
              concat(slice(a, lit(1), pos - 1),
                slice(a, pos + 1, greatest(size(a) - pos, lit(0)))))
              .otherwise(a)
          }
          val folded = aggregate(collected, lit(null).cast(dt), (acc, r) => {
            val v = r.getField("v")
            when(!r.getField("kd"),
              when(acc.isNull, v).otherwise(concat(acc, v)))
              .otherwise(when(acc.isNull, acc)
                .otherwise(aggregate(v, acc, (a, e) => removeFirst(a, e))))
          })
          if (fn == "collect" &&
              config.option(s"fields.$name.distinct", "false") == "true")
            when(folded.isNull, folded).otherwise(array_distinct(folded))
          else folded
        case "collect" | "nested_update" =>
          // declared type is ARRAY (reference FieldCollectAgg /
          // FieldNestedUpdateAgg): inputs AND stored accumulators are
          // arrays, merging flattens them in sequence order — associative,
          // so a compaction-folded accumulator re-merges correctly with
          // later singleton writes. Zero non-null inputs fold to NULL (the
          // reference identity); explicit comparator so unorderable
          // payloads (maps inside structs) work.
          val collected = array_sort(collect_list(when(liveVal(c).isNotNull,
            struct(col(SEQ), col(SEQ2), col(COMMIT), col(POS), c.as("v")))),
            (l, r) => MergeEngines.envelopeCmp(l, r))
          val flat = flatten(transform(collected, x => x.getField("v")))
          val res = if (fn == "collect" &&
              config.option(s"fields.$name.distinct", "false") == "true")
            array_distinct(flat) else flat
          when(size(collected) === 0, lit(null).cast(dt)).otherwise(res)
        case "primary-key" =>
          // paimon FieldPrimaryKeyAgg: every input (even null) overwrites
          max_by(c, liveOrd)
        case "merge_map_with_keytime" =>
          // paimon FieldMergeMapWithKeyTimeAgg: map<K, ROW> where the row
          // carries a STRING keytime (fields.<f>.ts-field, default last
          // struct field). Sequence-ordered merge per entry: null row
          // removes the key; null keytime is skipped; otherwise the greater
          // keytime wins (string compare, like the reference).
          val valueType = dt.asInstanceOf[MapType].valueType.asInstanceOf[StructType]
          val tsField = config.option(s"fields.$name.ts-field",
            valueType.fields.last.name)
          def ts(v: Column): Column = v.getField(tsField)
          val sorted = transform(
            array_sort(collect_list(when(liveVal(c).isNotNull,
              struct(col(SEQ), col(SEQ2), col(COMMIT), col(POS), c.as("v")))),
              (l, r) => MergeEngines.envelopeCmp(l, r)),
            x => x.getField("v"))
          aggregate(sorted, lit(null).cast(dt), (acc, m) =>
            when(acc.isNull, m).otherwise {
              // drop keys the input explicitly removes (null row)
              val kept = map_filter(acc, (k, _) =>
                !(map_contains_key(m, k) && element_at(m, k).isNull))
              // input entries that take the slot
              val wins = map_filter(m, (k, v) =>
                v.isNotNull && ts(v).isNotNull && (
                  !map_contains_key(acc, k) || element_at(acc, k).isNull ||
                    ts(element_at(acc, k)).isNull ||
                    ts(v) > ts(element_at(acc, k))))
              map_concat(
                map_filter(kept, (k, _) => !map_contains_key(wins, k)), wins)
            })
        case "nested_partial_update" =>
          // paimon FieldNestedPartialUpdateAgg: ARRAY<ROW> as a nested table
          // keyed by fields.<f>.nested-key — later rows PATCH the matching
          // nested row (non-null fields override), unmatched rows append in
          // arrival order. Null-key rows merge by null-safe equality (the
          // default MERGE strategy).
          val elemType = dt.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
          val nestedKey = config.option(s"fields.$name.nested-key", "")
            .split(",").map(_.trim).filter(_.nonEmpty)
          require(nestedKey.nonEmpty,
            s"nested_partial_update on $name requires fields.$name.nested-key")
          def sameKey(a: Column, b: Column): Column =
            nestedKey.map(k => a.getField(k) <=> b.getField(k))
              .reduce(_ && _)
          def patched(old: Column, nw: Column): Column =
            struct(elemType.fields.map(f =>
              coalesce(nw.getField(f.name), old.getField(f.name)).as(f.name))
              .toIndexedSeq: _*)
          // retraction (FieldNestedUpdateAgg.retract, keyed branch): a
          // retract row's array REMOVES the matching-key nested rows
          val doRetract = retractsField(name) && anyRetract
          val collected = array_sort(collect_list(when(
              (if (doRetract) c else liveVal(c)).isNotNull,
            struct(col(SEQ), col(SEQ2), col(COMMIT), col(POS),
              (if (doRetract) isRetract else lit(false)).as("kd"), c.as("v")))),
            (l, r) => MergeEngines.envelopeCmp(l, r))
          aggregate(collected, array().cast(dt), (acc, rr) => {
            val v = rr.getField("v")
            val folded = aggregate(v, acc, (a, r) =>
              when(org.apache.spark.sql.functions.exists(a, x => sameKey(x, r)),
                transform(a, x => when(sameKey(x, r), patched(x, r)).otherwise(x)))
                .otherwise(array_append(a, r)))
            if (doRetract)
              when(rr.getField("kd"),
                filter(acc, x => !org.apache.spark.sql.functions.exists(v,
                  r => sameKey(x, r))))
                .otherwise(folded)
            else folded
          })
        case "rbm32" => GraftAggs.rbm32(liveVal(c))
        case "rbm64" => GraftAggs.rbm64(liveVal(c))
        case "hll_sketch" => GraftAggs.hllSketch(liveVal(c))
        case "theta_sketch" => GraftAggs.thetaSketch(liveVal(c))
        case other => throw new IllegalArgumentException(s"unknown aggregate $other")
      }
    }
    val aggCols = schema.fields.filterNot(f => pks.contains(f.name)).map { f =>
      aggFor(f.name, f.dataType).as(f.name)
    } ++ Seq(max(col(SEQ)).as(SEQ), max(col(SEQ2)).as(SEQ2), max(col(COMMIT)).as(COMMIT),
      max(col(POS)).as(POS), lit(KIND_INSERT).as(KIND))
    alive.groupBy(pks.map(col).toIndexedSeq: _*).agg(aggCols.head, aggCols.tail.toIndexedSeq: _*)
      .select((pks.map(col) ++ schema.fields.filterNot(f => pks.contains(f.name)).map(f => col(f.name)) ++
        Seq(col(SEQ), col(SEQ2), col(COMMIT), col(POS), col(KIND))).toIndexedSeq: _*)
  }
}

/** Executor-side cache of deserialized deletion-vector bitmaps. Keyed by
  * (file key, serialized-bytes fingerprint): a file's bitmap GROWS across
  * successive deleteDv commits, so a path-only key would pin the stale
  * bitmap and resurrect newly deleted rows within the same JVM. */
object DvCache {
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, org.roaringbitmap.RoaringBitmap]()
  /** Cache key: compute ONCE per (file, vector) on the driver, never per row
    * (hashing the serialized bytes is O(bitmap size)). */
  def fingerprint(name: String, bytes: Array[Byte]): String =
    s"$name@${bytes.length}:${java.util.Arrays.hashCode(bytes)}"
  def bitmap(name: String, bytes: Array[Byte]): org.roaringbitmap.RoaringBitmap =
    bitmapFp(fingerprint(name, bytes), bytes)
  def bitmapFp(fp: String, bytes: Array[Byte]): org.roaringbitmap.RoaringBitmap =
    cache.computeIfAbsent(fp, _ => {
      val r = new org.roaringbitmap.RoaringBitmap
      r.deserialize(java.nio.ByteBuffer.wrap(bytes))
      r
    })
}
