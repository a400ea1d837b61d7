package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BinaryType, MapType}

import java.util.UUID

/**
 * Row-level operations, compaction, system tables and maintenance for
 * [[GraftTable]] (SURVEY §2.10 / §2.6 / §2.1-system-tables).
 *
 * Strategies mirror the reference:
 *  - DELETE: metadata-only drop when the predicate exactly covers whole
 *    partitions (cf. paimon OptimizeMetadataOnlyDeleteFromPaimonTable.scala),
 *    else copy-on-write rewrite of the touched buckets/files
 *    (commands/DeleteFromPaimonTableCommand.scala).
 *  - UPDATE: COW rewrite (commands/UpdatePaimonTableCommand.scala).
 *  - MERGE INTO: MOR upsert — matched/not-matched actions become new row
 *    versions / delete tombstones appended as a normal commit, resolved by
 *    the merge engine at read time (commands/MergeIntoPaimonTable.scala).
 *  - compact: full compaction per (partition, bucket), result at level 1 →
 *    subsequent reads take the raw (no-merge, no-shuffle) path
 *    (procedure/CompactProcedure.java:113).
 */
object RowOps {
  /** One INFO line per compaction (see `recordCompaction`). */
  private[core] val log = org.slf4j.LoggerFactory.getLogger("graft.core.RowOps")

  /** Extensions data files may carry under data/ (file.format option). */
  private[core] val dataFileExts = Seq(".parquet", ".orc", ".csv", ".json")

  /** '90d' / '12h' / '30 m' / '1000ms' duration strings (the reference's
    * Duration option format) to milliseconds. */
  private[core] def parseDurationMs(s: String): Long = {
    val m = """(\d+)\s*(ms|s|m|h|d)""".r.findFirstMatchIn(s.trim)
      .getOrElse(throw new IllegalArgumentException(s"bad duration: $s"))
    val n = m.group(1).toLong
    m.group(2) match {
      case "ms" => n; case "s" => n * 1000L; case "m" => n * 60000L
      case "h" => n * 3600000L; case "d" => n * 86400000L
    }
  }


  implicit class GraftTableOps(val t: GraftTable) {
    import GraftTable._
    private def spark = t.spark
    private def cfg = t.config

    // ----------------------------------------------------------------
    // COMPACTION
    // ----------------------------------------------------------------

    /** Read `entries` with the CURRENT deletion vectors applied — every
      * rewrite path (COW delete/update, sort compaction) must use this:
      * rewriting a file without its vector resurrects DV-deleted rows. */
    private def dvRead(entries: Seq[ManifestEntry],
                       withInternal: Boolean): DataFrame =
      t.readEntries(entries, withInternal, t.dvFor(None))

    /** DV index after a rewrite that deletes `victimPaths`: vectors of the
      * rewritten files drop (their content was materialized), the rest
      * carry in a trimmed index. None = nothing to change (carry-forward). */
    private def dvActionAfterRewrite(
        victimPaths: Set[String]): Option[Option[String]] =
      t.sm.latestSnapshot.flatMap(_.dvIndex) match {
        case None => None
        case Some(n) =>
          val remaining = t.sm.readDvIndex(n)
            .filterNot { case (rel, _) => victimPaths(rel) }
          Some(if (remaining.isEmpty) None
               else Some(t.sm.writeDvIndex(remaining)))
      }

    /** Drop rows older than `record-level.expire-time` by
      * `record-level.time-field` (timestamp, epoch-millis long, or
      * epoch-seconds int); NULL time fields never expire. */
    private[core] def recordLevelExpire(df: DataFrame): DataFrame =
      cfg.options.get("record-level.expire-time") match {
        case None => df
        case Some(d) =>
          val field = cfg.options.getOrElse("record-level.time-field",
            throw new IllegalArgumentException(
              "record-level.expire-time requires record-level.time-field"))
          val cutoffMs = System.currentTimeMillis() - parseDurationMs(d)
          val c = col(field)
          val fresh = t.dataSchema(field).dataType match {
            case _: org.apache.spark.sql.types.TimestampType =>
              unix_micros(c) >= cutoffMs * 1000L
            case org.apache.spark.sql.types.LongType => c >= cutoffMs
            case org.apache.spark.sql.types.IntegerType => c >= cutoffMs / 1000L
            case other => throw new IllegalArgumentException(
              s"record-level.time-field $field: unsupported type $other")
          }
          df.filter(c.isNull || fresh)
      }

    /** Automatic partition expiry (paimon `partition.expiration-time` +
      * `partition.timestamp-formatter`, ExpirePartitionsProcedure wired to
      * the commit path): drop whole partitions whose value string sorts
      * below now − expiration rendered in the partition's own format.
      * Applies to string-formatted date/hour partitions (the layout the
      * formatter option describes); metadata-only — one OVERWRITE commit of
      * DELETE entries, no data read. */
    def maybeExpirePartitions(): Int =
      cfg.options.get("partition.expiration-time") match {
        case Some(durStr) =>
          val pc = cfg.options.getOrElse("partition.expiration-column",
            cfg.partitionKeys.headOption.getOrElse(throw new IllegalArgumentException(
              "partition.expiration-time requires a partitioned table")))
          val live = t.planFiles()
          // partition.expiration-strategy (CoreOptions.java:1342):
          // values-time compares the partition VALUE rendered in the
          // partition's format; update-time compares the partition's last
          // data-file modification time
          val victims =
            if (cfg.option("partition.expiration-strategy", "values-time")
                == "update-time") {
              val cutoff = System.currentTimeMillis() - parseDurationMs(durStr)
              // partition's last update = max manifest-resident creation time
              val lastUpdate = live.groupBy(_.partition).map { case (p, es) =>
                p -> es.map(t.entryCreationTime).max
              }
              live.filter(e => lastUpdate(e.partition) < cutoff)
            } else {
              val fmtS = cfg.options.getOrElse("partition.timestamp-formatter", "yyyy-MM-dd")
              val fmt = java.time.format.DateTimeFormatter.ofPattern(fmtS)
              val threshold = java.time.Instant.now()
                .minusMillis(parseDurationMs(durStr))
                .atZone(java.time.ZoneOffset.UTC).toLocalDateTime.format(fmt)
              live.filter(e =>
                e.partition.get(pc).exists(v => v != null && v < threshold))
            }
          if (victims.isEmpty) 0
          else {
            val parts = victims.map(_.partition).distinct.size
            t.sm.commit(victims.map(_.copy(kind = 1)), "OVERWRITE",
              s"auto-expire-partitions", t.schema.id)
            parts
          }
        case None => 0
      }

    private def parseDurationMs(s: String): Long = RowOps.parseDurationMs(s)

    /** Why compaction of this table merges in the relational plan, or None
      * when the merge-in-scan reader serves it (deduplicate/first-row
      * parquet, the read path's own [[GraftTable.readPlan]]; postpone
      * tables route to new buckets and keep the relational plan). */
    private def relationalCompactionReason: Option[String] =
      if (t.isPostpone) Some("postpone")
      else t.readPlan() match {
        case ReadPlan.Relational(reason) => Some(reason)
        case _: ReadPlan.InScan => None
        // every bucket final: only the table's kind can keep the merge out
        // of the scan
        case _: ReadPlan.Raw => t.mergeRefusal()
      }

    /** The merged rows of `entries` with the LSM envelope kept. In the scan
      * (`inScan`): [[graft.dsv2.GraftMorScan]] merges each (partition,
      * bucket) in one task — deletion vectors applied per file, winners by
      * (seq, seq2, commit, pos), tombstones dropped — with no shuffle.
      * Otherwise the relational MergeEngines window over the V1 read. */
    private def mergedEnvelope(entries: Seq[ManifestEntry],
                               dv: Map[String, Array[Byte]],
                               inScan: Boolean): DataFrame =
      if (inScan)
        org.apache.spark.sql.graft.SparkShims.scanRows(spark,
          new graft.dsv2.GraftMorScan(t, entries, Array.empty, Some(t.fileSchema), dv))
          // as readEntries: files written before __seq2 existed read null
          .withColumn(SEQ2, coalesce(col(SEQ2), lit(0L)))
      else MergeEngines.merge(t.readEntries(entries, withInternal = true, dv),
        cfg, t.dataSchema)

    /** One compaction's metrics and its structured INFO line. */
    private def recordCompaction(scope: String, reason: Option[String],
                                 in: Seq[ManifestEntry], out: Seq[ManifestEntry],
                                 t0: Long): Unit = {
      val ms = (System.nanoTime() - t0) / 1000000L
      GraftMetrics.recordCompaction(t.location, ms, in.size.toLong, out.size.toLong)
      RowOps.log.info(s"compact table=${t.location} scope=$scope " +
        reason.fold("path=in-scan")(r => s"path=relational reason=$r") +
        s" files_in=${in.size} bytes_in=${in.map(_.fileSize).sum}" +
        s" files_out=${out.size} bytes_out=${out.map(_.fileSize).sum} ms=$ms")
    }

    /** Full compaction: merge every bucket to a single level-1 file set.
      * No-op when the table is already fully compacted. */
    def compact(): Option[SnapshotMeta] = {
      val compactT0 = System.nanoTime()
      val live = t.allLiveEntries() // includes postpone staging (bucket -2)
      if (live.isEmpty) return None
      val dv = t.dvFor(None)
      val patches = if (t.isRowTracking) t.patchesFor(None) else Nil
      val alreadyCompact = dv.isEmpty && patches.isEmpty &&
        // record-level expire: a manual compaction must always rewrite —
        // it is the documented way to force expiry of overdue records
        !cfg.options.contains("record-level.expire-time") &&
        live.groupBy(e => (e.partition, e.bucket))
        .forall { case (_, es) =>
          // several level>0 files = one compaction's size-rolled outputs
          es.forall(e => e.level > 0 && e.bucket != -2) }
      if (alreadyCompact) return None
      var clFiles: Seq[String] = Nil
      var clBase: Option[Long] = None
      // postpone tables route to REAL buckets here: partitions keep their
      // existing bucket number; first-compacted ones take a configured
      // default exactly, else an estimate from the staged files
      // (reference data-distribution.md legacy-compaction paragraph)
      val (bucketOv, tbByPt) =
        if (t.isPostpone) {
          val counts = t.postponeCompactCounts(live)
          (Some(t.postponeRouteExpr(counts, t.postponeBuckets)), counts)
        } else (None, Map.empty[String, Int])
      val reason = relationalCompactionReason
      val adds =
        if (t.isPk) {
          // record-level expire (paimon compaction.md record-level.expire):
          // rows whose time field is older than the retention drop during
          // the rewrite — best-effort by design (expiry happens when
          // compaction runs; trigger a full compaction to force it)
          val merged = recordLevelExpire(mergedEnvelope(live, dv, reason.isEmpty))
          val out = t.writeFiles(merged, preMerged = true, level = 1,
            bucketOverride = bucketOv, totalBucketsByPt = tbByPt,
            bucketLocal = bucketLocal(live, reason))
          // full-compaction changelog producer: emit exact -U/+U/+I/-D for
          // everything since the previous produced point, at the moment the
          // merged state exists anyway (paimon
          // FullChangelogMergeTreeCompactRewriter). The state is read back
          // from the files just written, so the merge runs once.
          if (cfg.option("changelog-producer", "none") == "full-compaction") {
            val (files, base) = t.fullCompactionChangelog(
              t.readEntries(out, withInternal = false))
            clFiles = files; clBase = base
          }
          out
        } else {
          // row-tracking tables carry their ids through the rewrite;
          // outstanding column patches materialize into the rewrite
          t.writeFiles(t.applyPatches(
            t.readEntries(live, withInternal = t.isRowTracking, dv), patches),
            level = 1)
        }
      val delta = live.map(_.copy(kind = 1)) ++ adds
      // compaction materializes outstanding deletion vectors and column
      // patches (this is a FULL rewrite of the live set) → clear both
      val snap = t.sm.commit(delta, "COMPACT",
        s"compact-${UUID.randomUUID().toString.take(8)}",
        t.schema.id, dvAction = Some(None), changelog = clFiles,
        changelogBase = clBase, patchAction = Some(Nil))
      recordCompaction("full", reason, live, adds, compactT0)
      Some(snap)
    }

    /** An in-scan merge of `entries` writes each bucket from its own task
      * when they were all routed under the current bucket count; a pending
      * rescale moves keys to other buckets, so it keeps the routing shuffle. */
    private def bucketLocal(entries: Seq[ManifestEntry], reason: Option[String]): Boolean =
      reason.isEmpty && entries.forall(_.totalBuckets == cfg.numBuckets)

    /** PARTIAL compaction: merge only the buckets holding an entry that
      * matches `victimPred` (paimon CompactProcedure `where` / the LSM's
      * per-bucket universal compaction — a hot bucket compacts without
      * rewriting the table). Deletion vectors of compacted files
      * materialize into the rewrite; vectors on untouched files carry
      * forward. Changelog production is full-compaction-only — `changelog()`
      * falls back to the exact diff where files are absent. */
    def compactWhere(victimPred: ManifestEntry => Boolean): Option[SnapshotMeta] = {
      val compactT0 = System.nanoTime()
      val all = t.allLiveEntries().filter(_.bucket != -2)
      if (all.isEmpty) return None
      val dv = t.dvFor(None)
      val byBucket = all.groupBy(e => (e.partition, e.bucket))
      // a bucket is already compact iff every file is compaction output
      // (level>0 — any count: one pass's rolled files) and carries no DVs
      val victims = byBucket.filter { case (_, es) =>
        es.exists(victimPred) &&
          (es.exists(_.level == 0) || es.exists(e => dv.contains(dvKey(e.path))))
      }
      if (victims.isEmpty) return None
      val vEntries = victims.values.flatten.toSeq
      require(!t.isRowTracking || t.patchesFor(None).isEmpty,
        "partial compaction with outstanding column patches: run compact()")
      val reason = relationalCompactionReason
      val merged = recordLevelExpire(mergedEnvelope(vEntries, dv, reason.isEmpty))
      // postpone: victims are real buckets — keep each partition's layout
      val (pBucketOv, pTbByPt) =
        if (t.isPostpone) {
          val counts = t.knownBucketCounts(all)
          (Some(t.postponeRouteExpr(counts, t.postponeBuckets)), counts)
        } else (None, Map.empty[String, Int])
      val adds = t.writeFiles(merged, preMerged = true, level = 1,
        bucketOverride = pBucketOv, totalBucketsByPt = pTbByPt,
        bucketLocal = bucketLocal(vEntries, reason))
      // DV index: drop vectors of rewritten files, keep the rest
      val victimPaths = vEntries.map(_.path).toSet
      val remaining = t.sm.latestSnapshot.flatMap(_.dvIndex)
        .map(n => t.sm.readDvIndex(n).filterNot { case (rel, _) =>
          victimPaths.contains(rel) })
        .getOrElse(Map.empty)
      val dvAction: Option[Option[String]] =
        Some(if (remaining.isEmpty) None else Some(t.sm.writeDvIndex(remaining)))
      val snap = t.sm.commit(vEntries.map(_.copy(kind = 1)) ++ adds, "COMPACT",
        s"compact-part-${UUID.randomUUID().toString.take(8)}",
        t.schema.id, dvAction = dvAction)
      recordCompaction("partial", reason, vEntries, adds, compactT0)
      Some(snap)
    }

    /** Write-time compaction trigger (paimon num-sorted-run.compaction-
      * trigger): compact every bucket whose live file count reached the
      * threshold. Called by the write path when the option is set. */
    def maybeCompactTriggered(): Option[SnapshotMeta] = {
      // full-compaction.delta-commits (paimon CoreOptions): force a FULL
      // compaction once N delta (APPEND) commits have accumulated since the
      // last COMPACT snapshot — the standard way to bound MOR read cost and
      // keep full-compaction changelogs flowing on low-traffic tables
      val byDeltas = cfg.options.get("full-compaction.delta-commits").map(_.toInt)
        .flatMap { n =>
          val ids = t.sm.snapshotIds
          val lastCompact = ids.reverse.find(id =>
            t.sm.readSnapshot(id).kind == "COMPACT").getOrElse(0L)
          val deltas = ids.count(id => id > lastCompact &&
            t.sm.readSnapshot(id).kind == "APPEND")
          if (deltas >= n) { t.compact(); t.sm.latestSnapshot } else None
        }
      if (byDeltas.nonEmpty) return byDeltas
      cfg.options.get("num-sorted-run.compaction-trigger").map(_.toInt) match {
        case Some(trigger) if t.isPk =>
          val counts = t.allLiveEntries().filter(_.bucket != -2)
            .groupBy(e => (e.partition, e.bucket)).filter(_._2.size >= trigger)
          if (counts.isEmpty) None
          else {
            val hot = counts.keySet
            compactWhere(e => hot((e.partition, e.bucket)))
          }
        case _ => None
      }
    }

    /** Sort compaction for append tables: rewrite the whole table ordered by
      * `order` / z-order of `cols` (paimon CompactProcedure order_strategy +
      * SparkZOrderUDF; SURVEY §2.6). Clusters data for downstream range
      * pruning; at scale use repartitionByRange so output files carry
      * non-overlapping sort-key ranges. */
    /** Incremental clustering (paimon incremental cluster compaction): sort
      * only the files NOT yet clustered (level 0), leaving previously
      * clustered output untouched — each run pays for the new data only.
      * Ranges of successive runs may overlap; stats pruning still cuts
      * per-file, and a periodic full `compactSorted` re-tightens. */
    def clusterIncremental(strategy: String, cols: Seq[String],
                           targetPartitions: Int = 0): Option[SnapshotMeta] = {
      require(!t.isPk, "sort clustering targets append tables")
      val l0 = t.planFiles().filter(_.level == 0)
      if (l0.isEmpty) return None
      Some(sortAndCommit(l0, strategy, cols, targetPartitions))
    }

    def compactSorted(strategy: String, cols: Seq[String],
                      targetPartitions: Int = 0): SnapshotMeta = {
      require(!t.isPk, "sort compaction targets append tables")
      sortAndCommit(t.planFiles(), strategy, cols, targetPartitions)
    }

    private def sortAndCommit(live: Seq[ManifestEntry], strategy: String,
                              cols: Seq[String], targetPartitions: Int): SnapshotMeta = {
      val df = dvRead(live, withInternal = t.isRowTracking)
      val n = if (targetPartitions > 0) targetPartitions
        else spark.sessionState.conf.numShufflePartitions
      val sorted = strategy match {
        case "order" =>
          df.repartitionByRange(n, cols.map(col).toIndexedSeq: _*)
            .sortWithinPartitions(cols.map(col).toIndexedSeq: _*)
        case "zorder" | "hilbert" =>
          val z =
            if (strategy == "zorder") graft.functions.ZOrder.zvalue(df, cols)
            else graft.functions.ZOrder.hilbertValue(df, cols)
          df.withColumn("__z", z)
            .repartitionByRange(n, col("__z"))
            .sortWithinPartitions(col("__z"))
            .drop("__z")
        case other => throw new IllegalArgumentException(s"unknown strategy $other")
      }
      val adds = t.writeFiles(sorted, level = 1)
      t.sm.commit(live.map(_.copy(kind = 1)) ++ adds, "COMPACT",
        s"sort-compact-${UUID.randomUUID().toString.take(8)}", t.schema.id,
        dvAction = dvActionAfterRewrite(live.map(_.path).toSet))
    }

    // ----------------------------------------------------------------
    // DELETE / UPDATE
    // ----------------------------------------------------------------

    private def resolveCond(cond: Column): Expression =
      StatsPrune.resolve(spark, t.dataSchema, cond)

    /** Conjuncts reference only partition columns with exact-prunable shapes
      * → per-file match decisions are exact (partition value is constant
      * per file). */
    private def isPartitionExact(e: Expression): Boolean = {
      val partSet = cfg.partitionKeys.toSet
      def exact(x: Expression): Boolean = x match {
        case And(l, r) => exact(l) && exact(r)
        case Or(l, r) => exact(l) && exact(r)
        case EqualTo(a: AttributeReference, _: Literal) => partSet(a.name)
        case EqualTo(_: Literal, a: AttributeReference) => partSet(a.name)
        case GreaterThan(a: AttributeReference, _: Literal) => partSet(a.name)
        case GreaterThan(_: Literal, a: AttributeReference) => partSet(a.name)
        case GreaterThanOrEqual(a: AttributeReference, _: Literal) => partSet(a.name)
        case GreaterThanOrEqual(_: Literal, a: AttributeReference) => partSet(a.name)
        case LessThan(a: AttributeReference, _: Literal) => partSet(a.name)
        case LessThan(_: Literal, a: AttributeReference) => partSet(a.name)
        case LessThanOrEqual(a: AttributeReference, _: Literal) => partSet(a.name)
        case LessThanOrEqual(_: Literal, a: AttributeReference) => partSet(a.name)
        case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) => partSet(a.name)
        case _ => false
      }
      cfg.partitionKeys.nonEmpty && exact(e)
    }

    /** DELETE FROM t WHERE cond. */
    def delete(cond: Column): SnapshotMeta = {
      val expr = resolveCond(cond)
      val live = t.planFiles()
      if (isPartitionExact(expr)) {
        // metadata-only: drop whole files whose partition EXACTLY matches.
        // Must be exact (not the conservative mightMatch pruner): a file with
        // null partition stats "might match" anything, and dropping it would
        // delete rows the predicate does not cover.
        val victims = live.filter(e =>
          StatsPrune.partitionMatches(expr, t.dataSchema, e.partition))
        return t.sm.commit(victims.map(_.copy(kind = 1)), "OVERWRITE",
          s"delete-meta-${UUID.randomUUID().toString.take(8)}", t.schema.id)
      }
      val keep = !coalesce(cond, lit(false))
      if (t.isPk) {
        val touched = t.planFiles(filter = Some(cond))
          .map(e => (e.partition, e.bucket)).toSet
        val bucketEntries = live.filter(e => touched.contains((e.partition, e.bucket)))
        if (bucketEntries.isEmpty)
          return t.sm.commit(Nil, "OVERWRITE", "delete-noop", t.schema.id)
        val merged = MergeEngines.merge(
          dvRead(bucketEntries, withInternal = true), cfg, t.dataSchema)
        val adds = t.writeFiles(merged.filter(keep), preMerged = true, level = 1)
        t.sm.commit(bucketEntries.map(_.copy(kind = 1)) ++ adds, "OVERWRITE",
          s"delete-${UUID.randomUUID().toString.take(8)}", t.schema.id,
          dvAction = dvActionAfterRewrite(bucketEntries.map(_.path).toSet))
      } else {
        // row-tracking: keep row ids through the rewrite and evaluate the
        // predicate on the PATCHED view (base stats/values are stale for
        // patched columns — a filter over them cannot prune victims)
        val patches = if (t.isRowTracking) t.patchesFor(None) else Nil
        val pCols = patches.flatMap(_.cols).toSet
        val condSafe =
          if (pCols.isEmpty || !t.filterCols(cond).exists(pCols.contains)) Some(cond)
          else None
        val victims = t.planFiles(filter = condSafe)
        if (victims.isEmpty)
          return t.sm.commit(Nil, "OVERWRITE", "delete-noop", t.schema.id)
        val rows = t.applyPatches(
          dvRead(victims, withInternal = t.isRowTracking), patches)
        val adds = t.writeFiles(rows.filter(keep), level = 0)
        t.sm.commit(victims.map(_.copy(kind = 1)) ++ adds, "OVERWRITE",
          s"delete-${UUID.randomUUID().toString.take(8)}", t.schema.id,
          dvAction = dvActionAfterRewrite(victims.map(_.path).toSet))
      }
    }

    /**
     * DELETE with deletion vectors (merge-on-read): no data files are
     * rewritten; matched row positions are recorded in roaring bitmaps that
     * reads filter out (paimon BitmapDeletionVector +
     * DeletionVectorsIndexFile; SURVEY §2.10). For PK tables ALL stored
     * versions of a matched key are marked, so LSM merge cannot resurrect an
     * older version. Compaction materializes and clears the vectors.
     */
    def deleteDv(cond: Column): SnapshotMeta = {
      require(t.fileFormat == "parquet",
        "deletion vectors require file.format=parquet (_metadata.row_index)")
      val live = t.planFiles()
      // empty table: nothing can match — commit the no-op without building
      // the _metadata plan (the empty-relation early return has no
      // file-source pseudo-columns to resolve against)
      if (live.isEmpty)
        return t.sm.commit(Nil, "OVERWRITE", "delete-dv-noop", t.schema.id)
      val dv = t.dvFor(None)
      // row-tracking: the predicate must see the PATCHED view (outstanding
      // column patches change which rows match)
      val patches = if (t.isRowTracking) t.patchesFor(None) else Nil
      // _metadata is a scan-level pseudo-column: capture it BEFORE the
      // patch join (the joined plan has two scan relations)
      val withMeta = t.applyPatches(
        t.readEntries(live, withInternal = t.isPk || patches.nonEmpty, dv)
          .withColumn("__fp", col("_metadata.file_path"))
          .withColumn("__ri", col("_metadata.row_index")), patches)
      val hit = coalesce(cond, lit(false))
      val positions =
        if (t.isPk) {
          val deletedKeys = t.readStored().filter(hit)
            .select(cfg.primaryKeys.map(col).toIndexedSeq: _*)
          withMeta.join(deletedKeys, cfg.primaryKeys, "left_semi")
            .select(col("__fp"), col("__ri"))
        } else withMeta.filter(hit).select(col("__fp"), col("__ri"))
      // Bitmaps are BUILT AND SERIALIZED IN EXECUTORS: rows hash to the task
      // owning their file, each task emits one compressed roaring bitmap per
      // file. The driver never materializes row positions — it only merges
      // per-file bitmaps with the previous index (O(#touched files × bitmap
      // bytes), metadata-sized), so a DELETE matching 10^9 rows stays flat
      // on the driver (round-1 advisor finding).
      val ss = spark
      import ss.implicits._
      val perFile: Array[(String, Array[Byte])] = positions
        .repartition(col("__fp")).as[(String, Long)]
        .mapPartitions { it =>
          val maps = scala.collection.mutable.Map[String, org.roaringbitmap.RoaringBitmap]()
          it.foreach { case (fp, ri) =>
            maps.getOrElseUpdate(fp, new org.roaringbitmap.RoaringBitmap).add(ri.toInt)
          }
          maps.iterator.map { case (fp, bm) =>
            bm.runOptimize()
            val bos = new java.io.ByteArrayOutputStream()
            bm.serialize(new java.io.DataOutputStream(bos))
            (fp, bos.toByteArray)
          }
        }.collect()
      if (perFile.isEmpty)
        return t.sm.commit(Nil, "OVERWRITE", "delete-dv-noop", t.schema.id)
      val locPrefix = new Path(t.location).toUri.getPath
      val merged = scala.collection.mutable.Map[String, org.roaringbitmap.RoaringBitmap]()
      // start from existing vectors (keyed by relative path)
      t.sm.latestSnapshot.flatMap(_.dvIndex).foreach { name =>
        t.sm.readDvIndex(name).foreach { case (rel, bytes) =>
          val r = new org.roaringbitmap.RoaringBitmap
          r.deserialize(java.nio.ByteBuffer.wrap(bytes)); merged(rel) = r
        }
      }
      perFile.foreach { case (fp, bytes) =>
        val abs = new Path(new java.net.URI(fp)).toUri.getPath
        val rel = abs.stripPrefix(locPrefix).stripPrefix("/")
        val bm = new org.roaringbitmap.RoaringBitmap
        bm.deserialize(java.nio.ByteBuffer.wrap(bytes))
        merged.get(rel) match {
          case Some(prev) => prev.or(bm)
          case None => merged(rel) = bm
        }
      }
      val serialized = merged.map { case (k, r) =>
        r.runOptimize()
        val bos = new java.io.ByteArrayOutputStream()
        r.serialize(new java.io.DataOutputStream(bos))
        k -> bos.toByteArray
      }.toMap
      val dvName = t.sm.writeDvIndex(serialized)
      t.sm.commit(Nil, "OVERWRITE", s"delete-dv-${UUID.randomUUID().toString.take(8)}",
        t.schema.id, dvAction = Some(Some(dvName)))
    }

    /** UPDATE t SET assignments WHERE cond (COW). */
    def update(assignments: Map[String, Column], cond: Column): SnapshotMeta = {
      val hit = coalesce(cond, lit(false))
      def applySet(df: DataFrame, bumpSeq: Option[Long]): DataFrame = {
        var d = df
        assignments.foreach { case (c, e) =>
          val dt = t.dataSchema.fields.find(_.name == c).get.dataType
          d = d.withColumn(c, when(hit, e.cast(dt)).otherwise(col(c)))
        }
        bumpSeq.foreach { s =>
          d = d.withColumn(GraftTable.SEQ, when(hit, lit(s)).otherwise(col(GraftTable.SEQ)))
            .withColumn(GraftTable.COMMIT, when(hit, lit(s)).otherwise(col(GraftTable.COMMIT)))
        }
        d
      }
      val live = t.planFiles()
      if (t.isPk) {
        require(!assignments.keys.exists(cfg.primaryKeys.contains),
          "cannot update primary key columns")
        val touched = t.planFiles(filter = Some(cond))
          .map(e => (e.partition, e.bucket)).toSet
        val bucketEntries = live.filter(e => touched.contains((e.partition, e.bucket)))
        if (bucketEntries.isEmpty)
          return t.sm.commit(Nil, "OVERWRITE", "update-noop", t.schema.id)
        val merged = MergeEngines.merge(
          dvRead(bucketEntries, withInternal = true), cfg, t.dataSchema)
        val adds = t.writeFiles(applySet(merged, Some(t.nextCommitSeq)),
          preMerged = true, level = 1)
        t.sm.commit(bucketEntries.map(_.copy(kind = 1)) ++ adds, "OVERWRITE",
          s"update-${UUID.randomUUID().toString.take(8)}", t.schema.id,
          dvAction = dvActionAfterRewrite(bucketEntries.map(_.path).toSet))
      } else if (t.isRowTracking) {
        // data evolution (paimon UpdatePaimonDataEvolutionTableCommand
        // capability): write ONLY (row id → new values for the assigned
        // columns) as a patch — base files, and any wide blob/embedding
        // columns in them, never move. Reads join patches back by row id.
        updatePatch(assignments, cond)
      } else {
        val victims = t.planFiles(filter = Some(cond))
        if (victims.isEmpty)
          return t.sm.commit(Nil, "OVERWRITE", "update-noop", t.schema.id)
        val rewritten = applySet(dvRead(victims, withInternal = false), None)
        val adds = t.writeFiles(rewritten, level = 0)
        t.sm.commit(victims.map(_.copy(kind = 1)) ++ adds, "OVERWRITE",
          s"update-${UUID.randomUUID().toString.take(8)}", t.schema.id,
          dvAction = dvActionAfterRewrite(victims.map(_.path).toSet))
      }
    }

    /** Data-evolution UPDATE: current state (base ⊕ outstanding patches)
      * filtered by `cond`, assigned columns evaluated, persisted as a new
      * patch generation. O(matched rows × assigned columns), not O(table
      * width × matched files). */
    private def updatePatch(assignments: Map[String, Column],
                            cond: Column): SnapshotMeta = {
      require(!assignments.keys.exists(cfg.partitionKeys.contains),
        "data-evolution update cannot move rows across partitions")
      val existing = t.patchesFor(None)
      // current visible state WITH row ids: prior patches applied, then the
      // predicate — new values see patched current values (SET x = x + 1
      // composes across generations)
      val rows = t.applyPatches(
        t.readEntries(t.planFiles(), withInternal = true), existing)
        .filter(cond)
      val patchCols = assignments.keys.toSeq.sorted
      val out = patchCols.foldLeft(rows) { (d, c) =>
        val dt = t.dataSchema.fields.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(s"no column $c")).dataType
        d.withColumn(s"__new_$c", assignments(c).cast(dt))
      }.select((col(GraftTable.ROW_ID) +:
        patchCols.map(c => col(s"__new_$c").as(c))).toIndexedSeq: _*)
      val dir = s"patch/p-${UUID.randomUUID().toString.take(12)}"
      val abs = new Path(t.location, dir).toString
      out.write.parquet(abs)
      val seq = t.nextCommitSeq
      val stat = spark.read.parquet(abs)
        .agg(min(col(GraftTable.ROW_ID)), max(col(GraftTable.ROW_ID)),
          count(lit(1))).head()
      if (stat.isNullAt(0)) // nothing matched: drop the empty dir, no-op
        return t.sm.commit(Nil, "OVERWRITE", "update-noop", t.schema.id)
      val pf = PatchFile(dir, patchCols, stat.getLong(0), stat.getLong(1),
        stat.getLong(2), seq)
      t.sm.commit(Nil, "OVERWRITE",
        s"update-patch-${UUID.randomUUID().toString.take(8)}", t.schema.id,
        patchAction = Some(existing :+ pf))
    }

    /** MERGE INTO builder. */
    def mergeInto(source: DataFrame, cond: Column): MergeIntoBuilder =
      new MergeIntoBuilder(t, source, cond)

    // ----------------------------------------------------------------
    // CHAIN TABLE (paimon docs/primary-key-table/chain-table.mdx)
    // ----------------------------------------------------------------

    private def chainPtCol: String = {
      require(cfg.option("chain-table.enabled", "false") == "true",
        "chain-table.enabled required")
      require(cfg.partitionKeys.size == 1,
        "chain tables use exactly one (time) partition key")
      require(cfg.mergeEngine == "deduplicate",
        "chain tables require the deduplicate engine")
      cfg.partitionKeys.head
    }

    /** CHAIN READ: full state of time-partition `targetPt` from a snapshot
      * branch (periodic fulls) + delta branch (daily changes). If the
      * snapshot branch holds `targetPt` it serves directly; otherwise the
      * nearest EARLIER snapshot partition anchors the chain and the delta
      * partitions in (anchor, targetPt] merge on top — key = primary key
      * minus the partition column, later partition (then higher sequence)
      * wins. Incremental compute + storage for the ODS full-dump pattern:
      * no day ever rewrites the whole table. */
    def readChain(targetPt: String): DataFrame = {
      val ptCol = chainPtCol
      val snapT = onBranch("snapshot")
      val deltaT = onBranch("delta")
      val snapParts = snapT.planFiles(None, None)
        .flatMap(_.partition.get(ptCol)).flatMap(Option(_)).distinct.sorted
      val ptStr = col(ptCol).cast("string")
      if (snapParts.contains(targetPt))
        return snapT.read(Some(ptStr === targetPt))
      val anchor = snapParts.filter(_ <= targetPt).lastOption
      val base = anchor.map(a => snapT.read(Some(ptStr === a)))
      val deltaCond = anchor.map(a => ptStr > a).getOrElse(lit(true)) &&
        ptStr <= targetPt
      val deltas = deltaT.read(Some(deltaCond))
      val all = base.map(_.unionAll(deltas)).getOrElse(deltas)
      val chainKeys = cfg.primaryKeys.filterNot(_ == ptCol)
      require(chainKeys.nonEmpty, "chain key = primary key minus partition column")
      // the reference requires sequence.field for chain tables (ties across
      // branches are undefined without it) — same rule here
      require(cfg.sequenceField.isDefined, "chain tables require sequence.field")
      val ord = Seq(col(ptCol).cast("string").desc, col(cfg.sequenceField.get).desc)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(chainKeys.map(col).toIndexedSeq: _*).orderBy(ord: _*)
      all.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
    }

    /** `CALL sys.compact_chain_table`: materialize the chain-merged state of
      * `targetPt` into the snapshot branch as partition `targetPt` — later
      * reads of that partition skip the chain merge entirely (paimon
      * compact_chain_table procedure). */
    def compactChainTable(targetPt: String): SnapshotMeta = {
      val ptCol = chainPtCol
      val merged = readChain(targetPt)
      val dt = t.dataSchema.fields.find(_.name == ptCol).get.dataType
      onBranch("snapshot").overwrite(
        merged.withColumn(ptCol, lit(targetPt).cast(dt)),
        staticPartition = Map(ptCol -> targetPt))
    }

    // ----------------------------------------------------------------
    // SYSTEM TABLES (paimon-core/.../table/system/SystemTableLoader.java)
    // ----------------------------------------------------------------

    def systemTable(name: String): DataFrame = {
      val ss = t.spark
      import ss.implicits._
      name match {
        case "snapshots" =>
          t.sm.snapshotIds.map(t.sm.readSnapshot).map(s =>
            (s.id, s.schemaId, s.kind, s.commitUser, s.identifier,
              new java.sql.Timestamp(s.timestampMs), s.totalRecords, s.deltaRecords))
            .toDF("snapshot_id", "schema_id", "commit_kind", "commit_user",
              "commit_identifier", "commit_time", "total_record_count",
              "delta_record_count")
        case "files" =>
          t.planFiles().map(e =>
            (e.path, e.partition.toSeq.sortBy(_._1).map(_._2).mkString("[", ",", "]"),
              e.bucket, e.rowCount, e.fileSize, e.minSeq, e.maxSeq, e.level))
            .toDF("file_path", "partition", "bucket", "record_count",
              "file_size_in_bytes", "min_sequence_number", "max_sequence_number", "level")
        case "manifests" =>
          t.sm.latestSnapshot.toSeq.flatMap(_.manifests).map { m =>
            val es = t.sm.readManifest(m)
            (m, es.count(_.kind == 0).toLong, es.count(_.kind == 1).toLong,
              es.filter(_.kind == 0).map(_.fileSize).sum)
          }.toDF("manifest_name", "num_added_files", "num_deleted_files", "added_file_size")
        case "partitions" =>
          t.planFiles().groupBy(_.partition).map { case (p, es) =>
            (p.toSeq.sortBy(_._1).map(_._2).mkString("[", ",", "]"),
              es.map(_.rowCount).sum, es.size.toLong, es.map(_.fileSize).sum)
          }.toSeq.toDF("partition", "record_count", "file_count", "total_size_in_bytes")
        case "buckets" =>
          t.planFiles().groupBy(e => (e.partition, e.bucket)).map { case ((p, b), es) =>
            (p.toSeq.sortBy(_._1).map(_._2).mkString("[", ",", "]"), b,
              es.map(_.rowCount).sum, es.size.toLong, es.map(_.fileSize).sum)
          }.toSeq.toDF("partition", "bucket", "record_count", "file_count", "total_size_in_bytes")
        case "branches" =>
          t.sm.listBranches().map { b =>
            val bsm = new SnapshotManager(t.location,
              t.spark.sessionState.newHadoopConf(), Some(b))
            (b, bsm.latestSnapshotId.getOrElse(0L))
          }.toDF("branch_name", "latest_snapshot_id")
        case "tags" =>
          t.sm.listTags().map(tg => (tg.name, tg.snapshotId,
            new java.sql.Timestamp(tg.timestampMs))).toDF("tag_name", "snapshot_id", "create_time")
        case "schemas" =>
          (0L to t.sm.latestSchemaId).map(t.sm.readSchema).map(s =>
            (s.id, s.fields.map(f => s"${f.name} ${f.dataType}").mkString(", "),
              s.config.primaryKeys.mkString(","), s.config.partitionKeys.mkString(","),
              new java.sql.Timestamp(s.timestampMs)))
            .toDF("schema_id", "fields", "primary_keys", "partition_keys", "update_time")
        case "options" =>
          (Seq(
            "primary-key" -> cfg.primaryKeys.mkString(","),
            "partition" -> cfg.partitionKeys.mkString(","),
            "bucket" -> cfg.numBuckets.toString,
            "merge-engine" -> cfg.mergeEngine) ++
            cfg.sequenceField.map("sequence.field" -> _).toSeq ++
            cfg.fieldAggregates.toSeq.map { case (k, v) => s"fields.$k.aggregate-function" -> v } ++
            cfg.options.toSeq).toDF("key", "value")
        case "row_tracking" =>
          // stable row ids + originating commit (paimon t$row_tracking)
          require(t.isRowTracking, "table has row-tracking.enabled=false")
          t.readEntries(t.planFiles(), withInternal = true)
            .select((t.dataSchema.fieldNames.map(col).toSeq :+
              col(GraftTable.ROW_ID).as("row_id")): _*)
            .withColumn("commit_seq", shiftrightunsigned(col("row_id"), 48))
        case "audit_log" => t.auditLog()
        case "ro" => t.readRaw()
        case "statistics" =>
          val p = new Path(t.location, "statistics/latest.json")
          val content = if (t.sm.fs.exists(p)) t.sm.readString(p) else "{}"
          Seq(content).toDF("statistics")
        case "metrics" =>
          // this driver's scan/commit/compaction metrics for the table
          // (paimon docs/maintenance/metrics.md; per-JVM metric groups)
          GraftMetrics.forTable(t.location).rows
            .toDF("metric", "type", "value")
        case "consumers" =>
          Consumers.list(t).map(c => (c.consumerId, c.nextSnapshot))
            .toDF("consumer_id", "next_snapshot_id")
        case "aggregation_fields" =>
          t.dataSchema.fields.map { f =>
            val fn =
              if (cfg.primaryKeys.contains(f.name)) "primary-key"
              else cfg.fieldAggregates.getOrElse(f.name,
                cfg.defaultAggregate.getOrElse("last_non_null_value"))
            (f.name, f.dataType.sql, fn)
          }.toSeq.toDF("field_name", "field_type", "function")
        case "statistics_cols" =>
          // typed per-column rows from the last ANALYZE
          val p = new Path(t.location, "statistics/latest.json")
          if (!t.sm.fs.exists(p))
            Seq.empty[(Long, String, Long, Long)]
              .toDF("snapshot_id", "column", "distinct_count", "null_count")
          else {
            // jackson + DefaultScalaModule materializes nested objects as
            // SCALA maps regardless of the declared target type
            val m = Json.mapper.readValue(t.sm.readString(p),
              classOf[Map[String, Any]])
            val snapId = m("snapshotId").asInstanceOf[Number].longValue
            m("colStats").asInstanceOf[Map[String, Map[String, Any]]]
              .toSeq.map { case (c, st) =>
                (snapId, c, st("distinctCount").asInstanceOf[Number].longValue,
                  st("nullCount").asInstanceOf[Number].longValue)
              }.toDF("snapshot_id", "column", "distinct_count", "null_count")
          }
        case "binlog" =>
          // pack the LAST commit's changes per key: value columns become
          // [before, after] arrays (paimon t$binlog -U/+U packing)
          require(t.isPk, "binlog requires a primary-keyed table")
          val latest = t.sm.latestSnapshotId.getOrElse(0L)
          require(latest >= 1, "no snapshots")
          val cl = t.changelog(latest - 1, latest)
          val pks = cfg.primaryKeys
          val valueCols = t.dataSchema.fields.map(_.name).filterNot(pks.contains)
          val beforeKinds = Seq("-U", "-D"); val afterKinds = Seq("+U", "+I")
          val aggs = valueCols.flatMap { c =>
            Seq(max(when(col("_row_kind").isin(beforeKinds: _*), col(c))).as(s"__b_$c"),
              max(when(col("_row_kind").isin(afterKinds: _*), col(c))).as(s"__a_$c"))
          } :+ max(when(col("_row_kind").isin(beforeKinds: _*), lit(1)).otherwise(0)).as("__hasB") :+
            max(when(col("_row_kind").isin(afterKinds: _*), lit(1)).otherwise(0)).as("__hasA")
          val packed = cl.groupBy(pks.map(col).toIndexedSeq: _*)
            .agg(aggs.head, aggs.tail: _*)
          val rowkind = when(col("__hasB") === 1 && col("__hasA") === 1, "+U")
            .when(col("__hasA") === 1, "+I").otherwise("-D")
          val outCols = pks.map(col) ++ Seq(rowkind.as("rowkind")) ++ valueCols.map { c =>
            when(col("__hasB") === 1 && col("__hasA") === 1,
                array(col(s"__b_$c"), col(s"__a_$c")))
              .when(col("__hasA") === 1, array(col(s"__a_$c")))
              .otherwise(array(col(s"__b_$c"))).as(c)
          }
          packed.select(outCols.toIndexedSeq: _*)
        case "table_indexes" =>
          // every index artifact the table carries (paimon t$table_indexes):
          // DV index, dynamic-bucket / cross-partition key indexes, per-file
          // secondary indexes, global secondary indexes
          val fs = t.sm.fs
          def walk(rel: String): Seq[(String, Long)] = {
            val p = new Path(t.location, rel)
            if (!fs.exists(p)) Nil
            else {
              val it = fs.listFiles(p, true)
              val buf = scala.collection.mutable.ArrayBuffer[(String, Long)]()
              while (it.hasNext) {
                val st = it.next()
                buf += ((st.getPath.toString.stripPrefix(t.location).stripPrefix("/"),
                  st.getLen))
              }
              buf.toSeq
            }
          }
          val dv = t.sm.latestSnapshot.flatMap(s => Option(s.dvIndex).flatten).toSeq
            .map { f =>
              val rel = s"dv/$f"
              val p = new Path(t.location, rel)
              ("deletion-vector", "", rel,
                if (fs.exists(p)) fs.getFileStatus(p).getLen else 0L)
            }
          val rows = dv ++
            walk("index/bucket-index").map { case (f, sz) => ("hash-bucket", "", f, sz) } ++
            walk("index/pk-index").map { case (f, sz) => ("cross-partition-key", "", f, sz) } ++
            walk(FileIndexes.DIR).map { case (f, sz) => ("file-index", "", f, sz) } ++
            t.dataSchema.fieldNames.toSeq.flatMap { c =>
              walk(s"index/global-$c").map { case (f, sz) => ("global", c, f, sz) } ++
                // search index families managed by the SQL lifecycle
                // (CALL create_global_index with index_type ivf/full-text)
                walk(s"index/ivf-$c").map { case (f, sz) => ("vector", c, f, sz) } ++
                walk(s"index/fulltext-$c").map { case (f, sz) => ("full-text", c, f, sz) } ++
                walk(s"index/fulltext-${c}__termstats").map { case (f, sz) =>
                  ("full-text", c, f, sz) }
            } ++
            walk("index/es").map { case (f, sz) => ("es", "", f, sz) } ++
            walk("index/es__text").map { case (f, sz) => ("es", "", f, sz) } ++
            walk("index/es__text__termstats").map { case (f, sz) => ("es", "", f, sz) }
          rows.toDF("index_type", "column", "path", "file_size_in_bytes")
        case "compact_buckets" =>
          // the compaction-coordination view: current snapshot's file list
          // per (partition, bucket) (paimon CompactBucketsTable.java:86 —
          // its Flink wire-format byte columns surface here as readable
          // strings/arrays; same column names)
          val snap = t.sm.latestSnapshotId.getOrElse(0L)
          val tname = new Path(t.location).getName
          t.planFiles().groupBy(e => (e.partition, e.bucket)).toSeq
            .map { case ((p, b), es) =>
              (snap, p.toSeq.sortBy(_._1).map(_._2).mkString("[", ",", "]"), b,
                es.map(_.path).sorted, Option.empty[String], tname)
            }
            .toDF("_SNAPSHOT_ID", "_PARTITION", "_BUCKET", "_FILES",
              "_DATABASE_NAME", "_TABLE_NAME")
        case "file_monitor" =>
          // per-commit file CHANGES (paimon FileMonitorTable.java:84): the
          // files each snapshot removed (_BEFORE_FILES) and added
          // (_DATA_FILES), per (partition, bucket)
          val rows = t.sm.snapshotIds.flatMap { id =>
            val s = t.sm.readSnapshot(id)
            s.deltaManifests.flatMap(t.sm.readManifest)
              .groupBy(e => (e.partition, e.bucket)).toSeq
              .map { case ((p, b), g) =>
                (id, p.toSeq.sortBy(_._1).map(_._2).mkString("[", ",", "]"), b,
                  g.filter(_.kind == 1).map(_.path).sorted,
                  g.filter(_.kind == 0).map(_.path).sorted)
              }
          }
          rows.toDF("_SNAPSHOT_ID", "_PARTITION", "_BUCKET",
            "_BEFORE_FILES", "_DATA_FILES")
        case "file_key_ranges" =>
          // per-file PK range from manifest stats (paimon t$file_key_ranges)
          require(t.isPk, "file_key_ranges requires a primary-keyed table")
          val pk = cfg.primaryKeys.head
          t.planFiles().map { e =>
            val st = e.stats.get(pk)
            (e.path, e.bucket, st.map(_.min).orNull, st.map(_.max).orNull, e.rowCount)
          }.toDF("file_path", "bucket", "min_key", "max_key", "record_count")
        case other => throw new IllegalArgumentException(s"unknown system table $other")
      }
    }

    // ----------------------------------------------------------------
    // MAINTENANCE
    // ----------------------------------------------------------------

    /** Above the plan threshold, maintenance runs as DataFrame jobs. */
    private def metadataIsBig: Boolean =
      t.sm.latestSnapshot.exists(_.liveFilesLong.exists(_ >= t.sm.planDfThreshold))

    /** Distributed delete of relative paths; returns #deleted. */
    private def deleteDistributed(relPaths: DataFrame): Int = {
      val ss = spark
      import ss.implicits._
      val conf = new org.apache.spark.util.SerializableConfiguration(
        ss.sessionState.newHadoopConf())
      val loc = t.location
      relPaths.as[String].mapPartitions { it =>
        val f = new Path(loc).getFileSystem(conf.value)
        var n = 0
        it.foreach { rel => if (f.delete(new Path(loc, rel), false)) n += 1 }
        Iterator.single(n)
      }.collect().sum
    }

    /** Expire old snapshots, deleting data files / manifests no longer
      * referenced by retained snapshots or tags (paimon ExpireSnapshotsImpl;
      * above the plan threshold the referenced-vs-candidate file diff and
      * the deletions run distributed, like the reference's Spark expire). */
    /** Snapshot expiry (paimon snapshot.num-retained.max /
      * snapshot.time-retained / snapshot.num-retained.min): a snapshot
      * expires when it falls outside the newest `retainLast` OR is older
      * than `maxAgeMs`; the newest `retainMin` always survive, as do tagged
      * snapshots, unread consumer history and chain contiguity. */
    def expireSnapshots(retainLast: Int, maxAgeMs: Option[Long] = None,
                        retainMin: Int = 1): Int = {
      val ids = t.sm.snapshotIds
      if (ids.size <= math.max(retainMin, if (maxAgeMs.isEmpty) retainLast else retainMin))
        return 0
      val now = System.currentTimeMillis()
      val withinMax = ids.takeRight(retainLast)
      val youngEnough = maxAgeMs match {
        case Some(a) => withinMax.filter(id =>
          now - t.sm.readSnapshot(id).timestampMs <= a)
        case None => withinMax
      }
      val keepIds = (youngEnough ++ ids.takeRight(math.max(retainMin, 1))).toSet ++
        t.sm.listTags().map(_.snapshotId)
      // registered consumers pin history: never expire a snapshot a consumer
      // has yet to read (paimon ConsumerManager-aware expiry) — but stale
      // consumers expire first (consumer.expiration-time) so a crashed
      // reader cannot pin history forever
      cfg.options.get("consumer.expiration-time")
        .foreach(d => Consumers.expireStale(t, RowOps.parseDurationMs(d)))
      val consumerFloor = Consumers.list(t).map(_.nextSnapshot).minOption
      val dropIds = ids.filterNot(keepIds.contains).filter(_ < keepIds.min)
        .filter(id => consumerFloor.forall(id < _))
      if (dropIds.isEmpty) return 0
      val keepSnaps = keepIds.toSeq.sorted.map(t.sm.readSnapshot)
      val keptManifests = keepSnaps.flatMap(_.manifests).toSet
      val fs = t.sm.fs
      val dropSnaps = dropIds.map(t.sm.readSnapshot)
      // candidate data files come from ALL manifests the dropped snapshots
      // reference: manifest lists are cumulative (base ++ delta), so a
      // manifest shared with kept snapshots still holds ADD entries for
      // files the kept state has logically DELETEd — exactly the files
      // expire exists to reclaim. Only manifests referenced by NO kept
      // snapshot may be physically deleted.
      val candManifests = dropSnaps.flatMap(_.manifests).distinct
      val dropOnlyManifests = candManifests.filterNot(keptManifests.contains)
      if (metadataIsBig) {
        // survivors = live in ANY kept snapshot; anti-join + delete on
        // executors, the driver never folds the manifest set.
        val candDf = t.sm.entriesDf(spark, candManifests)
          .filter(col("kind") === 0).select("path").distinct()
        val keptDf = keepSnaps.map(s => t.sm.liveEntriesDf(spark, s).select("path"))
          .reduceOption(_ unionAll _)
          .map(_.distinct())
        val victims = keptDf.foldLeft(candDf)((c, k) => c.join(k, Seq("path"), "left_anti"))
        deleteDistributed(victims)
      } else {
        val keptFiles = keepSnaps.flatMap(s => t.sm.liveEntries(s).map(_.path)).toSet
        candManifests.foreach { m =>
          t.sm.readManifest(m).filter(_.kind == 0).map(_.path)
            .filterNot(keptFiles.contains)
            .foreach(p => fs.delete(new Path(t.location, p), false))
        }
      }
      dropOnlyManifests.foreach(m => fs.delete(new Path(t.sm.manifestDir, m), true))
      // column-patch dirs referenced only by dropped snapshots
      val keptPatches = keepSnaps.flatMap(_.patchList.map(_.path)).toSet
      dropSnaps.flatMap(_.patchList.map(_.path)).distinct
        .filterNot(keptPatches.contains)
        .foreach(p => fs.delete(new Path(t.location, p), true))
      dropIds.foreach(id =>
        fs.delete(new Path(t.sm.snapshotDir, s"snapshot-$id.json"), false))
      dropIds.size
    }

    /** Delete data files on disk not referenced by any snapshot and older
      * than `olderThanMs` (paimon remove_orphan_files / its distributed
      * SparkOrphanFilesClean variant: above the plan threshold the listing
      * parallelizes over commit directories, the referenced-file diff is an
      * anti-join, and deletion happens on executors). */
    def removeOrphanFiles(olderThanMs: Long = System.currentTimeMillis() - 3600_000L): Int = {
      val fs = t.sm.fs
      val dataRoot = t.sm.dataDir
      if (!fs.exists(dataRoot)) return 0
      val blobDeleted = removeOrphanBlobFiles(olderThanMs)
      if (metadataIsBig) return blobDeleted + removeOrphanFilesDistributed(olderThanMs)
      val referenced: Set[String] = t.sm.snapshotIds.flatMap { id =>
        t.sm.readSnapshot(id).manifests.flatMap(m =>
          t.sm.readManifest(m).filter(_.kind == 0).map(_.path))
      }.toSet
      val it = fs.listFiles(dataRoot, true)
      var deleted = 0
      val rootLen = new Path(t.location).toUri.getPath.length
      while (it.hasNext) {
        val st = it.next()
        val rel = st.getPath.toUri.getPath.substring(rootLen).stripPrefix("/")
        val isDataFile = st.isFile && RowOps.dataFileExts.exists(rel.endsWith)
        if (isDataFile && !referenced.contains(rel) &&
            st.getModificationTime < olderThanMs) {
          fs.delete(st.getPath, false)
          deleted += 1
        }
      }
      deleted + blobDeleted
    }

    /** Orphan cleaning for the shared blob payload files of `blob-field`
      * tables: a `.bin` file under `<loc>/blob` is live iff ANY data file
      * of ANY retained snapshot carries a descriptor into it. COW rewrites
      * re-split payloads, so blob files referenced only by expired
      * snapshots become unreferenced here. Cost: one column-pruned
      * distributed read of the blob columns across every ever-ADDed data
      * file (descriptors are tiny); URI distinct is blob-FILE scale. Only
      * files inside `<loc>/blob` are candidates — external descriptor
      * targets are never touched. */
    private def removeOrphanBlobFiles(olderThanMs: Long): Int = {
      if (t.blobFieldCols.isEmpty) return 0
      val fs = t.sm.fs
      val blobRoot = new Path(t.location, "blob")
      if (!fs.exists(blobRoot)) return 0
      // union of LIVE files across retained snapshots (raw ADD entries
      // would include overwritten files expire already deleted physically).
      // Dedupe by path — the same file shows up in every snapshot that
      // retains it — but keep the ManifestEntry so the read below goes
      // through the field-id-remapped engine path: a blob column RENAMED
      // since a file was written keeps its OLD physical parquet name, so a
      // raw name-based spark.read.parquet would miss its descriptors and
      // delete still-referenced payloads. readEntries resolves old physical
      // names to current field names per write-schema, and we skip DV
      // filtering on purpose (a DV-deleted row is still reachable via time
      // travel to a retained snapshot, so its payload stays live).
      val everAdded = t.sm.snapshotIds.flatMap(id => t.planFiles(Some(id)))
        .groupBy(_.path).map(_._2.head).toSeq
      val referencedUris: Set[String] =
        if (everAdded.isEmpty) Set.empty
        else {
          val cols = t.blobFieldCols
          val parse = udf { (b: Array[Byte]) =>
            graft.pipeline.Blob.tryParseDesc(b).map(_.uri).orNull }
          val raw = t.readEntries(everAdded, withInternal = false)
          cols.map { c =>
            // one uri-array expression per storage shape (scalar blob,
            // ARRAY<BLOB> elements, MAP<K, BLOB> values)
            val uris = raw.schema(c).dataType match {
              case BinaryType => array(parse(col(c)))
              case ArrayType(BinaryType, _) => transform(col(c), x => parse(x))
              case MapType(_, BinaryType, _) =>
                transform(map_values(col(c)), x => parse(x))
              case _ => array(lit(null).cast("string"))
            }
            raw.select(explode_outer(uris).as("uri"))
          }.reduce(_ unionAll _)
            .filter(col("uri").isNotNull).distinct()
            .as[String](org.apache.spark.sql.Encoders.STRING).collect().toSet
        }
      val refPaths = referencedUris.map(u => new Path(u).toUri.getPath)
      var deleted = 0
      val it = fs.listFiles(blobRoot, true)
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile && !refPaths.contains(st.getPath.toUri.getPath) &&
            st.getModificationTime < olderThanMs) {
          fs.delete(st.getPath, false)
          deleted += 1
        }
      }
      deleted
    }

    private def removeOrphanFilesDistributed(olderThanMs: Long): Int = {
      val ss = spark
      import ss.implicits._
      val fs = t.sm.fs
      val allManifests = t.sm.snapshotIds.map(t.sm.readSnapshot)
        .flatMap(_.manifests).distinct
      // ever-ADDed paths (logically-deleted files are expire's business, not
      // orphan clean's)
      val refDf = t.sm.entriesDf(ss, allManifests)
        .filter(col("kind") === 0).select("path").distinct()
      val dirs = fs.listStatus(t.sm.dataDir).filter(_.isDirectory)
        .map(_.getPath.toString).toSeq
      if (dirs.isEmpty) return 0
      val conf = new org.apache.spark.util.SerializableConfiguration(
        ss.sessionState.newHadoopConf())
      val rootPath = new Path(t.location).toUri.getPath
      val diskDf = ss.sparkContext
        .parallelize(dirs, math.max(1, math.min(dirs.size, 64)))
        .flatMap { d =>
          val p = new Path(d)
          val f = p.getFileSystem(conf.value)
          val it = f.listFiles(p, true)
          val buf = scala.collection.mutable.ArrayBuffer[(String, Long)]()
          while (it.hasNext) {
            val st = it.next()
            if (st.isFile && RowOps.dataFileExts.exists(st.getPath.getName.endsWith)) {
              val rel = st.getPath.toUri.getPath.stripPrefix(rootPath).stripPrefix("/")
              buf += ((rel, st.getModificationTime))
            }
          }
          buf
        }.toDF("path", "mtime")
      val victims = diskDf.filter(col("mtime") < olderThanMs)
        .join(refDf, Seq("path"), "left_anti").select("path")
      deleteDistributed(victims)
    }

    /** ANALYZE: table + column statistics for CBO (paimon
      * PaimonAnalyzeTableColumnCommand + stats/Statistics in snapshot):
      * row count / size from the manifest, per-column ndv (HLL++) and null
      * counts in ONE distributed pass; persisted next to snapshots. */
    def analyze(): DataFrame = {
      val live = t.planFiles()
      val df = t.readStored() // stats over stored bytes; no blob resolution
      val cols = t.dataSchema.fields.map(_.name)
      val aggs = cols.flatMap { c =>
        Seq(approx_count_distinct(col(c)).as(s"ndv__$c"),
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nc__$c"))
      }
      val row = df.agg(count(lit(1)).as("__rc"), aggs.toIndexedSeq: _*).head()
      val statsJson = Json.write(Map(
        "snapshotId" -> t.sm.latestSnapshotId.getOrElse(0L),
        "mergedRecordCount" -> row.getAs[Long]("__rc"),
        "fileSizeInBytes" -> live.map(_.fileSize).sum,
        "colStats" -> cols.map(c => c -> Map(
          "distinctCount" -> row.getAs[Long](s"ndv__$c"),
          "nullCount" -> row.getAs[Long](s"nc__$c"))).toMap))
      t.sm.writeString(new Path(t.location, "statistics/latest.json"), statsJson)
      val ss = t.spark
      import ss.implicits._
      cols.map(c => (c, row.getAs[Long](s"ndv__$c"), row.getAs[Long](s"nc__$c")))
        .toSeq.toDF("column", "distinct_count", "null_count")
    }

    // ----------------------------------------------------------------
    // BRANCHES (paimon create_branch / fast_forward / delete_branch)
    // ----------------------------------------------------------------

    /** Create a branch starting at `fromSnapshot` (default: latest). The
      * branch shares data + manifests; its commits are isolated. */
    def createBranch(name: String, fromSnapshot: Option[Long] = None): Unit = {
      require(!t.sm.branchExists(name), s"branch $name exists")
      require(t.sm.branch.isEmpty, "create branches from the main table")
      val snapId = fromSnapshot.orElse(t.sm.latestSnapshotId)
        .getOrElse(throw new IllegalStateException("no snapshot to branch from"))
      val snap = t.sm.readSnapshot(snapId)
      val bdir = new Path(t.sm.branchRootDir, s"$name/snapshot")
      t.sm.writeString(new Path(bdir, s"snapshot-$snapId.json"), Json.write(snap))
      t.sm.writeHint(new Path(bdir, "LATEST"), snapId.toString)
    }

    def deleteBranch(name: String): Boolean =
      t.sm.fs.delete(new Path(t.sm.branchRootDir, name), true)

    /** Switch to a branch view of this table. */
    def onBranch(name: String): GraftTable =
      GraftTable.load(t.spark, t.location, Some(name))

    /** Fast-forward main to a branch's latest state: one commit on main that
      * replays the branch's file-set diff (paimon fast_forward). */
    def fastForward(name: String): SnapshotMeta = {
      require(t.sm.branch.isEmpty, "fast_forward applies to the main table")
      val b = onBranch(name)
      val branchLive = b.planFiles()
      val mainLive = t.planFiles()
      val branchSet = branchLive.map(_.path).toSet
      val mainSet = mainLive.map(_.path).toSet
      val dels = mainLive.filterNot(e => branchSet.contains(e.path)).map(_.copy(kind = 1))
      val adds = branchLive.filterNot(e => mainSet.contains(e.path))
      val dvAction = Some(b.sm.latestSnapshot.flatMap(_.dvIndex))
      val snap = t.sm.commit(dels ++ adds, "OVERWRITE", s"fast-forward-$name",
        t.schema.id, dvAction = dvAction,
        patchAction = Some(b.sm.latestSnapshot.map(_.patchList).getOrElse(Nil)))
      t.rebuildPkIndex() // cross-partition key index must match the new state
      snap
    }

    /** Roll the table back to an earlier snapshot (paimon rollback). */
    def rollback(snapshotId: Long): SnapshotMeta = {
      val target = t.sm.readSnapshot(snapshotId)
      val targetLive = t.sm.liveEntries(target)
      val curLive = t.planFiles()
      val targetSet = targetLive.map(_.path).toSet
      val dels = curLive.filterNot(e => targetSet.contains(e.path)).map(_.copy(kind = 1))
      val curSet = curLive.map(_.path).toSet
      val adds = targetLive.filterNot(e => curSet.contains(e.path))
      // restore the TARGET snapshot's deletion vectors AND column patches
      // (default carry-forward would keep post-target updates in force)
      val snap = t.sm.commit(dels ++ adds, "OVERWRITE", s"rollback-to-$snapshotId",
        t.schema.id, dvAction = Some(target.dvIndex),
        patchAction = Some(target.patchList))
      t.rebuildPkIndex() // cross-partition key index must match the new state
      snap
    }
  }

  /** Ordered-clause MERGE INTO (SQL semantics: first matching clause wins). */
  final class MergeIntoBuilder(t: GraftTable, source: DataFrame, cond: Column) {
    import GraftTable._
    private case class Clause(kind: String, condition: Option[Column],
                              set: Map[String, Column])
    private var matched: Seq[Clause] = Nil
    private var notMatched: Seq[Clause] = Nil
    private var notMatchedBySource: Seq[Clause] = Nil

    def whenMatchedUpdate(condition: Option[Column] = None,
                          set: Map[String, Column]): this.type = {
      matched :+= Clause("update", condition, set); this
    }
    def whenMatchedDelete(condition: Option[Column] = None): this.type = {
      matched :+= Clause("delete", condition, Map.empty); this
    }
    def whenNotMatchedInsert(condition: Option[Column] = None,
                             values: Map[String, Column] = Map.empty): this.type = {
      notMatched :+= Clause("insert", condition, values); this
    }
    def whenNotMatchedBySourceDelete(condition: Option[Column] = None): this.type = {
      notMatchedBySource :+= Clause("delete", condition, Map.empty); this
    }
    def whenNotMatchedBySourceUpdate(condition: Option[Column] = None,
                                     set: Map[String, Column] = Map.empty): this.type = {
      notMatchedBySource :+= Clause("update", condition, set); this
    }

    /** Execute as a MOR upsert commit (new versions + tombstones), or — for
      * row-tracking append tables — as a DATA-EVOLUTION commit (paimon
      * MergeIntoPaimonDataEvolutionTable): matched updates become column
      * patches by row id (base files never move), matched deletes rewrite
      * only the files whose row-id range is hit, inserts append. */
    def execute(): SnapshotMeta = {
      // write.merge-schema: source-extra columns evolve into the target
      // BEFORE clause alignment, so `INSERT *` carries them and unassigned
      // target columns read null (paimon sql-write.md "Column Alignment by
      // Write Path", MERGE INTO * row)
      if (t.config.option("write.merge-schema", "false") == "true")
        t.mergeSchemaForWrite(source)
      if (!t.isPk && t.isRowTracking) return executeDataEvolution()
      require(t.isPk, "MERGE INTO requires a primary-keyed or row-tracking table")
      val spark = t.spark
      val commitSeq = t.nextCommitSeq
      val dataCols = t.dataSchema.fields.map(_.name).toSeq
      // stored form: blob descriptors / view refs re-commit untouched —
      // a MERGE must never freeze a view reference into materialized bytes
      val tgt = t.readStored().alias("t")
      val src = source.alias("s")

      def envelope(df: DataFrame, kind: Int): DataFrame =
        df.withColumn(SEQ, lit(commitSeq))
          .withColumn(GraftTable.SEQ2, lit(0L))
          .withColumn(COMMIT, lit(commitSeq))
          .withColumn(POS, monotonically_increasing_id())
          .withColumn(KIND, lit(kind))

      var outputs: Seq[DataFrame] = Nil

      if (matched.nonEmpty) {
        val joined = src.join(tgt, cond, "inner")
        // first-match-wins action index
        var action = lit(0)
        matched.zipWithIndex.reverse.foreach { case (c, i) =>
          val hit = c.condition.getOrElse(lit(true))
          action = when(coalesce(hit, lit(false)), lit(i + 1)).otherwise(action)
        }
        val withAction = joined.withColumn("__action", action)
        matched.zipWithIndex.foreach { case (c, i) =>
          val rows = withAction.filter(col("__action") === (i + 1))
          c.kind match {
            case "update" =>
              val cols = dataCols.map { cn =>
                c.set.get(cn).map(_.as(cn)).getOrElse(col(s"t.$cn").as(cn))
              }
              outputs :+= envelope(rows.select(cols.toIndexedSeq: _*), KIND_UPDATE_AFTER)
            case "delete" =>
              val cols = dataCols.map(cn => col(s"t.$cn").as(cn))
              outputs :+= envelope(rows.select(cols.toIndexedSeq: _*), KIND_DELETE)
          }
        }
      }
      if (notMatched.nonEmpty) {
        val anti = src.join(tgt, cond, "left_anti")
        var action = lit(0)
        notMatched.zipWithIndex.reverse.foreach { case (c, i) =>
          val hit = c.condition.getOrElse(lit(true))
          action = when(coalesce(hit, lit(false)), lit(i + 1)).otherwise(action)
        }
        val withAction = anti.withColumn("__action", action)
        notMatched.zipWithIndex.foreach { case (c, i) =>
          val rows = withAction.filter(col("__action") === (i + 1))
          val cols = dataCols.map { cn =>
            val dt = t.dataSchema.fields.find(_.name == cn).get.dataType
            c.set.get(cn).map(_.cast(dt).as(cn)).getOrElse(
              if (rows.columns.contains(cn)) col(cn).cast(dt).as(cn)
              else lit(null).cast(dt).as(cn))
          }
          outputs :+= envelope(rows.select(cols.toIndexedSeq: _*), KIND_INSERT)
        }
      }
      if (notMatchedBySource.nonEmpty) {
        val anti = tgt.join(src, cond, "left_anti")
        // first-match-wins across ordered clauses, like the matched branch
        var action = lit(0)
        notMatchedBySource.zipWithIndex.reverse.foreach { case (c, i) =>
          val hit = c.condition.getOrElse(lit(true))
          action = when(coalesce(hit, lit(false)), lit(i + 1)).otherwise(action)
        }
        val withAction = anti.withColumn("__action", action)
        notMatchedBySource.zipWithIndex.foreach { case (c, i) =>
          val rows = withAction.filter(col("__action") === (i + 1))
          c.kind match {
            case "delete" =>
              outputs :+= envelope(rows.select(dataCols.map(col).toIndexedSeq: _*), KIND_DELETE)
            case "update" =>
              val cols = dataCols.map { cn =>
                val dt = t.dataSchema.fields.find(_.name == cn).get.dataType
                c.set.get(cn).map(_.cast(dt).as(cn)).getOrElse(col(s"t.$cn").as(cn))
              }
              outputs :+= envelope(rows.select(cols.toIndexedSeq: _*), KIND_UPDATE_AFTER)
          }
        }
      }
      require(outputs.nonEmpty, "MERGE INTO needs at least one clause")
      val all = outputs.reduce(_ unionAll _)
      val adds = t.writeFiles(all, preMerged = true, commitSeqOverride = Some(commitSeq))
      t.sm.commit(adds, "APPEND", s"merge-into-${UUID.randomUUID().toString.take(8)}",
        t.schema.id)
    }

    private def executeDataEvolution(): SnapshotMeta = {
      val spark = t.spark
      val cfg = t.config
      val dataCols = t.dataSchema.fields.map(_.name).toSeq
      def dtOf(c: String) = t.dataSchema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"no column $c")).dataType
      val existingPatches = t.patchesFor(None)
      // current visible state WITH row ids: prior patches applied, so clause
      // conditions and unassigned columns see patched current values
      val base = t.applyPatches(
        t.readEntries(t.planFiles(), withInternal = true), existingPatches)
      val tgt = base.alias("t")
      val src = source.alias("s")
      // one patch-column set for the whole statement: the union of every
      // update clause's assignments (per row, unassigned ones keep current)
      val patchCols = (matched ++ notMatchedBySource).filter(_.kind == "update")
        .flatMap(_.set.keys).distinct.sorted
      require(!patchCols.exists(cfg.partitionKeys.contains),
        "data-evolution merge cannot move rows across partitions")

      def classify(df: DataFrame, clauses: Seq[Clause]): DataFrame = {
        var action = lit(0)
        clauses.zipWithIndex.reverse.foreach { case (c, i) =>
          val hit = c.condition.getOrElse(lit(true))
          action = when(coalesce(hit, lit(false)), lit(i + 1)).otherwise(action)
        }
        df.withColumn("__action", action)
      }
      def patchRows(rows: DataFrame, c: Clause): DataFrame =
        rows.select((col(s"t.${GraftTable.ROW_ID}").as(GraftTable.ROW_ID) +:
          patchCols.map(cn => c.set.get(cn).map(_.cast(dtOf(cn)))
            .getOrElse(col(s"t.$cn")).as(cn))).toIndexedSeq: _*)

      var patchParts: Seq[DataFrame] = Nil
      var deleteParts: Seq[DataFrame] = Nil
      var insertParts: Seq[DataFrame] = Nil

      if (matched.nonEmpty) {
        val joined = classify(src.join(tgt, cond, "inner"), matched)
        matched.zipWithIndex.foreach { case (c, i) =>
          val rows = joined.filter(col("__action") === (i + 1))
          c.kind match {
            case "update" => patchParts :+= patchRows(rows, c)
            case "delete" => deleteParts :+= rows.select(
              col(s"t.${GraftTable.ROW_ID}").as(GraftTable.ROW_ID))
          }
        }
      }
      if (notMatchedBySource.nonEmpty) {
        val anti = classify(tgt.join(src, cond, "left_anti"), notMatchedBySource)
        notMatchedBySource.zipWithIndex.foreach { case (c, i) =>
          val rows = anti.filter(col("__action") === (i + 1))
          c.kind match {
            case "update" => patchParts :+= patchRows(rows, c)
            case "delete" => deleteParts :+= rows.select(
              col(s"t.${GraftTable.ROW_ID}").as(GraftTable.ROW_ID))
          }
        }
      }
      if (notMatched.nonEmpty) {
        val anti = classify(src.join(tgt, cond, "left_anti"), notMatched)
        notMatched.zipWithIndex.foreach { case (c, i) =>
          val rows = anti.filter(col("__action") === (i + 1))
          val cols = dataCols.map { cn =>
            val dt = dtOf(cn)
            c.set.get(cn).map(_.cast(dt).as(cn)).getOrElse(
              if (rows.columns.contains(cn)) col(cn).cast(dt).as(cn)
              else lit(null).cast(dt).as(cn))
          }
          insertParts :+= rows.select(cols.toIndexedSeq: _*)
        }
      }
      require(patchParts.nonEmpty || deleteParts.nonEmpty || insertParts.nonEmpty,
        "MERGE INTO needs at least one clause")

      var delta: Seq[ManifestEntry] = Nil
      var patchAction: Option[Seq[PatchFile]] = None
      // 1) matched updates → ONE new patch generation
      if (patchParts.nonEmpty) {
        val out = patchParts.reduce(_ unionAll _)
          .localCheckpoint(true) // classification runs once; stats reread below
        require(out.groupBy(GraftTable.ROW_ID).count()
          .filter(col("count") > 1).isEmpty,
          "MERGE INTO: a target row matched several source rows")
        val dir = s"patch/p-${UUID.randomUUID().toString.take(12)}"
        val abs = new Path(t.location, dir).toString
        out.write.parquet(abs)
        val stat = spark.read.parquet(abs)
          .agg(min(col(GraftTable.ROW_ID)), max(col(GraftTable.ROW_ID)),
            count(lit(1))).head()
        if (!stat.isNullAt(0))
          patchAction = Some(existingPatches :+ PatchFile(dir, patchCols,
            stat.getLong(0), stat.getLong(1), stat.getLong(2), t.nextCommitSeq))
      }
      // 2) matched deletes → rewrite ONLY files whose row-id range is hit
      //    (row ids preserved; outstanding patches keep applying by id)
      if (deleteParts.nonEmpty) {
        val ids = deleteParts.reduce(_ unionAll _).distinct().localCheckpoint(true)
        val b = ids.agg(min(col(GraftTable.ROW_ID)), max(col(GraftTable.ROW_ID))).head()
        if (!b.isNullAt(0)) {
          val (lo, hi) = (b.getLong(0), b.getLong(1))
          val victims = t.planFiles().filter { e =>
            e.stats.get(GraftTable.ROW_ID).forall { s =>
              val mn = Option(s.min).map(_.toLong).getOrElse(Long.MinValue)
              val mx = Option(s.max).map(_.toLong).getOrElse(Long.MaxValue)
              mx >= lo && mn <= hi
            }
          }
          if (victims.nonEmpty) {
            val survivors = t.readEntries(victims, withInternal = true)
              .join(ids, Seq(GraftTable.ROW_ID), "left_anti")
            val adds = t.writeFiles(survivors)
            delta ++= victims.map(_.copy(kind = 1)) ++ adds
          }
        }
      }
      // 3) not-matched inserts → plain append, fresh row ids
      if (insertParts.nonEmpty) {
        val ins = insertParts.reduce(_ unionAll _)
        delta ++= t.writeFiles(ins)
      }
      t.sm.commit(delta, "APPEND",
        s"merge-evo-${UUID.randomUUID().toString.take(8)}", t.schema.id,
        patchAction = patchAction)
    }
  }
}
