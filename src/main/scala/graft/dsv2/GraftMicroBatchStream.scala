package graft.dsv2

import graft.core._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Coalesce, GenericInternalRow, Literal, UnsafeProjection}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String

/**
 * Structured Streaming micro-batch source over the snapshot log — the
 * capability of paimon's PaimonMicroBatchStream
 * (paimon-spark/.../sources/PaimonMicroBatchStream.scala:33; offsets per
 * PaimonSourceOffset.scala:36): offset = snapshot id; a batch is the delta
 * files of snapshots (start, end], skipping compactions.
 *
 * Startup modes (`scan.mode`, paimon CoreOptions.java:4823):
 *  - `latest-full` (default): first batch = the CURRENT table state (live
 *    files of the latest snapshot), then per-snapshot changes (offset -1
 *    marks the not-yet-served full state).
 *  - `latest`: changes after the stream starts only.
 *  - `from-snapshot` (+ `scan.snapshot-id`): replay from a snapshot.
 *  - `from-timestamp` (+ `scan.timestamp-millis`): replay from a commit time.
 *
 * Admission control (paimon-spark sources/PaimonReadLimits.scala:25):
 * `scan.max-rows-per-trigger` / `scan.max-snapshots-per-trigger` bound each
 * micro-batch via SupportsAdmissionControl — the first batch of a large
 * table no longer arrives as one giant read.
 *
 * Changelog mode (`read-changelog=true` read option): rows carry a
 * `_row_kind` column (+I/-U/+U/-D) sourced from write-time changelog files
 * (changelog-producer=lookup); delta files of snapshots without changelog
 * are emitted as +I.
 *
 * Every partition reads on the executors through the batch scans' own
 * readers (paimon reads a stream's splits like batch splits): files through
 * [[GraftBatchScan]]'s vectorized parquet reader, merged full-state key
 * groups through [[GraftMorScan]]'s — so a stream decodes every column type
 * a batch read does. Streams need parquet data files.
 */
class GraftMicroBatchStream(t: GraftTable, checkpointLocation: String,
                            readOptions: Map[String, String] = Map.empty,
                            readChangelog: Boolean = false,
                            binlog: Boolean = false)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  if (binlog) require(t.isPk, "binlog requires a primary-keyed table")
  require(t.fileFormat == "parquet",
    s"streaming reads need parquet data files; table has file.format=${t.fileFormat}")

  private val dataSchema = t.dataSchema

  private def opt(key: String): Option[String] =
    readOptions.get(key).orElse(t.config.options.get(key))

  /** consumer-id option = consumer-mode stream (paimon consumer-id): the
    * durable consumer cursor decides the start point and ADVANCES as
    * batches commit — restarts resume where the consumer left off, and
    * consumer-aware snapshot expiry protects unread history. */
  private def consumerId: Option[String] = opt("consumer-id")

  /** COMPACT snapshots never stream (state-neutral); OVERWRITE snapshots
    * (COW deletes/updates, INSERT OVERWRITE) are re-emitted rewrites and
    * stream only with streaming-read-overwrite=true (CoreOptions.java:1302,
    * reference default false). */
  private def skipKind(kind: String): Boolean =
    kind == "COMPACT" || (kind == "OVERWRITE" &&
      !opt("streaming-read-overwrite").contains("true"))

  override def initialOffset(): Offset = {
    // consumer.ignore-progress: start from the scan's own startup mode,
    // not the stored cursor (the cursor still advances as batches commit)
    if (!opt("consumer.ignore-progress").contains("true")) consumerId.foreach { id =>
      Consumers.get(t, id).foreach { st =>
        return GraftOffset(math.max(0L, st.nextSnapshot - 1))
      }
    }
    val mode = opt("scan.mode").getOrElse(
      if (opt("scan.snapshot-id").isDefined) "from-snapshot"
      else if (opt("scan.timestamp-millis").isDefined) "from-timestamp"
      else "latest-full")
    mode match {
      case "latest" => GraftOffset(t.sm.latestSnapshotId.getOrElse(0L))
      case "latest-full" | "full" => GraftOffset(-1L)
      // full state AT the latest COMPACTION (paimon CompactedStartingScanner)
      case "compacted-full" => GraftOffset(-2L)
      // full state AT scan.snapshot-id, then changes (FROM_SNAPSHOT_FULL)
      case "from-snapshot-full" =>
        require(opt("scan.snapshot-id").isDefined,
          "from-snapshot-full requires scan.snapshot-id")
        GraftOffset(-3L)
      case "from-snapshot" =>
        GraftOffset(opt("scan.snapshot-id").map(_.toLong - 1).getOrElse(0L))
      case "from-timestamp" =>
        val ts = opt("scan.timestamp-millis").map(_.toLong).getOrElse(0L)
        val ids = t.sm.snapshotIds.filter(id => t.sm.readSnapshot(id).timestampMs <= ts)
        GraftOffset(if (ids.isEmpty) 0L else ids.max)
      // everything since table creation (paimon FROM_CREATION_TIMESTAMP)
      case "from-creation-timestamp" => GraftOffset(0L)
      // full state restricted to files created at/after
      // scan.file-creation-time-millis (paimon FROM_FILE_CREATION_TIME)
      case "from-file-creation-time" =>
        require(opt("scan.file-creation-time-millis").isDefined,
          "from-file-creation-time requires scan.file-creation-time-millis")
        GraftOffset(-4L)
      case other => throw new IllegalArgumentException(s"unknown scan.mode $other")
    }
  }

  /** Full-state batch target for the pending-full sentinels (<0 offsets). */
  private def fullStateEnd(sentinel: Long, latest: Long): Long = sentinel match {
    case -2L => // latest compaction point; whole state if never compacted
      t.sm.snapshotIds.filter(id => t.sm.readSnapshot(id).kind == "COMPACT")
        .maxOption.getOrElse(latest)
    case -3L => opt("scan.snapshot-id").get.toLong
    case _ => latest
  }

  // ---- admission control ----
  // (paimon-spark PaimonReadLimits.scala:25 — maxRows/maxBytes/minRows/
  // maxTriggerDelay; maxBytes has no Spark ReadLimit shape, so it caps the
  // admission loop directly from each snapshot's manifest-resident
  // deltaBytes)
  override def getDefaultReadLimit: ReadLimit = {
    val limits =
      opt("scan.max-rows-per-trigger").map(n => ReadLimit.maxRows(n.toLong)).toSeq ++
      opt("scan.max-snapshots-per-trigger").map(n => ReadLimit.maxFiles(n.toInt)) ++
      opt("scan.min-rows-per-trigger").map(n => ReadLimit.minRows(n.toLong,
        opt("scan.max-trigger-delay-ms").map(_.toLong).getOrElse(Long.MaxValue)))
    limits match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("use latestOffset(start, limit)")

  override def reportLatestOffset(): Offset =
    GraftOffset(t.sm.latestSnapshotId.getOrElse(0L))

  // Trigger.AvailableNow: pin the end of the run at prepare time, keep
  // honoring per-batch read limits until it is reached
  private var availableNowEnd: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(t.sm.latestSnapshotId.getOrElse(0L))

  // minRows bookkeeping: epoch-millis when rows first became available but
  // were withheld below the minimum (drives maxTriggerDelay)
  private var minRowsWaitingSince: Option[Long] = None

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, ReadMaxFiles, ReadMaxRows, ReadMinRows}
    val s = start.asInstanceOf[GraftOffset].snapshotId
    val latest = availableNowEnd.getOrElse(t.sm.latestSnapshotId.getOrElse(0L))
    if (s < 0) return GraftOffset(math.max(fullStateEnd(s, latest), 0L)) // full-state batch
    val flat: Seq[ReadLimit] = limit match {
      case c: CompositeReadLimit => c.getReadLimits.toSeq
      case one => Seq(one)
    }
    val maxRows = flat.collectFirst { case r: ReadMaxRows => r.maxRows() }
      .getOrElse(Long.MaxValue)
    val maxSnaps = flat.collectFirst { case f: ReadMaxFiles => f.maxFiles() }
      .getOrElse(Int.MaxValue)
    val minRowsLimit = flat.collectFirst { case m: ReadMinRows => m }
    val maxBytes = opt("scan.max-bytes-per-trigger").map(_.toLong)
      .getOrElse(Long.MaxValue)
    // scan.bounded.watermark: bounded streaming — never admit a snapshot
    // whose watermark exceeds the bound (the stream idles at the boundary;
    // Trigger.AvailableNow terminates there)
    val bound = opt("scan.bounded.watermark").map(_.toLong)
    var end = s; var rows = 0L; var bytes = 0L; var snaps = 0
    while (end < latest && snaps < maxSnaps && rows < maxRows && bytes < maxBytes) {
      val meta = t.sm.readSnapshot(end + 1)
      if (bound.exists(b => meta.watermarkLong.exists(_ > b)))
        return GraftOffset(end)
      val skip = skipKind(meta.kind)
      val r = if (skip) 0L else meta.deltaRecords
      // legacy snapshots without deltaBytes admit as 0 (size-unknown)
      val b = if (skip) 0L else meta.deltaBytesLong.getOrElse(0L)
      // always admit at least one snapshot so the stream advances
      if (snaps > 0 && (rows + r > maxRows || snaps + 1 > maxSnaps ||
          bytes + b > maxBytes)) {
        return GraftOffset(end)
      }
      rows += r; bytes += b; snaps += 1; end += 1
    }
    // minRows: withhold the batch until enough rows accumulate OR the
    // configured delay elapses since rows first became available. NEVER
    // under Trigger.AvailableNow — its contract is to drain everything
    // available and stop (Kafka ignores minOffsetsPerTrigger the same way);
    // withholding there would terminate the query with data unread.
    minRowsLimit match {
      case Some(m) if availableNowEnd.isEmpty && end > s && rows < m.minRows() =>
        val now = System.currentTimeMillis()
        val since = minRowsWaitingSince.getOrElse { minRowsWaitingSince = Some(now); now }
        if (now - since < m.maxTriggerDelayMs()) GraftOffset(s)
        else { minRowsWaitingSince = None; GraftOffset(end) }
      case _ =>
        minRowsWaitingSince = None
        GraftOffset(end)
    }
  }

  override def deserializeOffset(json: String): Offset =
    GraftOffset(json.trim.toLong)
  override def commit(end: Offset): Unit =
    consumerId.foreach { id =>
      val e = end.asInstanceOf[GraftOffset].snapshotId
      if (e >= 0) Consumers.commit(t, id, e)
    }
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftOffset].snapshotId
    val e = end.asInstanceOf[GraftOffset].snapshotId
    if (s < 0) {
      // latest-full: serve the complete current state
      if (e <= 0) return Array.empty
      val plan = t.readPlan(Some(e))
      // PK tables must serve the MERGED state — raw live-file emission
      // would leak superseded key versions and delete tombstones as rows
      // (paimon's FullStartingScanner plans merged splits the same way).
      // Route through the in-scan merge reader when eligible; the
      // from-file-creation-time mode stays raw (an append-table feature —
      // merging a time-filtered SUBSET of a PK bucket would be wrong in a
      // different way).
      if (s != -4L && t.isPk) {
        def merged(es: Seq[ManifestEntry], dv: Map[String, Array[Byte]]) =
          new GraftMorScan(t, es, Array.empty, Some(dataSchema), dv).planInputPartitions()
        plan match {
          case ReadPlan.InScan(es, dv) => return merged(es, dv)
          // final buckets: the scan applies their deletion vectors
          case ReadPlan.Raw(es, dv) if t.mergeRefusal().isEmpty => return merged(es, dv)
          case _ =>
            // ineligible (evolved schemas / partial-update or aggregation
            // engine): raw emission below is the documented approximation —
            // every input version streams as +I
        }
      }
      // FROM_FILE_CREATION_TIME: only files created at/after the cutoff,
      // by manifest-resident creation time (no per-file driver stats)
      val entries =
        if (s != -4L) plan.entries
        else {
          val cutoff = opt("scan.file-creation-time-millis").get.toLong
          plan.entries.filter(t.entryCreationTime(_) >= cutoff)
        }
      // final rows: the plan's deletion vectors and file-index skips apply
      val skips = plan match {
        case ReadPlan.Raw(_, skips) => skips
        case _ => Map.empty[String, Array[Byte]]
      }
      return new GraftBatchScan(t, entries, Array.empty, None, dv = skips).planInputPartitions()
    }
    (s + 1 to e).filter(t.sm.snapshotExists).map(t.sm.readSnapshot)
      .filterNot(snap => skipKind(snap.kind)).flatMap { snap =>
        if ((binlog || readChangelog) && snap.changelogFiles.nonEmpty) {
          val files = changelogSplits(snap)
          // binlog: one partition per SNAPSHOT — -U/+U pairs of a commit
          // pack per key, so the pack scope must be the commit's whole
          // changelog. Delta-sized state — bounded by one commit's changes,
          // not the table (paimon BinlogTable packs per-commit the same way).
          if (binlog) Seq(GraftBinlogPartition(GraftInputPartition(files.toArray, InternalRow.empty)))
          else files.map(f => GraftInputPartition(Array(f), InternalRow.empty))
        } else {
          // delta files, planned per snapshot so a later snapshot's rows
          // come in later partitions (a consumer that dedups a batch by
          // input position keeps the later version); no deletion vectors —
          // a later vector rewrites history the stream already served —
          // and postpone staging is invisible
          val deltas = snap.deltaManifests.flatMap(t.sm.readManifest)
            .filter(en => en.kind == 0 && en.bucket != -2)
          new GraftBatchScan(t, deltas, Array.empty, None).planInputPartitions().toSeq
        }
      }.toArray
  }

  /** A snapshot's changelog files as whole-file splits. The snapshot
    * records no file sizes, so each file costs one getFileStatus here, on
    * the driver (as ManifestFileIndex does for entries of unknown size). */
  private def changelogSplits(snap: SnapshotMeta): Seq[PartitionedFile] =
    snap.changelogFiles.map { p =>
      val st = t.sm.fs.getFileStatus(new Path(t.location, p))
      GraftBatchScan.split(st.getPath, st.getLen)
    }

  override def createReaderFactory(): PartitionReaderFactory = {
    val rows = GraftStreamDispatchFactory(t, withKind = readChangelog || binlog)
    if (binlog) GraftBinlogReaderFactory(rows, dataSchema, t.config.primaryKeys)
    else rows
  }
}

/** Readers of a stream's partitions, all through the batch scans' own
  * parquet readers: merged full-state key groups through [[GraftMorScan]]'s
  * merge reader, files through [[GraftBatchScan]]'s. With `kinds` (the data
  * column types), each row ends in `_row_kind`: a changelog file's own, and
  * `+I` for rows that carry none — delta files lack the column and merged
  * rows never have it. */
case class GraftStreamDispatchFactory(files: PartitionReaderFactory,
                                      mor: Option[PartitionReaderFactory],
                                      kinds: Option[Array[DataType]])
    extends PartitionReaderFactory {
  private def inner(p: InputPartition): PartitionReaderFactory = p match {
    case _: GraftMorInputPartition => mor.get
    case _ => files
  }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val in = inner(p).createReader(p)
    kinds.fold(in) { types =>
      val plusI = Literal(UTF8String.fromString("+I"), StringType)
      val kind =
        if (p.isInstanceOf[GraftMorInputPartition]) plusI
        else Coalesce(Seq(BoundReference(types.length, StringType, true), plusI))
      val proj = UnsafeProjection.create(
        types.indices.map(i => BoundReference(i, types(i), true)) :+ kind)
      new PartitionReader[InternalRow] {
        override def next(): Boolean = in.next()
        override def get(): InternalRow = proj(in.get())
        override def close(): Unit = in.close()
      }
    }
  }

  override def supportColumnarReads(p: InputPartition): Boolean =
    kinds.isEmpty && inner(p).supportColumnarReads(p)

  override def createColumnarReader(p: InputPartition): PartitionReader[ColumnarBatch] =
    inner(p).createColumnarReader(p)
}

object GraftStreamDispatchFactory {
  /** The readers of `t`'s stream partitions; `withKind`: rows end in
    * `_row_kind`. Files read every column as nullable, so a file of an
    * older schema (or a delta file read for `_row_kind`) reads a column it
    * lacks as null instead of failing the task. */
  def apply(t: GraftTable, withKind: Boolean): GraftStreamDispatchFactory = {
    val data = t.dataSchema
    val read = StructType((if (withKind) data.fields :+ StructField("_row_kind", StringType)
      else data.fields).map(_.copy(nullable = true)))
    GraftStreamDispatchFactory(
      new GraftBatchScan(t, Nil, Array.empty, Some(read)).createReaderFactory(),
      if (t.isPk) Some(new GraftMorScan(t, Nil, Array.empty, Some(data), Map.empty)
        .createReaderFactory())
      else None,
      if (withKind) Some(data.fields.map(_.dataType)) else None)
  }
}

object GraftMicroBatchStream {
  /** Streaming entry point: CHAIN tables get the two-phase chain stream
    * (reference ChainTableStreamScan.java); everything else streams the
    * table's own snapshot chain. */
  def forTable(t: GraftTable, checkpointLocation: String,
               readOptions: Map[String, String],
               readChangelog: Boolean = false)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    if (t.config.option("chain-table.enabled", "false") == "true" &&
        !readChangelog && t.sm.branch.isEmpty &&
        t.sm.branchExists("snapshot") && t.sm.branchExists("delta"))
      new GraftChainMicroBatchStream(t, checkpointLocation, readOptions)
    else new GraftMicroBatchStream(t, checkpointLocation, readOptions,
      readChangelog)
}

/**
 * Two-phase streaming scan for CHAIN tables (capability of the reference's
 * ChainTableStreamScan, paimon-core/.../table/ChainTableStreamScan.java):
 *
 *  - Phase 1 (starting): ONE batch holding the snapshot branch's LATEST
 *    time partition plus the delta-branch partitions strictly AFTER it —
 *    older snapshot partitions are outdated (the reference's default
 *    "lightweight" mode: no anchor merge, so a long-lived job's starting
 *    plan never explodes into a historical-partition chain merge). Files
 *    are served RAW: one row per key holds when each served partition
 *    carries one version per key — true for snapshot partitions (they are
 *    compact_chain_table output) and for single-write delta partitions;
 *    re-upserted delta keys surface each version, exactly as the raw
 *    lightweight scan does in the reference. Readers needing one-winner
 *    semantics across branches AND within partitions use merge-snapshot
 *    mode below. The delta branch's position is pinned when phase 1 plans.
 *  - Phase 2: NEW delta-branch snapshots only, from the pinned position —
 *    delegated to a plain [[GraftMicroBatchStream]] over the delta branch.
 *
 * Checkpoint state stays a single long: -1 = phase 1 pending, >= 0 = last
 * read DELTA snapshot id — a stateful restart skips phase 1 (reference
 * checkpoint contract).
 */
class GraftChainMicroBatchStream(t: GraftTable, checkpointLocation: String,
                                 readOptions: Map[String, String] = Map.empty)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {
  import graft.core.RowOps._

  private val ptCol = t.config.partitionKeys.head
  private val snapT = t.onBranch("snapshot")
  private val deltaT = t.onBranch("delta")
  private val delta = new GraftMicroBatchStream(deltaT, checkpointLocation,
    readOptions)

  override def initialOffset(): Offset = GraftOffset(-1L)

  override def latestOffset(): Offset =
    GraftOffset(deltaT.sm.latestSnapshotId.getOrElse(0L))

  // read limits apply to phase 2 (delta-branch admission, delegated); the
  // phase-1 starting batch is one pinned batch regardless, like the
  // reference's starting scan
  /** Trigger.AvailableNow drain contract: pin the delta branch's end
    * position via the DELEGATE (it owns admission control), so a
    * row-limited restart drains every available delta snapshot in bounded
    * batches and then stops — without this trait Spark falls back to
    * single-batch execution and a limited run would end early. */
  override def prepareForTriggerAvailableNow(): Unit =
    delta.prepareForTriggerAvailableNow()
  override def getDefaultReadLimit: ReadLimit = delta.getDefaultReadLimit
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[GraftOffset].snapshotId
    if (s < 0) latestOffset()
    else delta.latestOffset(start, limit)
  }
  override def reportLatestOffset(): Offset = latestOffset()

  override def deserializeOffset(json: String): Offset =
    GraftOffset(json.trim.toLong)

  /** `chain-table.streaming.merge-snapshot` (reference option, default
    * false): phase 1 performs the cross-branch chain merge so streaming
    * readers see deletions/updates that span the snapshot anchor and later
    * deltas — each primary key surfaces ONCE, under the group's latest
    * (logical) partition. The merge runs executor-side per BUCKET (the
    * LSM's merge unit — bucket-sized state, never the table). */
  private def mergeSnapshot: Boolean =
    readOptions.getOrElse("chain-table.streaming.merge-snapshot",
      t.config.option("chain-table.streaming.merge-snapshot", "false")) == "true"

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftOffset].snapshotId
    if (s >= 0) return delta.planInputPartitions(start, end)
    // phase 1: latest snapshot partition + later delta partitions, with the
    // delta side pinned at the phase boundary (`end` = delta snapshot id
    // captured by latestOffset, so phase 2 starts exactly after it)
    val e = end.asInstanceOf[GraftOffset].snapshotId
    val snapEntries = snapT.planFiles()
    val latestPt = snapEntries.flatMap(_.partition.get(ptCol))
      .flatMap(Option(_)).distinct.sorted.lastOption
    val keepSnap = snapEntries.filter(en =>
      latestPt.contains(en.partition.getOrElse(ptCol, null)))
    val deltaEntries =
      if (e <= 0) Nil
      else deltaT.planFiles(Some(e)).filter { en =>
        // null-safe like the snapshot side: a null partition value never
        // compares "after" the anchor (and never NPEs the comparison)
        val v = en.partition.get(ptCol).flatMap(Option(_))
        latestPt.forall(lp => v.exists(_ > lp))
      }
    if (!mergeSnapshot)
      return new GraftBatchScan(t, keepSnap ++ deltaEntries, Array.empty, None)
        .planInputPartitions()
    // merge mode: one partition per bucket carrying that bucket's snapshot
    // + delta files; the reader folds winners per chain key
    val chainKeys = t.config.primaryKeys.filterNot(_ == ptCol)
    val seqField = t.config.sequenceField.getOrElse(
      throw new IllegalStateException("chain tables require sequence.field"))
    val logicalPt = (latestPt.toSeq ++
      deltaEntries.flatMap(_.partition.get(ptCol)).flatMap(Option(_)))
      .sorted.lastOption.orNull
    // per-bucket merge is only sound when the PERSISTED layout co-locates a
    // chain key across partitions (trimmed-pk routing, stamped at creation)
    // AND every planned entry was written under that layout — entries of an
    // older generation (pre-rescale bucket count, pre-upgrade routing)
    // carry bucket ids from a different hash. A legacy full-pk table (or a
    // mixed-generation plan) merges as ONE group (correct, undistributed).
    val coLocated = t.fixedBucketKeys.contains(chainKeys) &&
      t.sameRoutingLayout(keepSnap ++ deltaEntries)
    val toFile = GraftBatchScan.partitionedFile(new Path(t.location)) _
    (keepSnap ++ deltaEntries)
      .groupBy(en => if (coLocated) en.bucket else 0)
      .map { case (_, group) =>
        GraftChainMergePartition(
          GraftInputPartition(group.map(toFile).toArray, InternalRow.empty),
          chainKeys.toArray, ptCol, seqField, logicalPt): InputPartition
      }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val rows = GraftStreamDispatchFactory(t, withKind = false)
    if (mergeSnapshot) GraftChainMergeReaderFactory(rows, t.dataSchema) else rows
  }

  override def commit(end: Offset): Unit = delta.commit(end)
  override def stop(): Unit = ()
}

case class GraftOffset(snapshotId: Long) extends Offset {
  override def json(): String = snapshotId.toString
}

/** One BUCKET's snapshot + delta files for a merge-mode chain starting
  * batch, plus the chain-merge recipe (key columns, partition column,
  * sequence field, logical output partition). */
case class GraftChainMergePartition(files: GraftInputPartition,
                                    chainKeys: Array[String], ptCol: String,
                                    seqField: String, logicalPt: String)
    extends InputPartition

/** Merge-mode chain partitions fold their files' rows; phase-2 delta files
  * flow through `rows` as they are. */
case class GraftChainMergeReaderFactory(rows: PartitionReaderFactory, schema: StructType)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case mp: GraftChainMergePartition =>
        new GraftChainMergeReader(mp, schema, rows.createReader(mp.files))
      case other => rows.createReader(other)
    }
}

/** Bucket-scoped chain merge for the merge-snapshot starting phase: fold
  * every row of the bucket's snapshot + delta files (read by `in`) down to
  * one winner per chain key — later partition (string order, the chain
  * rule), then higher sequence — and surface winners under the LOGICAL
  * partition (the latest merged partition; reference
  * ChainTableUtils.buildChainSplits). Merge state is bucket-sized (the LSM
  * merge unit), never the table. */
class GraftChainMergeReader(p: GraftChainMergePartition, schema: StructType,
                            in: PartitionReader[InternalRow])
    extends PartitionReader[InternalRow] {
  private val ptIdx = schema.fieldIndex(p.ptCol)
  private val seqIdx = schema.fieldIndex(p.seqField)
  private val keyIdx = p.chainKeys.map(schema.fieldIndex)

  private lazy val winners: Iterator[InternalRow] = {
    val best = new java.util.HashMap[Seq[Any], (String, Long, InternalRow)]()
    def seqOf(row: InternalRow): Long = schema(seqIdx).dataType match {
      case LongType => row.getLong(seqIdx)
      case IntegerType => row.getInt(seqIdx).toLong
      case other => row.get(seqIdx, other).toString.toLong
    }
    while (in.next()) {
      // the reader reuses its row: a kept row must be a copy
      val row = in.get().copy()
      val key: Seq[Any] =
        keyIdx.toSeq.map(i => row.get(i, schema(i).dataType))
      val pt = String.valueOf(row.get(ptIdx, schema(ptIdx).dataType))
      val seq = seqOf(row)
      val cur = best.get(key)
      if (cur == null || pt > cur._1 || (pt == cur._1 && seq >= cur._2))
        best.put(key, (pt, seq, row))
    }
    import scala.jdk.CollectionConverters._
    val ptValue = GraftBatchScan.statValue(schema(ptIdx).dataType, p.logicalPt)
    best.values().asScala.iterator.map { case (_, _, row) =>
      val arr = row.toSeq(schema).toArray
      arr(ptIdx) = ptValue
      new GenericInternalRow(arr): InternalRow
    }
  }

  private var cur: InternalRow = _
  override def next(): Boolean = {
    if (winners.hasNext) { cur = winners.next(); true } else false
  }
  override def get(): InternalRow = cur
  override def close(): Unit = in.close()
}

/** Binlog form of a table (paimon table/system/BinlogTable.java:56): key
  * columns keep their type, every value column becomes an ARRAY —
  * [before, after] for an update, [value] for an insert/delete — plus a
  * `rowkind` column (+I / +U / -D). */
object GraftBinlog {
  def schema(dataSchema: StructType, pks: Seq[String]): StructType = {
    val keyFields = pks.flatMap(k => dataSchema.fields.find(_.name == k))
    val valFields = dataSchema.fields.filterNot(f => pks.contains(f.name))
      .map(f => StructField(f.name, ArrayType(f.dataType, containsNull = true)))
    StructType(keyFields ++ Seq(StructField("rowkind", StringType, false)) ++ valFields)
  }
}

/** One snapshot's changelog files, packed per key by the reader. */
case class GraftBinlogPartition(files: GraftInputPartition) extends InputPartition

/** Binlog rows from `rows`, which end in `_row_kind`: a snapshot's
  * changelog packs per key; every other partition (a full-state batch or a
  * snapshot without changelog files) packs row by row as +I with
  * single-element value arrays — stateless, no per-key hash needed. */
case class GraftBinlogReaderFactory(rows: PartitionReaderFactory, dataSchema: StructType,
                                    pks: Seq[String])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case GraftBinlogPartition(files) =>
        new GraftBinlogPackReader(rows.createReader(files), dataSchema, pks)
      case other =>
        new GraftBinlogInsertReader(rows.createReader(other), dataSchema, pks)
    }
}

private object BinlogPack {
  /** (key indices, value indices, per-field types) for packing. */
  def layout(dataSchema: StructType, pks: Seq[String])
      : (Array[Int], Array[Int], Array[DataType]) = {
    val pkIdx = pks.map(dataSchema.fieldIndex).toArray
    val valIdx = dataSchema.fields.indices.filterNot(pkIdx.contains).toArray
    (pkIdx, valIdx, dataSchema.fields.map(_.dataType))
  }

  /** Packed output row: key cols, rowkind, value arrays. */
  def outRow(pkIdx: Array[Int], valIdx: Array[Int], kind: String,
             before: Array[Any], after: Array[Any]): InternalRow = {
    val src = if (after != null) after else before
    val out = new Array[Any](pkIdx.length + 1 + valIdx.length)
    var i = 0
    while (i < pkIdx.length) { out(i) = src(pkIdx(i)); i += 1 }
    out(pkIdx.length) = UTF8String.fromString(kind)
    var j = 0
    while (j < valIdx.length) {
      val arr =
        if (before != null && after != null) Array(before(valIdx(j)), after(valIdx(j)))
        else Array(src(valIdx(j)))
      out(pkIdx.length + 1 + j) =
        new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
      j += 1
    }
    new GenericInternalRow(out)
  }
}

/** Packs ONE commit's changelog rows (-U/+U/+I/-D) into binlog rows. The
  * per-key state is bounded by a single commit's delta. */
class GraftBinlogPackReader(in: PartitionReader[InternalRow], dataSchema: StructType,
                            pks: Seq[String])
    extends PartitionReader[InternalRow] {
  private val (pkIdx, valIdx, types) = BinlogPack.layout(dataSchema, pks)

  private lazy val packed: Iterator[InternalRow] = {
    val before = new java.util.LinkedHashMap[Seq[Any], Array[Any]]()
    val after = new java.util.LinkedHashMap[Seq[Any], Array[Any]]()
    val keys = new java.util.LinkedHashSet[Seq[Any]]()
    while (in.next()) {
      // the reader reuses its row: values kept in the maps come from a copy
      val row = in.get().copy()
      val vals = Array.tabulate[Any](dataSchema.length)(i => row.get(i, types(i)))
      val kind = row.getUTF8String(dataSchema.length).toString
      val key = pkIdx.map(vals(_)).toSeq
      keys.add(key)
      if (kind == "-U" || kind == "-D") before.put(key, vals)
      else after.put(key, vals)
    }
    import scala.jdk.CollectionConverters._
    keys.iterator().asScala.map { k =>
      val b = before.get(k); val a = after.get(k)
      // both images → +U [before, after]; after only → +I [value];
      // before only → -D [deleted value]
      val kind = if (b != null && a != null) "+U" else if (a != null) "+I" else "-D"
      BinlogPack.outRow(pkIdx, valIdx, kind, b, a)
    }
  }

  private var cur: InternalRow = _
  override def next(): Boolean = {
    if (packed.hasNext) { cur = packed.next(); true } else false
  }
  override def get(): InternalRow = cur
  override def close(): Unit = in.close()
}

/** Stateless +I packing of raw data / delta rows (full-state batch or a
  * snapshot without changelog files). */
class GraftBinlogInsertReader(in: PartitionReader[InternalRow], dataSchema: StructType,
                              pks: Seq[String])
    extends PartitionReader[InternalRow] {
  private val (pkIdx, valIdx, types) = BinlogPack.layout(dataSchema, pks)
  override def next(): Boolean = in.next()
  override def get(): InternalRow = {
    val row = in.get()
    val vals = Array.tabulate[Any](dataSchema.length)(i => row.get(i, types(i)))
    BinlogPack.outRow(pkIdx, valIdx, "+I", null, vals)
  }
  override def close(): Unit = in.close()
}
