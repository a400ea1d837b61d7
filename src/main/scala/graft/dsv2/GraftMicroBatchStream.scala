package graft.dsv2

import graft.core._
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.example.data.Group
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

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
 * Delta files are decoded executor-side by a self-contained parquet Group
 * reader (micro-batches are small; the batch path keeps Spark's vectorized
 * reader).
 */
class GraftMicroBatchStream(t: GraftTable, checkpointLocation: String,
                            readOptions: Map[String, String] = Map.empty,
                            readChangelog: Boolean = false,
                            binlog: Boolean = false)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  if (binlog) require(t.isPk, "binlog requires a primary-keyed table")

  private val conf = new SerializableConfiguration(
    t.spark.sessionState.newHadoopConf())
  private val dataSchema = t.schema.sparkSchema
  private def streamSchema: StructType =
    if (readChangelog)
      StructType(dataSchema.fields :+ StructField("_row_kind", StringType, false))
    else dataSchema

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
      var entries = plan.entries
      // FROM_FILE_CREATION_TIME: only files created at/after the cutoff
      if (s == -4L) {
        val cutoff = opt("scan.file-creation-time-millis").get.toLong
        // manifest-resident creation time (no per-file driver stats)
        entries = entries.filter(en => t.entryCreationTime(en) >= cutoff)
      }
      return entries.map(en => GraftFilePartition(
        new Path(t.location, en.path).toString, "+I"): InputPartition).toArray
    }
    (s + 1 to e).flatMap { id =>
      if (!t.sm.snapshotExists(id)) Nil
      else {
        val snap = t.sm.readSnapshot(id)
        if (skipKind(snap.kind)) Nil
        else if (binlog && snap.changelogFiles.nonEmpty)
          // one partition per SNAPSHOT: -U/+U pairs of a commit pack per
          // key, so the pack scope must be the commit's whole changelog.
          // Delta-sized state — bounded by one commit's changes, not the
          // table (paimon BinlogTable packs per-commit the same way).
          Seq(GraftBinlogPartition(snap.changelogFiles.map(p =>
            new Path(t.location, p).toString).toArray): InputPartition)
        else if (readChangelog && snap.changelogFiles.nonEmpty)
          snap.changelogFiles.map(p => GraftFilePartition(
            new Path(t.location, p).toString, null): InputPartition)
        else snap.deltaManifests.flatMap(t.sm.readManifest)
          .filter(en => en.kind == 0 && en.bucket != -2) // postpone staging invisible
          .map(en => GraftFilePartition(
            new Path(t.location, en.path).toString, "+I"): InputPartition)
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    if (binlog)
      new GraftBinlogReaderFactory(dataSchema, t.config.primaryKeys, conf)
    else {
      val stream = new GraftStreamReaderFactory(streamSchema, conf)
      if (!t.isPk) stream
      else {
        // PK full-state batches arrive as GraftMorInputPartitions (merged
        // per bucket); per-snapshot delta batches stay file partitions —
        // dispatch on the partition type. The MOR factory only needs the
        // table's schemas, not the planned entries.
        val mor = new GraftMorScan(t, Nil, Array.empty, Some(dataSchema),
          Map.empty).createReaderFactory()
        GraftStreamDispatchFactory(mor, stream,
          if (readChangelog) Some(dataSchema) else None)
      }
    }
}

/** Routes MOR (full-state) and plain file partitions of one streaming
  * batch plan to their readers; under read-changelog the merged rows get
  * the `+I` kind column appended to match the stream schema. */
case class GraftStreamDispatchFactory(mor: PartitionReaderFactory,
                                      stream: PartitionReaderFactory,
                                      appendKindTo: Option[StructType])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case m: GraftMorInputPartition =>
        val inner = mor.createReader(m)
        appendKindTo match {
          case None => inner
          case Some(schema) =>
            val types = schema.fields.map(_.dataType)
            new PartitionReader[InternalRow] {
              override def next(): Boolean = inner.next()
              override def get(): InternalRow = {
                val r = inner.get()
                val arr = new Array[Any](types.length + 1)
                var i = 0
                while (i < types.length) {
                  arr(i) = if (r.isNullAt(i)) null else r.get(i, types(i))
                  i += 1
                }
                arr(types.length) = UTF8String.fromString("+I")
                new GenericInternalRow(arr)
              }
              override def close(): Unit = inner.close()
            }
        }
      case other => stream.createReader(other)
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
  private val conf = new SerializableConfiguration(
    t.spark.sessionState.newHadoopConf())

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
      return (keepSnap ++ deltaEntries).map(en => GraftFilePartition(
        new Path(t.location, en.path).toString, "+I"): InputPartition).toArray
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
    (keepSnap ++ deltaEntries)
      .groupBy(en => if (coLocated) en.bucket else 0)
      .map { case (_, group) =>
        GraftChainMergePartition(
          group.map(en => new Path(t.location, en.path).toString).toArray,
          chainKeys.toArray, ptCol, seqField, logicalPt): InputPartition
      }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    if (mergeSnapshot)
      new GraftChainMergeReaderFactory(t.schema.sparkSchema, conf)
    else new GraftStreamReaderFactory(t.schema.sparkSchema, conf)

  override def commit(end: Offset): Unit = delta.commit(end)
  override def stop(): Unit = ()
}

case class GraftOffset(snapshotId: Long) extends Offset {
  override def json(): String = snapshotId.toString
}

/** `kindFill`: constant for `_row_kind` when the file lacks the column
  * (delta files read in changelog mode); null = read from file. */
case class GraftFilePartition(file: String, kindFill: String) extends InputPartition

/** One BUCKET's snapshot + delta files for a merge-mode chain starting
  * batch, plus the chain-merge recipe (key columns, partition column,
  * sequence field, logical output partition). */
case class GraftChainMergePartition(files: Array[String],
                                    chainKeys: Array[String], ptCol: String,
                                    seqField: String, logicalPt: String)
    extends InputPartition

class GraftChainMergeReaderFactory(schema: StructType,
                                   conf: SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      // phase-2 delta files flow through as plain file partitions
      case fp: GraftFilePartition =>
        new GraftGroupReader(fp.file, schema, conf, Option(fp.kindFill))
      case mp: GraftChainMergePartition =>
        new GraftChainMergeReader(mp, schema, conf)
    }
}

/** Bucket-scoped chain merge for the merge-snapshot starting phase: fold
  * every row of the bucket's snapshot + delta files down to one winner per
  * chain key — later partition (string order, the chain rule), then higher
  * sequence — and surface winners under the LOGICAL partition (the latest
  * merged partition; reference ChainTableUtils.buildChainSplits). Merge
  * state is bucket-sized (the LSM merge unit), never the table. */
class GraftChainMergeReader(p: GraftChainMergePartition, schema: StructType,
                            conf: SerializableConfiguration)
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
    p.files.foreach { f =>
      val r = new GraftGroupReader(f, schema, conf)
      try {
        while (r.next()) {
          val row = r.get()
          val key: Seq[Any] =
            keyIdx.toSeq.map(i => row.get(i, schema(i).dataType))
          val pt = String.valueOf(row.get(ptIdx, schema(ptIdx).dataType))
          val seq = seqOf(row)
          val cur = best.get(key)
          if (cur == null || pt > cur._1 || (pt == cur._1 && seq >= cur._2))
            best.put(key, (pt, seq, row))
        }
      } finally r.close()
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
  override def close(): Unit = ()
}

class GraftStreamReaderFactory(schema: StructType, conf: SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftFilePartition]
    new GraftGroupReader(p.file, schema, conf, Option(p.kindFill))
  }
}

/** Row-at-a-time parquet reader (Group API) → InternalRow per `schema`;
  * columns missing in the file (schema evolution) read as null, except
  * `_row_kind` which takes `kindFill` when provided. */
class GraftGroupReader(file: String, schema: StructType,
                       conf: SerializableConfiguration,
                       kindFill: Option[String] = None)
    extends PartitionReader[InternalRow] {

  @SuppressWarnings(Array("deprecation"))
  private val reader: ParquetReader[Group] =
    ParquetReader.builder(new GroupReadSupport(), new Path(file))
      .withConf(conf.value).build()
  private var current: Group = _
  private val fillKind = kindFill.map(UTF8String.fromString).orNull

  override def next(): Boolean = {
    current = reader.read()
    current != null
  }

  override def get(): InternalRow = {
    val g = current
    val gt = g.getType
    val values = schema.fields.map { f =>
      if (!gt.containsField(f.name)) {
        if (f.name == "_row_kind") fillKind else null
      } else {
        val idx = gt.getFieldIndex(f.name)
        if (g.getFieldRepetitionCount(idx) == 0) null
        else decode(g, idx, f.dataType)
      }
    }
    new GenericInternalRow(values.asInstanceOf[Array[Any]])
  }

  private def decode(g: Group, idx: Int, dt: DataType): Any = dt match {
    case BooleanType => g.getBoolean(idx, 0)
    case IntegerType | DateType => g.getInteger(idx, 0)
    case LongType => g.getLong(idx, 0)
    case FloatType => g.getFloat(idx, 0)
    case DoubleType => g.getDouble(idx, 0)
    case StringType => UTF8String.fromBytes(g.getBinary(idx, 0).getBytes)
    case BinaryType => g.getBinary(idx, 0).getBytes
    case _: TimestampType | _: TimestampNTZType =>
      // files are written by Spark with MICROS annotation; normalize others
      val prim = g.getType.getType(idx).asPrimitiveType()
      val v = prim.getPrimitiveTypeName match {
        case PrimitiveTypeName.INT64 => g.getLong(idx, 0)
        case PrimitiveTypeName.INT96 =>
          // Spark's default timestamp physical type: 8B nanos-of-day LE +
          // 4B Julian day — decode straight to micros
          val b = g.getInt96(idx, 0).getBytes
          val buf = java.nio.ByteBuffer.wrap(b)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          val nanosOfDay = buf.getLong
          val julianDay = buf.getInt
          return (julianDay - 2440588L) * 86400000000L + nanosOfDay / 1000L
        case other => throw new UnsupportedOperationException(s"timestamp as $other")
      }
      prim.getLogicalTypeAnnotation match {
        case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          ts.getUnit match {
            case LogicalTypeAnnotation.TimeUnit.MICROS => v
            case LogicalTypeAnnotation.TimeUnit.MILLIS => v * 1000L
            case LogicalTypeAnnotation.TimeUnit.NANOS => v / 1000L
          }
        case _ => v
      }
    case other =>
      throw new UnsupportedOperationException(s"streaming read of type $other")
  }

  override def close(): Unit = reader.close()
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
case class GraftBinlogPartition(files: Array[String]) extends InputPartition

class GraftBinlogReaderFactory(dataSchema: StructType, pks: Seq[String],
                               conf: SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case GraftBinlogPartition(files) =>
        new GraftBinlogPackReader(files, dataSchema, pks, conf)
      case p: GraftFilePartition =>
        // full-state / no-changelog delta file: every row packs as +I with
        // single-element value arrays — stateless, no per-key hash needed
        new GraftBinlogInsertReader(p.file, dataSchema, pks, conf)
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
class GraftBinlogPackReader(files: Array[String], dataSchema: StructType,
                            pks: Seq[String], conf: SerializableConfiguration)
    extends PartitionReader[InternalRow] {
  private val clSchema = StructType(dataSchema.fields :+
    StructField("_row_kind", StringType, false))
  private val (pkIdx, valIdx, types) = BinlogPack.layout(dataSchema, pks)

  private lazy val packed: Iterator[InternalRow] = {
    val before = new java.util.LinkedHashMap[Seq[Any], Array[Any]]()
    val after = new java.util.LinkedHashMap[Seq[Any], Array[Any]]()
    val keys = new java.util.LinkedHashSet[Seq[Any]]()
    files.foreach { f =>
      val r = new GraftGroupReader(f, clSchema, conf)
      try {
        while (r.next()) {
          val row = r.get()
          val vals = Array.tabulate[Any](dataSchema.length)(i => row.get(i, types(i)))
          val kind = row.getUTF8String(dataSchema.length).toString
          val key = pkIdx.map(vals(_)).toSeq
          keys.add(key)
          if (kind == "-U" || kind == "-D") before.put(key, vals)
          else after.put(key, vals)
        }
      } finally r.close()
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
  override def close(): Unit = ()
}

/** Stateless +I packing of a raw data / delta file (full-state batch or a
  * snapshot without changelog files). */
class GraftBinlogInsertReader(file: String, dataSchema: StructType,
                              pks: Seq[String], conf: SerializableConfiguration)
    extends PartitionReader[InternalRow] {
  private val (pkIdx, valIdx, types) = BinlogPack.layout(dataSchema, pks)
  private val inner = new GraftGroupReader(file, dataSchema, conf)
  override def next(): Boolean = inner.next()
  override def get(): InternalRow = {
    val row = inner.get()
    val vals = Array.tabulate[Any](dataSchema.length)(i => row.get(i, types(i)))
    BinlogPack.outRow(pkIdx, valIdx, "+I", null, vals)
  }
  override def close(): Unit = inner.close()
}
