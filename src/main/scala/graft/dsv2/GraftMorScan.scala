package graft.dsv2

import graft.core._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.sources.{EqualTo, Filter, In}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.util.OptionalLong

/**
 * Zero-exchange merge-on-read scan — the capability of the reference's
 * per-bucket LSM merge (operation/MergeFileSplitRead.java:236,
 * mergetree/MergeTreeReaders.java:44): every row version of a key lives in
 * that key's (partition, bucket), so the merge can run INSIDE the scan,
 * one task per key group, with NO shuffle. The relational Window/max_by
 * plan (MergeEngines) remains the semantics reference, the path for the
 * other merge engines, and the library fallback.
 *
 * Per key group the reader streams all files and keeps the winning version
 * per primary key by the stored LSM envelope (__seq, __commit, __pos) —
 * latest for `deduplicate`, earliest for `first-row` — then emits winners
 * that are not delete tombstones. Raw-convertible groups (fully-merged
 * compaction output) skip the hash map and stream through. Deletion
 * vectors apply per file BEFORE the merge. Memory is bounded by one
 * bucket's distinct keys (the write-side bucket target), the same bound
 * the reference's per-bucket merge holds.
 *
 * Value filters are NOT pushed into the parquet readers: dropping a newer
 * non-matching version pre-merge would resurrect an older matching one.
 * Merge-safe conjuncts (primary-key / partition columns — constant across
 * a key's versions) do push, and their `=`/`IN` ones drop the rows of
 * other keys before the merge; Spark re-applies every filter post-scan —
 * except a key-pinned read's, which the scan builder claims (`exact`):
 * those run here, on the merged rows.
 *
 * Files are read through Spark's columnar parquet reader when it supports
 * the wide schema: the key test and the merge see each row as a view into
 * its batch, and only winners are copied (projected). The row reader
 * serves the schemas the columnar one does not.
 */
class GraftMorScan(t: GraftTable, entries: Seq[ManifestEntry],
                   pushed: Array[Filter], required: Option[StructType],
                   dv: Map[String, Array[Byte]],
                   readOptions: Map[String, String] = Map.empty,
                   exact: Option[ExactFilter] = None)
    extends Scan with Batch with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {

  private val latestFirst = t.config.mergeEngine == "deduplicate"
  private val outSchema = required.getOrElse(t.dataSchema)
  // what the merge emits: the projection plus the claimed filters' columns
  private val mergedSchema = exact.fold(outSchema)(_.widen(outSchema, t.dataSchema))

  // wide row read from parquet: merged columns ∪ primary key ∪ envelope,
  // in file-schema order (stable indices for the projections below)
  private val wideSchema: StructType = {
    val need = (mergedSchema.fieldNames ++ t.config.primaryKeys ++
      Seq(GraftTable.SEQ, GraftTable.SEQ2, GraftTable.COMMIT, GraftTable.POS, GraftTable.KIND)).toSet
    StructType(t.fileSchema.fields.filter(f => need.contains(f.name)))
  }
  private def idx(n: String): Int = wideSchema.fieldIndex(n)

  // merge-safe parquet pushdown: filters referencing only pk/partition cols
  private val safePushed: Array[Filter] = {
    val safe = (t.config.primaryKeys ++ t.config.partitionKeys).toSet
    pushed.filter(_.references.forall(safe.contains))
  }

  override def readSchema(): StructType = outSchema
  override def toBatch: Batch = this

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong =
      OptionalLong.of(math.max(1L, entries.map(_.fileSize).sum))
    // manifest row counts OVERCOUNT merged rows — leave numRows unknown
    override def numRows(): OptionalLong = OptionalLong.empty()
  }

  /** One key group per partition, always. Raw (fully-merged) multi-file
    * groups additionally REORDER their files into the stats-proven
    * min-bound concatenation run when one exists — harmless for the
    * result set (raw files are key-disjoint) and what lets the group
    * stream PK-sorted for [[outputOrdering]]. */
  private lazy val groupedPartitions
      : Seq[(Seq[ManifestEntry], Boolean, Boolean)] = {
    val pk1 = t.config.primaryKeys.head
    val dt = t.dataSchema.fields.find(_.name == pk1).map(_.dataType)
    entries.groupBy(e => (e.partition.toSeq.sortBy(_._1), e.bucket)).toSeq
      .sortBy(_._1.toString)
      .map { case (_, group) =>
        val raw = t.rawBucket(group) &&
          group.forall(e => !dv.contains(GraftTable.dvKey(e.path)))
        if (!raw || group.size == 1)
          // merged groups emit PK-sorted by construction (the k-way
          // merge); single raw files are internally sorted
          (group.sortBy(_.path), raw, true)
        else dt.flatMap(GraftBatchScan.disjointRun(group, pk1, _)) match {
          case Some(run) => (run, raw, true)
          case None => (group.sortBy(_.path), raw, false)
        }
      }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val toFile = GraftBatchScan.partitionedFile(new Path(t.location)) _
    groupedPartitions.map { case (files, raw, _) =>
      val fps = files.map(e =>
        dv.get(GraftTable.dvKey(e.path))
          .map(b => DvCache.fingerprint(GraftTable.dvKey(e.path), b)).orNull)
      val bytes = files.map(e => dv.get(GraftTable.dvKey(e.path)).orNull)
      GraftMorInputPartition(files.map(toFile).toArray, fps.toArray,
        bytes.toArray, raw, GraftBatchScan.partitionKeyRow(t, files.head))
    }.toArray
  }

  // ---- partitioning + ordering reports ----
  // The merge-in-scan serves each (partition, bucket) key group as ONE
  // task, so the fixed layout is reportable exactly like the batch scan's
  // (KeyGroupedPartitioning → storage-partitioned joins / exchange-free
  // keyed aggregation over UNCOMPACTED pk tables), and the k-way merge
  // emits each group PK-sorted, so ordering is reportable whenever every
  // raw group also streams in a proven sorted run (single file or
  // stats-disjoint bound-ordered concatenation). readPlan already
  // excludes pk-clustering-override tables (clustering-sorted files).
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    val transforms = GraftBatchScan.clusteringTransforms(t)
    if (transforms.isEmpty || entries.isEmpty)
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(
        planInputPartitions().length)
    else new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
      transforms.map(x => x: org.apache.spark.sql.connector.expressions.Expression),
      planInputPartitions().length)
  }

  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    val pks = t.config.primaryKeys
    val out = outSchema.fieldNames.toSet
    val safe = pks.nonEmpty && entries.nonEmpty && pks.forall(out.contains) &&
      groupedPartitions.forall(_._3)
    if (!safe) Array.empty
    else pks.map(pk =>
      org.apache.spark.sql.connector.expressions.Expressions.sort(
        org.apache.spark.sql.connector.expressions.Expressions.column(pk),
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val wideTypes = wideSchema.fields.map(_.dataType)
    // requested as nullable: a file written before an envelope column
    // existed (__seq2) reads it as null instead of failing the task
    val fileRead = StructType(wideSchema.fields.map(_.copy(nullable = true)))
    // DV files read WITHOUT pushdown (row index = running count); with no
    // vector outstanding it is never used
    val (pf, dvf) = GraftBatchScan.parquetFactories(t, fileRead, safePushed, dv.nonEmpty)
    TaskEndClose(GraftMorReaderFactory(pf, dvf,
      pkIdx = t.config.primaryKeys.map(idx).toArray,
      seqIdx = idx(GraftTable.SEQ), seq2Idx = idx(GraftTable.SEQ2),
      commitIdx = idx(GraftTable.COMMIT),
      posIdx = idx(GraftTable.POS), kindIdx = idx(GraftTable.KIND),
      outIdx = mergedSchema.fieldNames.map(idx),
      wideTypes = wideTypes, latestFirst = latestFirst,
      keyTest = GraftMorReaderFactory.keyTest(safePushed, wideSchema),
      exact = exact.map(_.rows(mergedSchema, outSchema))))
  }

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    GraftMicroBatchStream.forTable(t, checkpointLocation, readOptions)

  override def description(): String =
    s"GraftMorScan(${t.location}, files=${entries.size}, engine=${t.config.mergeEngine})"
}

/** All files of ONE (partition, bucket) key group; `dvFps`/`dvBytes` align
  * with `files` (null = no outstanding vector). `raw` = fully merged, the
  * reader streams rows without the hash map. */
case class GraftMorInputPartition(files: Array[PartitionedFile],
                                  dvFps: Array[String],
                                  dvBytes: Array[Array[Byte]],
                                  raw: Boolean,
                                  key: InternalRow)
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = key
  override def preferredLocations(): Array[String] = Array.empty
}

object GraftMorReaderFactory {
  /** The merge-safe pushed filters that are `=` or `IN` over an integral,
    * date or string column of the wide row, as a row test. Other shapes
    * stay with the post-scan filter only. */
  private[dsv2] def keyTest(filters: Array[Filter], wide: StructType): KeyTest =
    KeyTest(filters.toSeq.flatMap {
      case EqualTo(a, v) => keyValues(wide, a, Seq(v))
      case In(a, vs) => keyValues(wide, a, vs.toSeq)
      case _ => None
    })

  private def keyValues(wide: StructType, name: String, vs: Seq[Any])
      : Option[(Int, DataType, Set[Any])] =
    Some(wide.fieldNames.indexOf(name)).filter(_ >= 0).flatMap { i =>
      wide(i).dataType match {
        case dt @ (ByteType | ShortType | IntegerType | LongType | DateType) =>
          scala.util.Try(vs.filter(_ != null).map(Literal.create(_, dt).value)).toOption
            .map(cvs => (i, dt, cvs.toSet))
        case dt: StringType if dt == StringType =>
          Some((i, dt, vs.filter(_ != null).map(v => UTF8String.fromString(v.toString)).toSet))
        case _ => None
      }
    }
}

case class GraftMorReaderFactory(delegate: ParquetPartitionReaderFactory,
                                 dvDelegate: ParquetPartitionReaderFactory,
                                 pkIdx: Array[Int], seqIdx: Int, seq2Idx: Int, commitIdx: Int,
                                 posIdx: Int, kindIdx: Int, outIdx: Array[Int],
                                 wideTypes: Array[DataType], latestFirst: Boolean,
                                 keyTest: KeyTest,
                                 exact: Option[ExactRows] = None)
    extends PartitionReaderFactory {

  override def supportColumnarReads(p: InputPartition): Boolean = false

  /** One file's rows. Through the columnar reader when it supports the
    * wide schema: rows are views into its batches, never copied; the row
    * reader otherwise. Each reader opens through its own copy of the
    * factory ([[GraftBatchScan.fresh]]): the k-way merge holds a group's
    * readers open at once. */
  private def fileReader(gp: GraftMorInputPartition, i: Int): PartitionReader[InternalRow] = {
    val fp = FilePartition(0, Array(gp.files(i)))
    val f = GraftBatchScan.fresh(if (gp.dvBytes(i) == null) delegate else dvDelegate)
    val bm =
      if (gp.dvBytes(i) == null) null else DvCache.bitmapFp(gp.dvFps(i), gp.dvBytes(i))
    if (f.supportColumnarReads(fp)) new BatchRows(f.createColumnarReader(fp), bm)
    else if (bm == null) f.createReader(fp)
    else {
      val inner = f.createReader(fp)
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
  }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val gp = p.asInstanceOf[GraftMorInputPartition]
    def mkOutProj = UnsafeProjection.create(
      outIdx.map(i => BoundReference(i, wideTypes(i), true)
        : org.apache.spark.sql.catalyst.expressions.Expression))
    val outProj = mkOutProj

    val merging = new PartitionReader[InternalRow] {
      private var it: Iterator[InternalRow] = _
      private var cur: InternalRow = _
      private var openReaders: Array[PartitionReader[InternalRow]] = _

      /** Streaming K-WAY merge over the group's PK-SORTED files (every
        * PK write sorts within (bucket, pt) by the primary key — see
        * GraftTable.writeFiles — so file streams arrive key-ordered; the
        * reference merges the same way, mergetree/MergeTreeReaders.java:44
        * via SortMergeReader). Per key, candidate versions are adjacent at
        * the heap front: readers are drained for the key in ascending file
        * index and rows within a reader in stream order — the SAME
        * encounter order the previous hash implementation used, so the
        * (seq, seq2, commit, pos) winner (strict-improvement comparator)
        * is bit-identical. Memory is O(#files) head rows per task instead
        * of O(distinct keys) winner rows — the at-scale bound a merge
        * over a 1-GB-target bucket needs — and the emission is PK-sorted,
        * which is what lets the scan report SupportsReportOrdering. */
      private def merged(): Iterator[InternalRow] = {
        val n = gp.files.length
        val readers = Array.tabulate(n)(fileReader(gp, _))
        openReaders = readers
        // one pk projection per reader: a projection's result buffer is
        // stable until ITS next apply, and a reader re-projects only when
        // it advances (outside the heap), so heads compare safely
        // TWO alternating projections per reader: the freshly-projected pk
        // lands in the buffer the PREVIOUS row didn't use, so the
        // sortedness guard compares prev vs current with zero copies
        val pkProjs = Array.fill(2 * n)(UnsafeProjection.create(
          pkIdx.map(i => BoundReference(i, wideTypes(i), true)
            : org.apache.spark.sql.catalyst.expressions.Expression)))
        val pkOrd = org.apache.spark.sql.catalyst.expressions.RowOrdering
          .createNaturalAscendingOrdering(
            pkIdx.toIndexedSeq.map(wideTypes(_)))
        val heads = new Array[InternalRow](n) // current row of reader i
        val headPks = new Array[UnsafeRow](n) // its projected pk
        val flip = new Array[Boolean](n)
        def advance(i: Int): Boolean = {
          var more = readers(i).next()
          // a row the key filters reject cannot win for a key they accept
          // (a key's versions share its pk): skip it before the merge
          while (more && !keyTest(readers(i).get())) more = readers(i).next()
          if (more) {
            // the reader's row buffer stays valid until ITS next next() —
            // reader i advances only while outside the heap, so the head
            // needs no copy (winners copy in offer)
            heads(i) = readers(i).get()
            val prev = headPks(i)
            headPks(i) =
              pkProjs(if (flip(i)) n + i else i)(heads(i))
            flip(i) = !flip(i)
            // the merge is only correct over PK-sorted files (the write
            // path guarantees it — GraftTable.writeFiles sorts every pk
            // write by (pt, bucket, pks)); a file written before that
            // guarantee (or by an external tool) must fail LOUDLY, never
            // mis-merge silently. compact() rewrites it sorted.
            if (prev != null && pkOrd.compare(prev, headPks(i)) > 0)
              throw new IllegalStateException(
                s"data file ${gp.files(i).filePath} is not sorted by the " +
                  "primary key (written before the sorted-write guarantee, " +
                  "or externally); run compact() on the table to rewrite it")
            true
          } else {
            readers(i).close(); readers(i) = null
            heads(i) = null; headPks(i) = null
            false
          }
        }
        val heap = new java.util.PriorityQueue[Integer](math.max(1, n),
          (a: Integer, b: Integer) => {
            val c = pkOrd.compare(headPks(a), headPks(b))
            if (c != 0) c else Integer.compare(a, b)
          })
        (0 until n).foreach(i => if (advance(i)) heap.add(i))

        // winner-copy elimination (r14, guide §4 per-row CPU): the previous
        // shape copied the WIDE row for every improving candidate
        // (winner = row.copy()) and then projected the final winner — one
        // wide-row copy + one projection per emitted row minimum. Instead
        // the candidate is projected into the OUTPUT shape at offer time
        // (the strict-improvement comparator reads only the envelope longs,
        // which are consumed BEFORE the projection overwrites anything) and
        // the wide copy is gone. Projections are TRIPLE-buffered round-robin
        // per emitted row: a handed-out row must stay valid until the
        // caller's next next() (the volatile-row contract), and the extra
        // buffer keeps it valid one full row longer than required, so a
        // consumer that touches the previous row during hasNext() is safe
        // too. All offers for ONE key share one buffer (later better
        // candidates overwrite earlier ones — exactly the winner logic).
        new Iterator[InternalRow] {
          private var nxt: InternalRow = _
          private var ready = false
          private val outProjs = Array.fill(3)(mkOutProj)
          private var projAt = 0
          private def computeNext(): Unit = {
            nxt = null
            while (nxt == null && !heap.isEmpty) {
              val first = heap.poll()
              // the run's key outlives its readers' head buffers
              val key = headPks(first).copy()
              val proj = outProjs(projAt)
              var wSeq = 0L; var wSeq2 = 0L; var wCm = 0L; var wPos = 0L
              var wKind = 0
              var winner: InternalRow = null
              def offer(row: InternalRow): Unit = {
                val seq = row.getLong(seqIdx)
                val seq2 = if (row.isNullAt(seq2Idx)) 0L else row.getLong(seq2Idx)
                val cm = row.getLong(commitIdx)
                val pos = if (row.isNullAt(posIdx)) Long.MinValue
                          else row.getLong(posIdx)
                val better = winner == null || {
                  val c =
                    if (seq != wSeq) java.lang.Long.compare(seq, wSeq)
                    else if (seq2 != wSeq2) java.lang.Long.compare(seq2, wSeq2)
                    else if (cm != wCm) java.lang.Long.compare(cm, wCm)
                    else java.lang.Long.compare(pos, wPos)
                  if (latestFirst) c > 0 else c < 0
                }
                if (better) {
                  wSeq = seq; wSeq2 = seq2; wCm = cm; wPos = pos
                  wKind = row.getInt(kindIdx)
                  winner = proj(row) // project now — no wide-row copy
                }
              }
              // drain every reader holding this key, ascending file index
              // (the heap tiebreak), rows in stream order
              var r = first
              var more = true
              while (more) {
                var inRun = true
                while (inRun) {
                  offer(heads(r))
                  inRun = advance(r) && pkOrd.compare(headPks(r), key) == 0
                }
                if (heads(r) != null) heap.add(r)
                more = !heap.isEmpty && pkOrd.compare(headPks(heap.peek()), key) == 0
                if (more) r = heap.poll()
              }
              if (wKind != GraftTable.KIND_DELETE) {
                nxt = winner
                projAt = (projAt + 1) % outProjs.length
              }
            }
          }
          // LAZY: outProj reuses its result buffer, so the next row may
          // only be computed after the caller is done with the previous
          // one (a row handed out stays valid until the next next() —
          // the standard volatile-row contract Spark readers rely on)
          override def hasNext: Boolean = {
            if (!ready) { computeNext(); ready = true }
            nxt != null
          }
          override def next(): InternalRow = {
            if (!ready) { computeNext(); ready = true }
            ready = false
            nxt
          }
        }
      }

      /** Raw group: stream files (tombstone-free by rawBucket), project. */
      private def streamed(): Iterator[InternalRow] = new Iterator[InternalRow] {
        private var fi = 0
        private var r: PartitionReader[InternalRow] = _
        private var nxt: InternalRow = _
        private def advance(): Unit = {
          nxt = null
          while (nxt == null) {
            if (r == null) {
              if (fi >= gp.files.length) { openReaders = null; return }
              r = fileReader(gp, fi); fi += 1
              openReaders = Array(r)
            }
            if (r.next()) nxt = r.get()
            else { r.close(); r = null; openReaders = null }
          }
        }
        advance()
        override def hasNext: Boolean = nxt != null
        override def next(): InternalRow = {
          val out = outProj(nxt); advance(); out
        }
      }

      override def next(): Boolean = {
        if (it == null) it = if (gp.raw) streamed() else merged()
        if (it.hasNext) { cur = it.next(); true } else false
      }
      override def get(): InternalRow = cur
      // release parquet readers a limit/short-circuit left open
      override def close(): Unit = {
        val rs = openReaders
        if (rs != null) rs.foreach(r => if (r != null) r.close())
        openReaders = null
      }
    }
    exact.fold(merging)(_(merging))
  }
}

/** Conjuncts (column index, type, accepted values) a merged row's key must
  * meet; no conjuncts accept every row. */
case class KeyTest(conjuncts: Seq[(Int, DataType, Set[Any])]) {
  def apply(row: InternalRow): Boolean = conjuncts.forall { case (i, dt, vs) =>
    !row.isNullAt(i) && vs.contains(row.get(i, dt))
  }
}
