package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, RowOrdering}
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.execution.datasources.{WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.graft.SparkShims
import org.apache.spark.sql.types.{DataType, StringType, StructType, TimestampType}
import org.apache.spark.util.SerializableConfiguration

/** One data file as its write task saw it: path under the output directory
  * (`<pt dir>/<bucket dir>/<file>`), bucket, rows, bytes, per-column stats. */
case class WrittenFile(relPath: String, bucket: Int, rowCount: Long, size: Long,
                       stats: Map[String, ColStat])

case class WrittenFiles(files: Seq[WrittenFile]) extends WriteTaskStats

/**
 * Per-file stats gathered inside the write tasks as Spark's FileFormatWriter
 * writes each row (how paimon's writers fill DataFileMeta; Delta Lake's
 * DeltaJobStatisticsTracker pattern), so no file is read back. The write
 * partitions by (PT, BUCKET): a partition row's field 1 is the bucket.
 * `modes(i)` is data column i's stats mode: `none` (null count -1),
 * `counts`, else also min/max of orderable types under Spark's ordering
 * (NaN above all, -0.0 == 0.0, first seen wins a tie) as the string cast in
 * `timeZone` — timestamps as zone-free epoch-micros (StatsPrune.cmp reads
 * either form). `files` holds the result once the write commits.
 */
class FileStatsTracker(dataSchema: StructType, modes: Array[String], timeZone: String,
                       hadoopConf: Broadcast[SerializableConfiguration]) extends WriteJobStatsTracker {
  @transient var files: Seq[WrittenFile] = Nil

  override def newTaskInstance(): WriteTaskStatsTracker = new WriteTaskStatsTracker {
    private val types: Array[DataType] = dataSchema.fields.map(_.dataType)
    private val collect: Array[Int] =
      modes.map { case "none" => 0 case "counts" => 1 case _ => 2 }
    private val orderings: Array[Ordering[Any]] = types.indices.map { i =>
      if (collect(i) == 2 && RowOrdering.isOrderable(types(i)))
        PhysicalDataType.ordering(types(i)) else null
    }.toArray
    private final class Acc(val bucket: Int) {
      var rows = 0L
      val mins, maxs = new Array[Any](types.length)
      val nulls = new Array[Long](types.length)
    }
    private val open = scala.collection.mutable.HashMap.empty[String, Acc]
    private val done = Seq.newBuilder[WrittenFile]
    private var bucket = 0

    override def newPartition(values: InternalRow): Unit = bucket = values.getInt(1)
    override def newFile(filePath: String): Unit = open(filePath) = new Acc(bucket)

    override def newRow(filePath: String, row: InternalRow): Unit = {
      val a = open(filePath)
      a.rows += 1
      var i = 0
      while (i < types.length) {
        if (collect(i) > 0) {
          if (row.isNullAt(i)) a.nulls(i) += 1
          else if (orderings(i) != null) {
            val v = row.get(i, types(i))
            if (a.mins(i) == null || orderings(i).lt(v, a.mins(i)))
              a.mins(i) = InternalRow.copyValue(v)
            if (a.maxs(i) == null || orderings(i).gt(v, a.maxs(i)))
              a.maxs(i) = InternalRow.copyValue(v)
          }
        }
        i += 1
      }
    }

    private def render(v: Any, dt: DataType): String =
      if (v == null) null
      else if (dt == TimestampType) v.toString
      else Cast(Literal(v, dt), StringType, Some(timeZone)).eval().toString

    override def closeFile(filePath: String): Unit = open.remove(filePath).foreach { a =>
      val p = new Path(filePath)
      val size = p.getFileSystem(hadoopConf.value.value).getFileStatus(p).getLen
      val bucketDir = p.getParent
      done += WrittenFile(s"${bucketDir.getParent.getName}/${bucketDir.getName}/${p.getName}",
        a.bucket, a.rows, size, types.indices.map { i =>
          dataSchema.fields(i).name -> FileStatsTracker.colStat(modes(i), types(i),
            render(a.mins(i), types(i)), render(a.maxs(i), types(i)),
            if (collect(i) == 0) -1L else a.nulls(i))
        }.toMap)
    }

    override def getFinalStats(taskCommitTime: Long): WriteTaskStats = {
      val fs = done.result()
      SparkShims.recordTaskOutput(fs.map(_.size).sum, fs.map(_.rowCount).sum)
      WrittenFiles(fs)
    }
  }

  override def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit =
    files = stats.flatMap { case WrittenFiles(fs) => fs }
}

object FileStatsTracker {
  private val TruncateMode = """truncate\((\d+)\)""".r

  /** A column's manifest stat. `truncate(N)` clips a string min to N chars
    * and a string max to N chars with its last non-U+FFFF char bumped (no
    * max if none can be), so both stay bounds, flagged inexact so min/max
    * aggregate pushdown refuses them. */
  def colStat(mode: String, dt: DataType, mn0: String, mx0: String, nc: Long): ColStat =
    mode match {
      case TruncateMode(nStr) if dt == StringType =>
        val n = nStr.toInt
        val mn = if (mn0 != null && mn0.length > n) mn0.take(n) else mn0
        val mx = if (mx0 != null && mx0.length > n) {
          val p = mx0.take(n)
          val i = p.lastIndexWhere(_ != Char.MaxValue)
          if (i < 0) null else p.substring(0, i) + (p.charAt(i) + 1).toChar
        } else mx0
        ColStat(mn, mx, nc, inexact = (mn ne mn0) || (mx ne mx0))
      case _ => ColStat(mn0, mx0, nc)
    }
}
