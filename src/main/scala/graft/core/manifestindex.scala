package graft.core

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.{PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.types.StructType

import scala.collection.mutable

/**
 * Spark file index over data files the manifest already names: no listing
 * job and no per-file stat (paimon plans splits from its manifests and
 * never lists the files they name). Each file's status is built from its
 * manifest entry — qualified path, `fileSize` (which also drives Spark's
 * `maxPartitionBytes` file splitting) and `creationTime`. Partition
 * discovery is Spark's own (`inferPartitioning` over the files' parent
 * directories), so a `basePath` option over a hive-partitioned staging
 * directory types its partition columns from `schema` exactly as
 * `InMemoryFileIndex` did; without it no partition columns appear.
 */
class ManifestFileIndex(spark: SparkSession, files: Seq[FileStatus],
                        parameters: Map[String, String], schema: Option[StructType])
    extends PartitioningAwareFileIndex(spark, parameters, schema) {

  // lazy: the superclass constructor runs before this class's fields exist
  override lazy val rootPaths: Seq[Path] = files.map(_.getPath)

  override lazy val leafFiles: mutable.LinkedHashMap[Path, FileStatus] =
    mutable.LinkedHashMap(files.map(f => f.getPath -> f): _*)

  override lazy val leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    files.toArray.groupBy(_.getPath.getParent)

  private lazy val spec = inferPartitioning()

  override def partitionSpec(): PartitionSpec = spec

  /** The file set is the manifest's: nothing to re-list. */
  override def refresh(): Unit = ()

  /** EXPLAIN names the planner that served a V1 read and its file count. */
  override def toString: String = s"ManifestFileIndex(${files.size} files)"
}

object ManifestFileIndex {
  /** Index over `entries` of table `t`, each path qualified by the
    * table's filesystem as Spark qualifies a path it is given to read (so
    * a local path keeps its `file:///` form). An entry of unknown size
    * (≤ 0, written before sizes were recorded) costs one `getFileStatus`
    * for that file only. */
  def apply(t: GraftTable, entries: Seq[ManifestEntry], parameters: Map[String, String],
            schema: StructType): ManifestFileIndex = {
    val fs = t.sm.fs
    val files = entries.map { e =>
      val p = fs.makeQualified(new Path(t.location, e.path))
      if (e.fileSize > 0) new FileStatus(e.fileSize, false, 0, 0, e.creationTime, p)
      else {
        GraftTable.legacyStatFallbacks.incrementAndGet()
        val st = fs.getFileStatus(p)
        new FileStatus(st.getLen, false, 0, 0, st.getModificationTime, p)
      }
    }
    new ManifestFileIndex(t.spark, files, parameters, Some(schema))
  }
}
