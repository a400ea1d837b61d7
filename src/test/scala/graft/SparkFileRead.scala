package graft

import graft.core.GraftTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType

/** Spark's own file-source read of a table's data files: `spark.read` with
  * the explicit schema and the table's format options, whose
  * `InMemoryFileIndex` lists (and stats) the paths it is given. This is
  * how `GraftTable.readDataFiles` read before it planned from the
  * manifest; tests keep it as the oracle of the manifest-planned read and
  * to read back a write's staging directory. */
object SparkFileRead {
  def load(t: GraftTable, sch: StructType, paths: Seq[String],
           basePath: Option[String] = None): DataFrame = {
    val r = t.spark.read.schema(sch).options(t.fmtOptions)
    basePath.foreach(b => r.option("basePath", b))
    r.format(t.formatProvider).load(paths: _*)
  }
}
