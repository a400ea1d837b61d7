package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Dump `.explain("formatted")` for headline (or named) SparkEntry queries
  * to one file per query — the plan evidence committed under plans/rNN/.
  * Session config mirrors Bench exactly so the captured plan is the plan
  * the bench times. The dedup pair pipelines (minhash, cosine near-dup)
  * run their pair set eagerly through `localCheckpoint` while the query is
  * built, so their dumped plans show the checkpoint's RDD scan: the
  * boundary execution actually crosses, not the operators that computed
  * the pairs. Usage:
  *   runMain graft.tools.PlanDump <outDir> <suffix> [name ...]
  * e.g. runMain graft.tools.PlanDump plans/r13 before
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r13")
    val suffix = args.lift(1).getOrElse("before")
    val names = args.drop(2).toSeq match {
      case Nil => graft.Bench.headline
      case xs => xs
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.dsv2.GraftSparkExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          ExplainMode.fromString("formatted"))
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
        System.err.println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
