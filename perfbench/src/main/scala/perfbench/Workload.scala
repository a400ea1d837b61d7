package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType

import graft.core.{GraftMetrics, GraftTable, SnapshotMeta}

/**
 * One closed-loop workload: one client thread that sends its next op only
 * after the previous one returned.
 *
 * The harness calls [[generate]] (untimed: seeded inputs), [[setup]]
 * several times into fresh directories (timed; the median is `setup_s`),
 * [[prepare]] (untimed: reference answers), [[warmup]], then [[step]]
 * until the run's seconds are spent, then [[finish]].
 */
abstract class Workload(val r: Run) {
  def spark = r.spark
  /** The op type whose median latency is `p50_ms`. */
  def headline: String
  /** Op types of a step with how many of each a step runs; `mix_ms` weighs
    * their median latencies by it. */
  def mix: Seq[(String, Double)]
  /** Ops run before the measured loop: JIT, codegen and cache warm-up. */
  def warmup(): Unit
  def generate(): Unit
  /** Builds the workload's tables under `dir`. */
  def setup(dir: String): Unit
  def prepare(): Unit = ()
  /** Runs one group of ops of the op mix. */
  def step(): Unit
  /** Computes the end metrics into `r.metrics`. */
  def finish(): Unit
}

/** Helpers shared by the workloads. Everything here reads state from
  * outside the program: files on disk and the public metadata API. */
object Probe {
  def dirBytes(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  /** Data files of a table directory, by relative path → size. */
  def files(root: File): Map[String, Long] = {
    val base = root.toPath
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(root).map(f => base.relativize(f.toPath).toString -> f.length()).toMap
  }

  def gauge(location: String, name: String): Double =
    GraftMetrics.forTable(location).rows.find(_._1 == name).map(_._3).getOrElse(0.0)

  def latest(t: GraftTable): SnapshotMeta = t.sm.latestSnapshot.get

  /** Most sorted runs in any bucket: level-0 files each count as a run,
    * all files of one higher level as one. */
  def sortedRunsMax(t: GraftTable): Int = {
    val live = t.sm.liveEntries(latest(t))
    if (live.isEmpty) 0
    else live.groupBy(e => (e.partition, e.bucket)).values.map { es =>
      es.count(_.level == 0) + es.filter(_.level > 0).map(_.level).distinct.size
    }.max
  }

  /** A client-side batch: a local relation, as `createDataFrame` makes it. */
  def localDf(r: Run, rows: Seq[Row], schema: StructType): DataFrame =
    r.spark.createDataFrame(rows.asJava, schema)

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
}
