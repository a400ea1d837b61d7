package perfbench

import java.io.File
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** A metric value with its unit and the number of samples behind it. */
final case class Metric(value: Double, unit: String, n: Int)

/** State shared by a workload and the harness for one run. */
final class Run(val spark: SparkSession, val workload: String, val seed: Long,
                val workDir: File, val tracer: Tracer) {
  /** Op latencies by op type, ms; only ops of the measured loop. */
  val latency = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0
  var failed = 0
  /** False once any op, measured or warm-up, failed or answered wrongly. */
  var correct = true
  val errors = mutable.ArrayBuffer.empty[String]
  var measuring = false
  /** End of the measured window; ops are not started after it. */
  var deadlineNs = Long.MaxValue
  def timeUp: Boolean = measuring && System.nanoTime() >= deadlineNs
  /** Input description: sizes and a digest of every generated input. */
  val inputs = mutable.LinkedHashMap.empty[String, Any]
  private val digest = MessageDigest.getInstance("SHA-256")
  /** Named end-to-end metrics of the workload. */
  val metrics = mutable.LinkedHashMap.empty[String, Metric]
  /** Facts about the state set-up left (file and snapshot counts). */
  val setupState = mutable.LinkedHashMap.empty[String, Any]

  def path(name: String): String = new File(workDir, name).getAbsolutePath

  def digestUpdate(s: String): Unit =
    digest.update(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  def inputDigest: String = digest.clone().asInstanceOf[MessageDigest].digest()
    .map(b => f"${b & 0xff}%02x").mkString

  /** Runs the timed part of one op and returns its value and wall ms. */
  def timed[T](opType: String, opId: Int)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = tracer.op(opType, opId)(body)
    val ms = (System.nanoTime() - t0) / 1e6
    if (measuring) {
      latency.getOrElseUpdate(opType, mutable.ArrayBuffer.empty) += ms
      tracer.recordOp(opType, tracer.lastOpTraced, ms)
    }
    (v, ms)
  }

  /** Runs one op; an exception or a failed check counts it as failed. */
  def attempt(body: => Unit): Unit = {
    if (timeUp) return
    if (measuring) attempted += 1
    try body
    catch {
      case e: Exception =>
        if (measuring) failed += 1
        correct = false
        if (errors.size < 5) errors += s"${e.getClass.getSimpleName}: ${e.getMessage}".take(2000)
    }
  }

  /** A failed correctness check fails the op. */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) throw new CheckFailed(what)

  def put(name: String, value: Double, unit: String, n: Int): Unit =
    metrics(name) = Metric(value, unit, n)

  /** `<prefix>_tail_ms` and the percentile it is, per [[Stats.tailPercentile]]. */
  def putTail(prefix: String, xs: Seq[Double]): Unit = {
    val p = Stats.tailPercentile(xs.size)
    put(s"${prefix}_tail_ms", Stats.quantile(xs, p), "ms", xs.size)
    put(s"${prefix}_tail_pct", 100 * p, "%", xs.size)
  }
}

final class CheckFailed(msg: String) extends RuntimeException(msg)

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest of p50/p90/p95/p99 that has at least ten samples beyond
    * it; the p50 when the sample is too small for any. */
  def tailPercentile(n: Int): Double =
    Seq(0.99, 0.95, 0.9, 0.5).find(p => n * (1 - p) >= 10).getOrElse(0.5)

  /** Expected latency per op of a mix: each op type's median latency
    * weighted by how often the mix schedules that type. Robust to which ops
    * happened to fall inside the measured window. */
  def mixMs(mix: Seq[(String, Double)], latency: String => Seq[Double]): Double = {
    val seen = mix.filter(m => latency(m._1).nonEmpty)
    seen.map { case (t, w) => median(latency(t)) * w }.sum / seen.map(_._2).sum
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
