package perfbench

import java.util.Properties

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval around a call into a layer (or around a whole op). */
final case class Span(id: Int, parent: Int, op: Int, opType: String,
                      layer: String, startNs: Long, endNs: Long)

/**
 * Spans, per-op counts and the Spark listener of a traced run.
 *
 * Ops alternate per op type between traced and untraced (the k-th op of a
 * type is traced when k is odd), so one run yields both the per-layer
 * numbers and the tracing overhead on the same warm JVM and table state.
 * Spans stay in memory and are folded into the report when the run ends.
 * With tracing off nothing is recorded and no listener is registered.
 */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 0
  private val perType = mutable.Map.empty[String, Int]
  /** Whether the op now running records spans. */
  private var active = false
  private var curOp = -1
  private var curType = ""
  /** Whether the last op run through [[op]] recorded spans. */
  var lastOpTraced = false

  /** (op type, metric) → values recorded outside the op spans. */
  val counts = mutable.LinkedHashMap.empty[(String, String), mutable.ArrayBuffer[Double]]
  /** Op latencies split by whether the op was traced: (op type, traced) → ms. */
  val opMs = mutable.LinkedHashMap.empty[(String, Boolean), mutable.ArrayBuffer[Double]]
  /** op id → (op type, wall start ms, wall end ms) of the traced ops. */
  val opWall = mutable.LinkedHashMap.empty[Int, (String, Long, Long)]

  val listener: Option[OpListener] =
    if (enabled) { val l = new OpListener; sc.addSparkListener(l); Some(l) } else None

  /** Runs one op as the root span of its layer spans. */
  def op[T](opType: String, opId: Int)(body: => T): T = {
    val k = perType.getOrElse(opType, 0)
    perType(opType) = k + 1
    active = enabled && k % 2 == 1
    lastOpTraced = active
    curOp = opId; curType = opType
    if (active) sc.setJobGroup(s"op-$opId", opType, interruptOnCancel = false)
    val w0 = System.currentTimeMillis()
    try span("op")(body)
    finally {
      val w1 = System.currentTimeMillis()
      if (active) {
        sc.clearJobGroup()
        opWall(opId) = (opType, w0, w1)
      }
      active = false
    }
  }

  def span[T](layer: String)(body: => T): T = {
    if (!active) return body
    val parent = stack.headOption.map(_.id).getOrElse(-1)
    val s = Span(nextId, parent, curOp, curType, layer, System.nanoTime(), 0L)
    nextId += 1
    stack = s :: stack
    try body
    finally {
      stack = stack.tail
      spans += s.copy(endNs = System.nanoTime())
    }
  }

  /** Records a per-layer count for a traced op that just ran. Callers take
    * these outside the op span so the extra calls a count needs do not
    * inflate the op's time. */
  def count(opType: String, metric: String, v: Double): Unit =
    counts.getOrElseUpdate((opType, metric), mutable.ArrayBuffer.empty) += v

  def recordOp(opType: String, traced: Boolean, ms: Double): Unit =
    opMs.getOrElseUpdate((opType, traced), mutable.ArrayBuffer.empty) += ms

  /** Self time per (op type, layer): each span's duration minus the part of
    * it that its child spans cover. Returns per key (total ms, calls). */
  def selfTimes: Map[(String, String), (Double, Int)] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(s => (s.opType, s.layer)).map { case (key, ss) =>
      val total = ss.map { s =>
        val covered = Tracer.unionNs(children.getOrElse(s.id, Nil)
          .map(c => (c.startNs, c.endNs)).toSeq)
        (s.endNs - s.startNs - covered) / 1e6
      }.sum
      key -> (total, ss.size)
    }
  }
}

object Tracer {
  /** Length of the union of half-open intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Spark listener that attributes jobs, stages and task metrics to the op
  * whose job group submitted them. */
final class OpListener extends SparkListener {
  final class JobRec(val group: String, val desc: String, val start: Long) {
    var end: Long = start
  }
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageGroup = mutable.Map.empty[Int, String]
  /** group → stages that ran (skipped stages are not submitted). */
  val stages = mutable.Map.empty[String, Int].withDefaultValue(0)
  /** group → task metric sums, keyed by [[OpListener.TaskKeys]]. */
  val tasks = mutable.Map.empty[String, Array[Long]]

  private def group(p: Properties): Option[String] =
    Option(p).flatMap(pp => Option(pp.getProperty("spark.jobGroup.id")))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    group(e.properties).foreach { g =>
      val desc = Option(e.properties.getProperty("spark.job.description"))
        .getOrElse(e.stageInfos.headOption.map(_.name).getOrElse(""))
      jobs(e.jobId) = new JobRec(g, desc, e.time)
      e.stageIds.foreach(stageGroup(_) = g)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(g => stages(g) += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val a = tasks.getOrElseUpdate(g, new Array[Long](OpListener.TaskKeys.size))
      val m = e.taskMetrics
      val info = e.taskInfo
      a(0) += 1
      if (m != null) {
        a(1) += m.shuffleReadMetrics.totalBytesRead
        a(2) += m.shuffleWriteMetrics.bytesWritten
        a(3) += m.memoryBytesSpilled + m.diskBytesSpilled
        a(4) += m.executorRunTime
        a(5) += m.executorCpuTime / 1000000L
        a(6) += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        a(7) += m.inputMetrics.bytesRead
        a(8) += m.inputMetrics.recordsRead
        a(9) += m.outputMetrics.bytesWritten
      }
    }
  }
}

object OpListener {
  val TaskKeys: Seq[String] = Seq("spark.tasks", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.executor_run_ms",
    "spark.executor_cpu_ms", "spark.sched_delay_ms", "spark.input_bytes",
    "spark.input_records", "spark.output_bytes")
}
