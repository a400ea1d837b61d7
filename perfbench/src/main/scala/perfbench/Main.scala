package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/**
 * Benchmark entry point: one workload, one seed, one run.
 *
 *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
 *     --work <dir> --out <artifact.json>
 *
 * Prints a report, then as its last stdout line one JSON object
 * {correct, attempted, failed, metrics}: the end-to-end metrics with
 * `--trace 0`, the per-layer metrics with `--trace 1`. Exits 1 when any
 * op failed or returned a wrong answer.
 */
object Main {
  /** Set-ups per run; `setup_s` takes their median, the last one is measured. */
  val SetupReps = 3

  val Workloads: Map[String, Run => Workload] = Map(
    "ingest_mor" -> (new IngestMor(_)),
    "search_dedup" -> (new SearchDedup(_)))

  def main(args: Array[String]): Unit =
    try runOnce(args)
    catch {
      case e: Throwable =>
        // no result line: the run could not complete
        e.printStackTrace()
        sys.exit(2)
    }

  private def runOnce(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val make = Workloads.getOrElse(name,
      throw new IllegalArgumentException(s"unknown workload $name (${Workloads.keys.mkString(", ")})"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = new File(opts("work"))
    val cpus = Runtime.getRuntime.availableProcessors()
    work.mkdirs()

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.datetime.java8API.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.dsv2.GraftSparkExtensions")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "hadoop-tmp").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0

    val tracer = new Tracer(trace, spark.sparkContext)
    val run = new Run(spark, name, seed, work, tracer)
    val w = make(run)
    val t0 = System.nanoTime()
    w.generate()
    val genS = (System.nanoTime() - t0) / 1e9
    val setupTimes = (0 until SetupReps).map { rep =>
      val dir = run.path(s"table-$rep")
      val s0 = System.nanoTime()
      tracer.op("setup", -1 - rep)(w.setup(dir))
      val s = (System.nanoTime() - s0) / 1e9
      if (rep < SetupReps - 1) deleteTree(new File(dir))
      s
    }
    val setupS = sessionS + Stats.median(setupTimes)
    val p0 = System.nanoTime()
    w.prepare()
    w.warmup()
    val prepS = (System.nanoTime() - p0) / 1e9

    run.measuring = true
    val cpu0 = cpuTimes()
    val m0 = System.nanoTime()
    run.deadlineNs = m0 + (seconds * 1e9).toLong
    while (!run.timeUp) w.step()
    val measuredS = (System.nanoTime() - m0) / 1e9
    val cpu1 = cpuTimes()
    // share of CPU time the hypervisor gave to others while measuring
    val stealPct = if (cpu0.isEmpty || cpu1.isEmpty) -1.0 else {
      val d = cpu1.zip(cpu0).map { case (a, b) => a - b }
      100.0 * d(7) / math.max(1L, d.sum)
    }
    run.measuring = false
    try {
      w.finish()
      def lat(t: String) = run.latency.getOrElse(t, Nil).toSeq
      run.put("p50_ms", Stats.median(lat(w.headline)), "ms", lat(w.headline).size)
      run.put("mix_ms", Stats.mixMs(w.mix, lat), "ms", w.mix.map(m => lat(m._1).size).sum)
    } catch { case e: Exception => run.correct = false; run.errors += s"finish: ${e.getMessage}" }
    run.put("setup_s", setupS, "s", setupTimes.size)
    run.put("failed_ratio", run.failed.toDouble / math.max(1, run.attempted), "ratio", run.attempted)

    val layers = if (trace) Report.layers(run, w) else Report.Layers(Map.empty, Map.empty, Map.empty)
    val artifact = Report.artifact(run, opts, Map(
      "jvm_session_s" -> sessionS, "setup_reps_s" -> setupTimes,
      "generate_s" -> genS, "reference_and_warmup_s" -> prepS,
      "measured_s" -> measuredS, "cpu_steal_pct" -> stealPct), layers, run.errors.toSeq)
    opts.get("out").foreach(p => Files.writeString(new File(p).toPath, artifact))
    println(Report.text(run, layers))
    val result = Report.result(run, run.correct, trace, layers)
    spark.stop()
    println(result)
    if (!run.correct) {
      run.errors.foreach(e => System.err.println(s"[perfbench] $e"))
      sys.exit(1)
    }
  }

  /** Aggregate CPU jiffies from /proc/stat (user .. steal), if readable. */
  private def cpuTimes(): Seq[Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().split("\\s+").drop(1).take(8).map(_.toLong).toSeq
      finally src.close()
    } catch { case _: Exception => Nil }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}
