package perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Turns a run into its artifact, its text report and its one-line result. */
object Report {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  /** End-to-end metrics every workload reports: name → (unit, meaning). */
  val EndToEnd: Seq[(String, String, String)] = Seq(
    ("setup_s", "s", "JVM and session start plus the median of the set-ups"),
    ("p50_ms", "ms", "median latency of the workload's headline op"),
    ("mix_ms", "ms", "median latency per op type, weighted by the op mix"),
    ("space_amp", "ratio", "bytes under the table dirs / stored rows as one parquet file"),
    ("recall", "ratio", "share of the reference answer returned"))

  /** Per-layer metrics: name → (unit, what it should move, on which workloads). */
  val PerLayer: Seq[(String, String, String)] = Seq(
    ("core.meta.commit_ms", "ms", "write_p50_ms on ingest_mor"),
    ("core.meta.commit_attempts", "count", "write_p50_ms on ingest_mor"),
    ("core.meta.load_ms", "ms", "read_p50_ms on ingest_mor and search_dedup"),
    ("core.meta.fold_ms", "ms", "read_p50_ms on ingest_mor and search_dedup"),
    ("core.meta.manifests", "count", "read_p50_ms on ingest_mor and search_dedup"),
    ("core.table.write_ms", "ms", "write_p50_ms on ingest_mor"),
    ("core.table.files_per_commit", "count", "write_p50_ms on ingest_mor"),
    ("core.table.plan_ms", "ms", "read_p50_ms on search_dedup (IVF probe pruning) and ingest_mor lookups"),
    ("core.table.files_planned", "count", "read_p50_ms on search_dedup (IVF probe pruning) and ingest_mor lookups"),
    ("core.table.files_skipped_ratio", "ratio", "read_p50_ms on search_dedup (IVF probe pruning) and ingest_mor lookups"),
    ("core.table.read_build_ms", "ms", "read_p50_ms on search_dedup and ingest_mor"),
    ("core.table.exec_ms", "ms", "read_p50_ms on search_dedup and ingest_mor"),
    ("core.table.sorted_runs_max", "count", "read_p50_ms on ingest_mor"),
    ("core.table.merge_amp", "ratio", "read_p50_ms on ingest_mor; not search_dedup"),
    ("core.rowops.compact_ms", "ms", "compact_p50_ms and write_rows_per_s on ingest_mor"),
    ("core.rowops.compact_files_in", "count", "compact_p50_ms and write_rows_per_s on ingest_mor"),
    ("core.rowops.compact_files_out", "count", "compact_p50_ms and write_rows_per_s on ingest_mor"),
    ("core.rowops.bytes_rewritten", "bytes", "compact_p50_ms and write_rows_per_s on ingest_mor"),
    ("dsv2.plan_ms", "ms", "read_p50_ms (DSv2 aggregates) on ingest_mor"),
    ("dsv2.exec_ms", "ms", "read_p50_ms (DSv2 aggregates) on ingest_mor"),
    ("pipeline.ivf_model_load_ms", "ms", "read_p50_ms on search_dedup"),
    ("pipeline.ivf_files_probed", "count", "read_p50_ms on search_dedup"),
    ("pipeline.ft_terms_df", "count", "read_p50_ms on search_dedup"),
    ("pipeline.search_build_ms", "ms", "read_p50_ms on search_dedup"),
    ("pipeline.ivf_build_ms", "ms", "setup_s on search_dedup"),
    ("pipeline.ft_build_ms", "ms", "setup_s on search_dedup"),
    ("pipeline.minhash_ms", "ms", "docs_per_s on search_dedup"),
    ("pipeline.cc_ms", "ms", "docs_per_s on search_dedup"),
    ("pipeline.pairs", "count", "docs_per_s on search_dedup"),
    ("spark.jobs", "count", "read_p50_ms on search_dedup and ingest_mor"),
    ("spark.stages", "count", "read_p50_ms on search_dedup and ingest_mor"),
    ("spark.tasks", "count", "read_p50_ms on search_dedup and ingest_mor"),
    ("spark.listing_jobs", "count", "read_p50_ms on search_dedup and ingest_mor"),
    ("spark.driver_ms", "ms", "read_p50_ms on search_dedup and ingest_mor"),
    ("spark.shuffle_read_bytes", "bytes", "docs_per_s on search_dedup"),
    ("spark.shuffle_write_bytes", "bytes", "docs_per_s on search_dedup"),
    ("spark.spill_bytes", "bytes", "docs_per_s on search_dedup"),
    ("spark.executor_run_ms", "ms", "docs_per_s on search_dedup"),
    ("spark.executor_cpu_ms", "ms", "docs_per_s on search_dedup"),
    ("spark.sched_delay_ms", "ms", "docs_per_s on search_dedup"),
    ("spark.input_bytes", "bytes", "read_p50_ms and write_p50_ms"),
    ("spark.input_records", "count", "read_p50_ms and write_p50_ms"),
    ("spark.output_bytes", "bytes", "read_p50_ms and write_p50_ms"),
    ("storage.write_amp", "ratio", "write_rows_per_s and space_amp on ingest_mor"),
    ("storage.live_files", "count", "write_rows_per_s and space_amp on ingest_mor"),
    ("storage.manifest_bytes", "bytes", "write_rows_per_s and space_amp on ingest_mor"),
    ("trace.overhead_pct", "%", "none: traced minus untraced op latency"))

  /** Per-layer numbers: by op type, flattened over the measured ops, and
    * the tracing overhead by op type and end-to-end metric. */
  final case class Layers(byType: Map[String, Map[String, Double]],
                          flat: Map[String, Double],
                          overhead: Map[String, Map[String, Double]])

  def layers(run: Run, w: Workload): Layers = {
    val tr = run.tracer
    // (op type, metric) → values; span metrics carry (total, calls)
    val spanSums = mutable.Map.empty[(String, String), (Double, Int)]
    tr.selfTimes.foreach { case ((ty, layer), v) =>
      if (layer != "op") spanSums((ty, s"${layer}_ms")) = v }
    val values = mutable.Map.empty[(String, String), mutable.ArrayBuffer[Double]]
    def add(ty: String, m: String, v: Double): Unit =
      values.getOrElseUpdate((ty, m), mutable.ArrayBuffer.empty) += v
    tr.counts.foreach { case ((ty, m), vs) => vs.foreach(add(ty, m, _)) }
    tr.listener.foreach { l =>
      org.apache.spark.perfbench.ListenerBus.drain(run.spark.sparkContext)
      l.synchronized {
        val byGroup = l.jobs.values.groupBy(_.group)
        tr.opWall.foreach { case (id, (ty, w0, w1)) =>
          val g = s"op-$id"
          val js = byGroup.getOrElse(g, Nil).toSeq
          add(ty, "spark.jobs", js.size)
          add(ty, "spark.stages", l.stages(g))
          add(ty, "spark.listing_jobs", js.count(_.desc.contains("Listing leaf files")))
          val busy = Tracer.unionNs(js.map(j => (math.max(j.start, w0), math.min(j.end, w1)))
            .filter(p => p._2 > p._1))
          add(ty, "spark.driver_ms", (w1 - w0 - busy).toDouble)
          val t = l.tasks.getOrElse(g, new Array[Long](OpListener.TaskKeys.size))
          OpListener.TaskKeys.zip(t).foreach { case (k, v) => add(ty, k, v.toDouble) }
        }
      }
    }
    val types = (spanSums.keys.map(_._1) ++ values.keys.map(_._1)).toSeq.distinct.sorted
    val byType = types.map { ty =>
      ty -> (spanSums.collect { case ((t, m), (tot, n)) if t == ty => m -> tot / n } ++
        values.collect { case ((t, m), vs) if t == ty => m -> Stats.mean(vs.toSeq) }).toMap
    }.toMap
    // flat value: pooled over the measured op types; set-up only for the
    // metrics that exist only there (index builds)
    def pooled(metric: String, measured: Boolean): Option[Double] = {
      def keep(ty: String) = (ty != "setup") == measured
      val sp = spanSums.collect { case ((t, m), v) if m == metric && keep(t) => v }
      val vs = values.collect { case ((t, m), v) if m == metric && keep(t) => v }.flatten
      if (sp.nonEmpty) Some(sp.map(_._1).sum / sp.map(_._2).sum)
      else if (vs.nonEmpty) Some(Stats.mean(vs.toSeq))
      else None
    }
    // tracing overhead: the same statistics over the traced and the
    // untraced ops of this run
    def lat(traced: Boolean)(t: String): Seq[Double] = tr.opMs.getOrElse((t, traced), Nil).toSeq
    def stat(name: String, f: (String => Seq[Double]) => Double): (String, Map[String, Double]) = {
      val (a, b) = (f(lat(true)), f(lat(false)))
      name -> Map("traced_ms" -> a, "untraced_ms" -> b, "overhead_ms" -> (a - b),
        "overhead_pct" -> 100.0 * (a - b) / b)
    }
    val both = w.mix.filter(m => lat(true)(m._1).nonEmpty && lat(false)(m._1).nonEmpty)
    val overhead = (both.map { case (t, _) => stat(s"$t p50", l => Stats.median(l(t))) } ++
      both.find(_._1 == w.headline).map(_ => stat("p50_ms", l => Stats.median(l(w.headline)))) ++
      (if (both.isEmpty) None else Some(stat("mix_ms", l => Stats.mixMs(both, l))))).toMap
    val ovPct = overhead.get("mix_ms").map(_("overhead_pct")).getOrElse(0.0)
    val flat = PerLayer.map(_._1).map { m =>
      m -> (if (m == "trace.overhead_pct") ovPct
            else pooled(m, measured = true).orElse(pooled(m, measured = false)).getOrElse(0.0))
    }.toMap
    Layers(byType, flat, overhead)
  }

  def artifact(run: Run, opts: Map[String, String], timings: Map[String, Any],
               layers: Layers, errors: Seq[String]): String = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val conf = run.spark.conf
    val host = Map(
      "nproc" -> cpus, "master" -> run.spark.sparkContext.master,
      "shuffle_partitions" -> conf.get("spark.sql.shuffle.partitions"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
      "spark_version" -> run.spark.version,
      "java_version" -> System.getProperty("java.version"),
      "os" -> s"${System.getProperty("os.name")} ${System.getProperty("os.version")}",
      "flush_policy" -> ("Hadoop LocalFileSystem, no fsync: writes end in the OS " +
        "page cache, so latencies are not a storage device's"))
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> run.workload, "seed" -> run.seed, "options" -> opts,
      "host" -> host, "inputs" -> (run.inputs.toMap + ("digest" -> run.inputDigest)),
      "setup_state" -> run.setupState.toMap, "timings" -> timings,
      "attempted" -> run.attempted, "failed" -> run.failed,
      "metrics" -> run.metrics.map { case (k, m) =>
        k -> Map("value" -> m.value, "unit" -> m.unit, "n" -> m.n) }.toMap,
      "latencies_ms" -> run.latency.map { case (k, v) =>
        k -> v.map(x => math.round(x * 10) / 10.0).toSeq }.toMap,
      "errors" -> errors)
    if (run.tracer.enabled) {
      out("layers_by_op_type") = layers.byType
      out("layers") = layers.flat
      out("tracing_overhead") = layers.overhead
      out("layer_moves") = PerLayer.map { case (m, _, moves) => m -> moves }.toMap
    }
    json.writerWithDefaultPrettyPrinter().writeValueAsString(out)
  }

  def text(run: Run, layers: Layers): String = {
    val sb = new StringBuilder
    sb ++= s"== perfbench ${run.workload} seed=${run.seed} inputs=${run.inputDigest.take(16)}\n"
    run.inputs.foreach { case (k, v) => sb ++= f"  input  $k%-28s $v\n" }
    run.setupState.foreach { case (k, v) => sb ++= f"  setup  $k%-28s $v\n" }
    run.metrics.foreach { case (k, m) =>
      sb ++= f"  metric $k%-28s ${m.value}%.4f ${m.unit} (n=${m.n})\n" }
    layers.byType.toSeq.sortBy(_._1).foreach { case (ty, ms) =>
      ms.toSeq.sortBy(_._1).foreach { case (m, v) =>
        sb ++= f"  layer  $ty%-10s $m%-34s $v%.3f\n" }
    }
    layers.overhead.toSeq.sortBy(_._1).foreach { case (k, m) =>
      sb ++= f"  trace  $k%-16s overhead ${m("overhead_ms")}%.1f ms (${m("overhead_pct")}%.1f%%) " +
        f"traced ${m("traced_ms")}%.1f untraced ${m("untraced_ms")}%.1f\n"
    }
    sb.toString.stripSuffix("\n")
  }

  def result(run: Run, correct: Boolean, trace: Boolean, layers: Layers): String = {
    val metrics =
      if (trace) PerLayer.map { case (m, unit, _) =>
        m -> Map("value" -> layers.flat(m), "unit" -> unit) }
      else EndToEnd.map { case (m, unit, _) =>
        m -> Map("value" -> run.metrics.get(m).map(_.value).getOrElse(Double.NaN), "unit" -> unit) }
    json.writeValueAsString(mutable.LinkedHashMap(
      "correct" -> correct, "attempted" -> run.attempted, "failed" -> run.failed,
      "metrics" -> mutable.LinkedHashMap(metrics: _*)))
  }
}
