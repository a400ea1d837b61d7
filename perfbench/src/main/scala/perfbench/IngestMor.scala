package perfbench

import java.io.File
import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{GraftTable, TableConfig}
import graft.core.RowOps._

/**
 * ingest_mor: upserts into a primary-key table with point lookups, merged
 * aggregates and a compaction every 8th upsert. The only workload with
 * commits, merge-on-read and compaction; its writes sit beside its reads, so
 * a change that speeds reads at a cost in writes or space shows here.
 *
 * Reference: a plain-Scala key → latest-row map, checked at every lookup
 * and aggregate.
 */
final class IngestMor(r: Run) extends Workload(r) {
  import IngestMor._

  private val base = mutable.ArrayBuffer.empty[Order]
  private val batches = mutable.ArrayBuffer.empty[Array[Order]]
  private val model = mutable.HashMap.empty[Long, Order]
  private var loc = ""
  private var upserts = 0
  private var measuredUpserts = 0
  private var rowsUpserted = 0L
  private var opId = 0
  private var nextKey = 0L
  private var hotKeys: Array[Long] = Array.empty
  // storage accounting (traced runs): every file ever seen under the table
  private val seenFiles = mutable.Map.empty[String, Long]
  private var bytesWritten = 0L
  /** (bytes under the table dir, live keys) right after each measured compaction. */
  private val spaceAfterCompact = mutable.ArrayBuffer.empty[(Double, Int)]

  def generate(): Unit = {
    val g = Gen.rng(r.seed, 1)
    val vocab = Gen.vocabulary(r.seed, 2000)
    val zw = new Gen.Zipf(vocab.length, 1.0)
    def order(key: Long, rr: java.util.SplittableRandom): Order = Order(key,
      1 + rr.nextInt(15000).toLong, Statuses(rr.nextInt(3)),
      (90000 + rr.nextInt(50000000)) / 100.0,
      LocalDate.of(1992, 1, 1).plusDays(rr.nextInt(2405)),
      Priorities(rr.nextInt(5)), "Clerk#00000" + (1000 + rr.nextInt(1000)), 0,
      Gen.words(rr, vocab, zw, 3 + rr.nextInt(6)))
    (0 until BaseRows).foreach(i => base += order(4L * i + 1, g))
    nextKey = 4L * BaseRows + 1
    // hot keys: Zipf ranks land on a seeded permutation of the base keys
    hotKeys = Gen.permutation(g, BaseRows).map(i => base(i).key)
    val zk = new Gen.Zipf(BaseRows, 0.99)
    (0 until BatchPool).foreach { b =>
      val br = Gen.rng(r.seed, 1000 + b)
      val keys = mutable.LinkedHashSet.empty[Long]
      while (keys.size < BatchRows * 4 / 5) keys += hotKeys(zk.sample(br))
      val fresh = (0 until BatchRows - keys.size).map { _ => val k = nextKey; nextKey += 4; k }
      batches += (keys.toSeq ++ fresh).map(k => order(k, br)).toArray
    }
    (base.iterator ++ batches.iterator.flatten).foreach(o => r.digestUpdate(o.toString))
    Probe.localDf(r, base.map(_.row).toSeq, Schema).coalesce(1)
      .write.parquet(r.path("input/orders"))
    r.inputs ++= Seq("base_rows" -> BaseRows, "batch_rows" -> BatchRows,
      "batches" -> BatchPool, "update_share" -> 0.8, "zipf_s" -> 0.99,
      "input_bytes" -> Probe.dirBytes(new File(r.path("input/orders"))))
    base.foreach(o => model(o.key) = o)
  }

  def setup(dir: String): Unit = {
    loc = dir
    val src = spark.read.parquet(r.path("input/orders"))
    val t = GraftTable.create(spark, dir, Schema, TableConfig(
      primaryKeys = Seq("o_orderkey"), numBuckets = 4,
      mergeEngine = "deduplicate",
      options = Map("snapshot.num-retained.max" -> "10")))
    r.tracer.span("core.table.write")(t.write(src))
  }

  override def prepare(): Unit = {
    val t = GraftTable.load(spark, loc)
    r.setupState ++= Seq("live_files" -> t.sm.liveEntries(Probe.latest(t)).size,
      "snapshots" -> t.sm.snapshotIds.size,
      "table_bytes" -> Probe.dirBytes(new File(loc)))
    seenFiles ++= Probe.files(new File(loc))
  }

  private def nextOp(): Int = { opId += 1; opId }

  // reference values returned by the measured reads, and expected
  private var refHits = 0L
  private var refTotal = 0L
  private def countRef(hits: Int, total: Int): Unit =
    if (r.measuring) { refHits += hits; refTotal += total }

  def headline: String = "upsert"
  def mix: Seq[(String, Double)] =
    Seq("upsert" -> 1.0, "lookup" -> 1.0, "aggregate" -> 0.25, "compact" -> 0.125)

  /** Three upserts and lookups, an aggregate and a compaction: the write
    * and lookup paths take about three calls to reach steady speed. */
  def warmup(): Unit =
    Seq(upsert _, lookup _, upsert _, lookup _, aggregate _, upsert _, lookup _, compact _)
      .foreach(op => r.attempt(op()))

  /** An upsert and a lookup; an aggregate every 4th upsert and a
    * compaction every 8th, the first one 4 upserts into the loop. */
  def step(): Unit = {
    measuredUpserts += 1
    r.attempt(upsert())
    r.attempt(lookup())
    if (measuredUpserts % 4 == 2) r.attempt(aggregate())
    if (measuredUpserts % 8 == 4) r.attempt(compact())
  }

  private def upsert(): Unit = {
    val batch = batches(upserts % BatchPool)
    val df = Probe.localDf(r, batch.map(_.row).toSeq, Schema)
    r.timed("upsert", nextOp()) {
      val t = r.tracer.span("core.meta.load")(GraftTable.load(spark, loc))
      r.tracer.span("core.table.write")(t.write(df))
    }
    batch.foreach(o => model(o.key) = o)
    upserts += 1
    if (r.measuring) rowsUpserted += batch.length
    if (r.tracer.lastOpTraced) {
      r.tracer.count("upsert", "core.meta.commit_ms", Probe.gauge(loc, "lastCommitDuration"))
      r.tracer.count("upsert", "core.meta.commit_attempts", Probe.gauge(loc, "lastCommitAttempts"))
      r.tracer.count("upsert", "core.table.files_per_commit", Probe.gauge(loc, "lastTableFilesAdded"))
      storageCounts("upsert")
    }
  }

  private def lookup(): Unit = {
    val batch = batches((upserts - 1) % BatchPool)
    val key = batch(Gen.rng(r.seed, 50000 + upserts).nextInt(batch.length)).key
    val filter = col("o_orderkey") === key
    val (rows, _) = r.timed("lookup", nextOp()) {
      val t = r.tracer.span("core.meta.load")(GraftTable.load(spark, loc))
      val df = r.tracer.span("core.table.read_build")(t.read(Some(filter)))
      r.tracer.span("core.table.exec")(df.collect())
    }
    countRef(rows.count(x => Order.of(x) == model(key)), 1)
    r.check(rows.length == 1 && Order.of(rows.head) == model(key),
      s"lookup $key: got ${rows.map(Order.of).mkString(",")}, want ${model(key)}")
    if (r.tracer.lastOpTraced) readCounts("lookup", Some(filter))
  }

  private def aggregate(): Unit = {
    val (rows, _) = r.timed("aggregate", nextOp()) {
      val df = spark.read.format("graft").load(loc)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum("o_totalprice").as("total"))
      r.tracer.span("dsv2.plan")(df.queryExecution.executedPlan)
      r.tracer.span("dsv2.exec")(df.collect())
    }
    val got = rows.map(x => x.getString(0) -> (x.getLong(1), x.getDouble(2))).toMap
    val want = model.values.groupBy(_.status).map { case (s, os) =>
      s -> (os.size.toLong, os.iterator.map(_.price).sum) }
    countRef(want.count { case (s, (n, tot)) => got.get(s).exists(g =>
      g._1 == n && math.abs(g._2 - tot) <= 1e-9 * math.abs(tot)) }, want.size)
    r.check(got.keySet == want.keySet && want.forall { case (s, (n, tot)) =>
      got(s)._1 == n && math.abs(got(s)._2 - tot) <= 1e-9 * math.abs(tot) },
      s"aggregate: got $got, want $want")
    if (r.tracer.lastOpTraced) readCounts("aggregate", None)
  }

  private def compact(): Unit = {
    val filesBefore = if (r.tracer.enabled) {
      val t = GraftTable.load(spark, loc); t.sm.liveEntries(Probe.latest(t)).size
    } else 0
    r.timed("compact", nextOp()) {
      val t = r.tracer.span("core.meta.load")(GraftTable.load(spark, loc))
      r.tracer.span("core.rowops.compact")(t.compact())
    }
    val t = GraftTable.load(spark, loc)
    if (r.measuring) spaceAfterCompact += ((Probe.dirBytes(new File(loc)).toDouble, model.size))
    if (r.tracer.lastOpTraced) {
      val live = t.sm.liveEntries(Probe.latest(t))
      r.tracer.count("compact", "core.rowops.compact_files_in", filesBefore)
      r.tracer.count("compact", "core.rowops.compact_files_out", live.size)
      r.tracer.count("compact", "core.rowops.bytes_rewritten", live.map(_.fileSize).sum.toDouble)
      storageCounts("compact")
    }
  }

  /** Metadata and planning counts for a read, taken outside its op span. */
  private def readCounts(opType: String, filter: Option[org.apache.spark.sql.Column]): Unit = {
    val c = r.tracer
    val t = GraftTable.load(spark, loc)
    val snap = Probe.latest(t)
    val t1 = System.nanoTime()
    val live = t.sm.liveEntries(snap)
    c.count(opType, "core.meta.fold_ms", Probe.ms(t1))
    c.count(opType, "core.meta.manifests", snap.manifests.size)
    val t2 = System.nanoTime()
    val planned = t.planFiles(filter = filter)
    c.count(opType, "core.table.plan_ms", Probe.ms(t2))
    c.count(opType, "core.table.files_planned", planned.size)
    c.count(opType, "core.table.files_skipped_ratio",
      if (live.isEmpty) 0.0 else 1.0 - planned.size.toDouble / live.size)
    c.count(opType, "core.table.sorted_runs_max", Probe.sortedRunsMax(t))
    c.count(opType, "core.table.merge_amp", live.map(_.rowCount).sum.toDouble / model.size)
  }

  /** Bytes written under the table directory since the last look, live
    * files and manifest bytes. */
  private def storageCounts(opType: String): Unit = {
    val now = Probe.files(new File(loc))
    now.foreach { case (p, n) =>
      if (!seenFiles.contains(p)) { bytesWritten += n; seenFiles(p) = n } }
    val t = GraftTable.load(spark, loc)
    r.tracer.count(opType, "storage.live_files", t.sm.liveEntries(Probe.latest(t)).size)
    r.tracer.count(opType, "storage.manifest_bytes",
      Probe.dirBytes(new File(loc, "manifest")).toDouble)
  }

  def finish(): Unit = {
    // the live rows as one parquet file: the base input is one such file of
    // rows drawn like every later row, so its bytes per row scale to them
    val inputRowBytes = new File(r.path("input/orders")).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum.toDouble / BaseRows
    val liveBytes = inputRowBytes * model.size
    val writes = r.latency.getOrElse("upsert", Nil).toSeq
    val compacts = r.latency.getOrElse("compact", Nil).toSeq
    val reads = (r.latency.getOrElse("lookup", Nil) ++ r.latency.getOrElse("aggregate", Nil)).toSeq
    val endBytes = Probe.dirBytes(new File(loc)).toDouble
    r.put("write_rows_per_s", rowsUpserted / ((writes.sum + compacts.sum) / 1000.0), "rows/s", writes.size)
    r.put("write_p50_ms", Stats.median(writes), "ms", writes.size)
    r.putTail("write", writes)
    if (compacts.nonEmpty) r.put("compact_p50_ms", Stats.median(compacts), "ms", compacts.size)
    // space_amp is taken right after the compaction of the loop, a fixed
    // point of the op cycle, so it does not swing with how many upserts the
    // run's last seconds fitted; the end-of-run value is reported beside it
    val amps = spaceAfterCompact.map { case (b, n) => b / (inputRowBytes * n) }.toSeq
    r.put("space_amp_end", endBytes / liveBytes, "ratio", 1)
    r.put("space_amp", if (amps.nonEmpty) Stats.median(amps) else endBytes / liveBytes,
      "ratio", math.max(1, amps.size))
    r.put("read_p50_ms", Stats.median(reads), "ms", reads.size)
    r.putTail("read", reads)
    r.put("recall", refHits.toDouble / math.max(1L, refTotal), "ratio", refTotal.toInt)
    if (r.tracer.enabled) {
      val userBytes = rowsUpserted * inputRowBytes
      r.tracer.count("upsert", "storage.write_amp", bytesWritten / math.max(1.0, userBytes))
    }
  }
}

object IngestMor {
  val BaseRows = 150000
  val BatchRows = 7500
  val BatchPool = 16
  val Statuses = Array("F", "O", "P")
  val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  val Schema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType, nullable = false),
    StructField("o_custkey", LongType), StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType), StructField("o_orderdate", DateType),
    StructField("o_orderpriority", StringType), StructField("o_clerk", StringType),
    StructField("o_shippriority", IntegerType), StructField("o_comment", StringType)))

  final case class Order(key: Long, cust: Long, status: String, price: Double,
                         date: LocalDate, priority: String, clerk: String,
                         shipPriority: Int, comment: String) {
    def row: Row = Row(key, cust, status, price, date, priority, clerk, shipPriority, comment)
  }
  object Order {
    def of(x: Row): Order = Order(x.getLong(0), x.getLong(1), x.getString(2),
      x.getDouble(3), x.getAs[LocalDate](4), x.getString(5), x.getString(6),
      x.getInt(7), x.getString(8))
  }
}
