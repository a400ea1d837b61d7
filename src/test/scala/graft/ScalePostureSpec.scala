package graft

import graft.pipeline.{CorpusOps, Events, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Plan-shape assertions for the corpus/event operators: the properties that
 * make them survive a 100 TB input are STRUCTURAL (no corpus shuffle, no
 * global single-partition sort, broadcast of metadata-sized sides), so the
 * tests pin the physical plan, not just the answer. A regression that
 * reintroduces a global window or a corpus shuffle fails here even though
 * results stay correct at test scale.
 */
class ScalePostureSpec extends SparkTestBase {
  import spark.implicits._

  private def plan(df: DataFrame): String = {
    // under AQE the toString prints Final AND Initial plans — count only
    // the final one
    val s = df.queryExecution.executedPlan.toString
    val cut = s.indexOf("+- == Initial Plan ==")
    if (cut >= 0) s.substring(0, cut) else s
  }

  private def countOccurrences(s: String, sub: String): Int =
    s.sliding(sub.length).count(_ == sub)

  private lazy val docs = spark.range(2000).select(
    col("id").as("doc_id"),
    concat(lit("alpha beta gamma delta epsilon zeta eta theta token"),
      (col("id") % 17).cast("string")).as("text"),
    (col("id") % 100 + 1).as("n_chars"),
    concat(lit("src"), (col("id") % 3).cast("string")).as("source"),
    when(col("id") % 2 === 0, "en").otherwise("de").as("lang"))

  test("chunkDocs is map-side only: zero exchanges") {
    val out = CorpusOps.chunkDocs(docs, "text", 8, 2)
    assert(!plan(out).contains("Exchange"),
      s"chunking must not shuffle the corpus:\n${plan(out)}")
    // and the window math holds: 10 tokens, step 6 → starts 0, 6
    assert(out.filter(col("doc_id") === 7).count() == 2)
  }

  test("mixSources is map-side only: zero exchanges") {
    val out = CorpusOps.mixSources(docs, col("source"), col("doc_id"),
      Map("src0" -> 2.5, "src1" -> 0.25), seed = 3)
    assert(!plan(out).contains("Exchange"),
      s"source mixing must not shuffle:\n${plan(out)}")
  }

  test("sampleFraction is map-side only and roughly honors fractions") {
    val out = CorpusOps.sampleFraction(docs, col("lang"), col("doc_id"),
      Map("en" -> 0.5, "de" -> 0.1), seed = 1)
    assert(!plan(out).contains("Exchange"))
    val n = out.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(n("en") > 350 && n("en") < 650, s"en=${n("en")} of 1000 at p=0.5")
    assert(n("de") > 40 && n("de") < 200, s"de=${n("de")} of 1000 at p=0.1")
  }

  test("kmeansAssign: zero exchanges (centroids are inlined literals)") {
    val emb = spark.range(500).select(col("id").as("vec_id"),
      array((0 until 8).map(i => (rand(seed = i) * 2 - 1).cast("float")): _*)
        .as("embedding"))
    val out = Similarity.kmeansAssign(emb, "vec_id", "embedding", k = 4, seed = 2)
    assert(!plan(out).contains("Exchange"),
      s"assignment must not shuffle the corpus:\n${plan(out)}")
    assert(out.select(countDistinct("__cluster")).as[Long].head() <= 4)
  }

  test("packShards: corpus side joins the 256-row offsets via broadcast; " +
       "the only single-partition work is the bucket prefix sum") {
    val out = CorpusOps.packShards(docs, col("doc_id"), col("n_chars"),
      budget = 5000L, seed = 1)
    out.collect() // materialize under AQE
    val p = plan(out)
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastQueryStage"),
      s"offsets must broadcast, not sort-merge:\n$p")
    // exactly one SinglePartition exchange — the per-bucket offset prefix
    // sum (256 rows), never the corpus
    assert(countOccurrences(p, "Exchange SinglePartition") <= 1, p)
    // the corpus-side window partitions by bucket, never a global order:
    // every corpus sort key list starts with the bucket column
    assert(!p.contains("Sort [__h"), s"global hash-order sort of the corpus:\n$p")
  }

  test("packShards equals the serial running-sum definition") {
    val out = CorpusOps.packShards(docs, col("doc_id"), col("n_chars"),
      budget = 5000L, seed = 1)
      .select(col("doc_id"), col("__shard"))
    // serial definition: one global sort by (hash, id), running sum, floor
    val h = graft.pipeline.TextOps.h32(col("doc_id").cast("string"), 1)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(h.asc, col("doc_id").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val serial = docs
      .withColumn("__start", sum(col("n_chars")).over(w) - col("n_chars"))
      .select(col("doc_id"), floor(col("__start") / 5000L).as("__shard"))
    assertSameRows(out, serial)
  }

  test("stratifiedQuota fills exact quotas with the smallest hashes") {
    val out = CorpusOps.stratifiedQuota(docs, "lang", col("doc_id"),
      Map("en" -> 25L, "de" -> 10L), seed = 9)
    val got = out.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(got == Map("en" -> 25L, "de" -> 10L))
    // matches the unfiltered (no candidate pre-filter) selection exactly
    val h = graft.pipeline.TextOps.h32(col("doc_id").cast("string"), 9)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(h.asc, col("doc_id").asc)
    val full = docs.withColumn("__rn", row_number().over(w))
      .filter((col("lang") === "en" && col("__rn") <= 25) ||
              (col("lang") === "de" && col("__rn") <= 10))
      .select("doc_id")
    assertSameRows(out.select("doc_id"), full)
  }

  test("sessionStats and funnel shuffle once, on the user key") {
    val ev = spark.range(5000).select(
      (col("id") % 50).as("user_id"), col("id").as("event_id"),
      timestamp_micros(lit(1700000000000000L) + col("id") * 1000000L).as("ts"),
      (col("id") % 4 * lit(1.5)).as("value"),
      element_at(array(lit("view"), lit("click"), lit("purchase")),
        (col("id") % 3 + 1).cast("int")).as("event_type"))
    val s = Events.sessionStats(ev, col("user_id"), col("ts"), 60000L,
      col("event_id"), col("value"))
    s.collect()
    // hash exchanges only (window on user, rollup on (user, session)) —
    // never a single-partition collapse of the event stream
    val sp = plan(s)
    assert(countOccurrences(sp, "Exchange hashpartitioning") <= 2, sp)
    assert(!sp.contains("Exchange SinglePartition"), sp)
    val f = Events.funnel(ev, col("user_id"), col("ts"), col("event_type"),
      Seq("view", "click", "purchase"))
    f.collect()
    val fp = plan(f)
    assert(!fp.contains("SortMergeJoin") && !fp.contains("BroadcastHashJoin"),
      s"funnel must be join-free:\n$fp")
  }

  test("semanticDedup: pair generation is a keyed self-join, never a cross product") {
    val emb = spark.range(3000).select(col("id"),
      array((0 until 8).map(i => (rand(seed = 50 + i) * 2 - 1).cast("float")): _*)
        .as("emb"))
    val survivors = graft.pipeline.Dedup.semanticDedup(emb, "id", "emb",
      k = 16, threshold = 0.95)
    survivors.collect()
    val p = plan(survivors)
    // the quadratic is bounded by clusters: candidate pairs come from a
    // hash join on __cluster — an all-pairs cross product would be the
    // O(n²) scale-killer
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"cross product in plan:\n$p")
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("Cdc.parse is map-side only: zero exchanges, no driver collect") {
    val msgs = spark.range(500).select(concat(
      lit("""{"op":"c","after":{"id":"""), col("id"),
      lit(""","v":"x"},"ts_ms":1}""")).as("value"))
    val parsed = graft.pipeline.Cdc.parse(spark, msgs, "value", "debezium-json")
    parsed.collect()
    val p = plan(parsed)
    // the whole parse — envelope extraction, payload projection, kind
    // mapping — is one narrow pipeline over the message partitions; at
    // 100 TB of kafka dumps nothing shuffles until the table write routes
    // rows to buckets
    assert(!p.contains("Exchange"), s"CDC parse must not shuffle:\n$p")
  }

  test("index refresh is O(delta): ivf, full-text and es read only appended rows") {
    // the lifecycle's core scale property — enforced by a test that FAILS if
    // refresh regresses to O(table). Build on n0 rows, append a small delta,
    // and aggregate the refresh job's task-level recordsRead: the delta rows
    // are re-read a few times (postings + term stats + corpus stats are
    // separate actions) but the n0 base rows must never be scanned.
    import graft.core._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    def recordsReadDuring(body: => Unit): Long = {
      val acc = new java.util.concurrent.atomic.AtomicLong
      val l = new SparkListener {
        override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
          if (te.taskMetrics != null)
            acc.addAndGet(te.taskMetrics.inputMetrics.recordsRead)
      }
      spark.sparkContext.addSparkListener(l)
      try {
        body
        org.apache.spark.sql.graft.SparkShims.waitListenerBus(spark)
      } finally spark.sparkContext.removeSparkListener(l)
      acc.get()
    }
    val (n0, delta) = (8000, 150)
    val dim = 8
    def rows(from: Int, until: Int) = spark.range(from, until).select(
      col("id").as("doc_id"),
      concat(lit("alpha beta gamma delta epsilon token"),
        (col("id") % 17).cast("string")).as("text"),
      array((0 until dim).map(i =>
        ((pmod(hash(col("id"), lit(i)), lit(2001)) - 1000) / lit(1000.0))
          .cast("float")): _*).as("emb"),
      when(col("id") % 2 === 0, "en").otherwise("de").as("lang"))
    val cases = Seq(
      "ivf" -> Map("index_column" -> "emb", "index_type" -> "ivf",
        "clusters" -> "4"),
      // the compressed family: delta rows assign + residual-encode against
      // the stored model — same O(delta) contract as plain ivf
      "ivf-rq" -> Map("index_column" -> "emb", "index_type" -> "ivf-rq",
        "ivf-rq.nlist" -> "4", "ivf-rq.pq.m" -> "4"),
      "full-text" -> Map("index_column" -> "text",
        "index_type" -> "full-text", "id_column" -> "doc_id"),
      "es" -> Map("index_type" -> "es", "id_column" -> "doc_id",
        "index_column" -> "emb", "text_column" -> "text",
        "keyword_columns" -> "lang", "clusters" -> "4"))
    cases.foreach { case (kind, createArgs) =>
      val loc = tmpLoc(s"odelta-$kind")
      val t = GraftTable.create(spark, loc, rows(0, 1).schema, TableConfig())
      t.write(rows(0, n0))
      Procedures.call(spark, t, "create_global_index", createArgs).collect()
      t.write(rows(n0, n0 + delta))
      val read = recordsReadDuring {
        Procedures.call(spark, t, "refresh_global_index",
          Map("index_type" -> kind) ++
            createArgs.get("index_column").map("index_column" -> _)).collect()
      }
      info(f"$kind%-10s refresh recordsRead=$read (delta=$delta, table=${n0 + delta})")
      assert(read > 0, s"$kind: refresh must have read the delta")
      // the constant: delta re-read once per maintenance action (index rows,
      // postings, term stats, corpus stats, per-term point reads) — ~2x for
      // ivf, ~9x for full-text, ~12x for es; all delta-proportional
      assert(read <= 15L * delta && read < n0 / 2,
        s"$kind: refresh read $read records for a $delta-row delta over a " +
          s"$n0-row base — O(delta) regressed toward O(table)")
    }
  }

  test("nested-field pruning: one subfield of a wide struct narrows the scan") {
    // 20-field struct; SELECT s.f3 must reach the parquet read with ONLY
    // that subfield (reference prunes nested schemas,
    // PaimonBaseScanBuilder.scala:61) — wide-struct tables must not pay
    // full-struct IO for a single-field projection
    import graft.core._
    val loc = tmpLoc("nested-prune")
    val wide = spark.range(100).select(col("id"),
      struct((0 until 20).map(i => (col("id") * i).as(s"f$i")): _*).as("s"))
    val t = GraftTable.create(spark, loc, wide.schema, TableConfig())
    t.write(wide)
    val df = spark.read.format("graft").load(loc).select(col("s.f3"))
    assert(df.as[Long].collect().sorted.toSeq == (0L until 100L).map(_ * 3))
    val scans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }
    assert(scans.nonEmpty, df.queryExecution.executedPlan.toString)
    val rs = scans.head.readSchema()
    val sField = rs.fields.find(_.name == "s").getOrElse(
      fail(s"no struct col in read schema $rs"))
    val inner = sField.dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(inner.fieldNames.toSeq == Seq("f3"),
      s"expected only f3 to survive pruning, read schema: ${rs.catalogString}")
    assert(!rs.fieldNames.contains("id"), rs.catalogString)
  }

  test("blob payload reads open O(distinct packs) streams, not O(values)") {
    // at 100 TB blob payloads dominate bytes: the read path must share one
    // positioned stream per .bin pack across all the values inside it —
    // per-VALUE opens would be an object-store metadata storm. Asserted via
    // the stream-cache counters: opens ≤ distinct packs, the rest are hits.
    import graft.core.{GraftTable, TableConfig}
    val loc = java.nio.file.Files.createTempDirectory("graft-posture-blob")
      .toString + "/t"
    val n = 500
    val payload = (i: Long) => ("p-" + i + "-" + "y" * 100).getBytes("UTF-8")
    val pUdf = udf(payload)
    val df = spark.range(n).select(col("id"), pUdf(col("id")).as("blob"))
    val t = GraftTable.createOrReplace(spark, loc, df.schema,
      TableConfig(options = Map("blob-field" -> "blob",
        "blob.target-file-size" -> "4kb")))
    t.write(df.repartition(4))
    val packs = {
      val fs = new org.apache.hadoop.fs.Path(s"$loc/blob")
        .getFileSystem(spark.sessionState.newHadoopConf())
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$loc/blob")).length
    }
    assert(packs > 4, s"expected rolled packs, got $packs")
    graft.pipeline.Blob.resetStreamCacheStats()
    val got = t.read().select("id", "blob").as[(Long, Array[Byte])].collect()
    assert(got.length == n)
    assert(got.forall { case (i, b) => b.sameElements(payload(i)) })
    val (hits, opens) = graft.pipeline.Blob.streamCacheStats
    assert(hits + opens == n.toLong,
      s"every value resolves through the cache: hits=$hits opens=$opens")
    assert(opens <= packs.toLong,
      s"opens must be bounded by distinct packs: opens=$opens packs=$packs")
    assert(opens < n / 4, s"opens=$opens must be far below values=$n")
  }

  test("a finished task leaves no blob pack chunk pinned in its thread") {
    // the per-thread chunk memo sits outside the pack cache's byte budget:
    // a reading task may hold one chunk, a pooled thread after it none
    import graft.core.{GraftTable, TableConfig}
    import graft.pipeline.Blob
    val loc = tmpLoc("posture-blob-memo")
    val pUdf = udf((i: Long) => ("p-" + i + "-" + "y" * 100).getBytes("UTF-8"))
    val df = spark.range(400).select(col("id"), pUdf(col("id")).as("blob"))
    val t = GraftTable.create(spark, loc, df.schema,
      TableConfig(options = Map("blob-field" -> "blob")))
    t.write(df.repartition(4))
    val during = t.read().select("blob").as[Array[Byte]].mapPartitions { it =>
      Iterator(if (it.isEmpty) -1L else { it.foreach(_ => ()); Blob.memoPinnedBytes })
    }.collect()
    assert(during.exists(_ > 0L), s"a reading task holds its chunk: ${during.toSeq}")
    assert(Blob.memoPinnedBytes == 0L, s"pinned after the job: ${Blob.memoPinnedBytes}")
  }

  test("a fixed-bucket PK upsert is one pass: 2 jobs, one exchange, no listing; " +
       "compaction runs at most 3 jobs") {
    // per-file stats come out of the write tasks and the in-batch dedup
    // rides the routing shuffle: no read-back job, no second window
    // shuffle, no listing of the new files. A deduplicate compaction merges
    // each bucket inside its scan task and writes it from there. Job counts
    // are exact, so this trips on any extra pass at test scale.
    import graft.core.{GraftTable, TableConfig}
    import graft.core.RowOps._
    def jobsDuring(body: => Unit) = SparkJobs.during(spark)(body)
    def batch(from: Int, n: Int) = (from until from + n)
      .map(i => (i.toLong % 700, s"v$i", i * 0.5)).toDF("k", "v", "p")
    val loc = tmpLoc("onepass")
    val t = GraftTable.create(spark, loc, batch(0, 1).schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 4))
    t.write(batch(0, 1000))
    val pw = "spark.sql.optimizer.plannedWrite.enabled"
    assert(!spark.conf.getAll.contains(pw), "a write must not leave plannedWrite set")
    // duplicate keys inside the batch: the dedup must still run
    val up = jobsDuring(GraftTable.load(spark, loc).write(batch(1000, 1500)))
    assert(up.shape == (2, 2, 1, 0) && up.shuffleWriteBytes > 0, s"upsert: $up")
    assert(t.read().count() == 700)
    assert(t.read().filter(col("k") === 299L).select("v").as[String].head() == "v2399")
    withSQLConf(pw -> "true") {
      t.write(batch(3000, 10))
      assert(spark.conf.getAll.get(pw).contains("true"), "a write must keep plannedWrite")
    }
    val compact = jobsDuring(GraftTable.load(spark, loc).compact())
    assert(compact.shape == (1, 1, 0, 0) && compact.shuffleWriteBytes == 0,
      s"compact: $compact")
    assert(t.read().count() == 700)
  }

  test("a key-pinned lookup runs no Spark job; a two-bucket IN and an unpinned read " +
       "run one job; compaction stays one job with no shuffle") {
    // a read whose filters pin the primary key and whose scan has one input
    // partition is served in the driver (GraftLocalScan); exact counts trip
    // on a lookup that starts submitting jobs again
    import graft.core.{GraftTable, TableConfig}
    import graft.core.RowOps._
    def batch(from: Int, n: Int) = (from until from + n)
      .map(i => (i.toLong % 400, s"v$i")).toDF("k", "v")
    val loc = tmpLoc("pointread")
    val t = GraftTable.create(spark, loc, batch(0, 1).schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 4))
    t.write(batch(0, 400))
    t.write(batch(400, 200))
    // the library lookup (read → connector bounce → local scan)
    def lookup(c: org.apache.spark.sql.Column) =
      GraftTable.load(spark, loc).read(Some(c)).as[(Long, String)].collect().toSet
    val one = SparkJobs.during(spark)(assert(lookup(col("k") === 7L) == Set((7L, "v407"))))
    assert(one.shape == (0, 0, 0, 0) && one.tasks == 0, s"lookup: $one")
    val plan = GraftTable.load(spark, loc).read(Some(col("k") === 7L))
      .queryExecution.executedPlan.toString
    assert(plan.contains("GraftLocalScan") && plan.contains("keyGroups=1") &&
      plan.contains("GraftMorScan"), plan)
    val buckets = spark.range(400).select(col("id"), expr("graft_bucket(4, id)").as("b"))
      .as[(Long, Int)].collect().groupBy(_._2)
    val keys = Seq(buckets(0).head._1, buckets(1).head._1)
    val two = SparkJobs.during(spark)(assert(lookup(col("k").isin(keys: _*)).size == 2))
    assert(two.shape == (1, 1, 0, 0) && two.tasks == 2, s"two-bucket IN: $two")
    val unpinned = SparkJobs.during(spark)(
      assert(lookup(col("v").startsWith("v5")).size == 100))
    assert(unpinned.shape == (1, 1, 0, 0) && unpinned.tasks == 4, s"unpinned: $unpinned")
    val compact = SparkJobs.during(spark)(GraftTable.load(spark, loc).compact())
    assert(compact.shape == (1, 1, 0, 0) && compact.shuffleWriteBytes == 0,
      s"compact: $compact")
    // through the connector, the compacted (raw) bucket serves the lookup
    // in the driver too
    val raw = SparkJobs.during(spark)(assert(spark.read.format("graft").load(loc)
      .filter(col("k") === 7L).as[(Long, String)].collect().toSeq == Seq((7L, "v407"))))
    assert(raw.shape == (0, 0, 0, 0), s"raw lookup: $raw")
  }

  test("a library lookup of a compacted (all-raw) bucket runs no Spark job") {
    import graft.core.{GraftTable, TableConfig}
    import graft.core.RowOps._
    val loc = tmpLoc("rawlookup")
    val t = GraftTable.create(spark, loc, Seq((0L, "")).toDF("k", "v").schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 4))
    t.write((0 until 400).map(i => (i.toLong, s"v$i")).toDF("k", "v"))
    t.write((0 until 400 by 5).map(i => (i.toLong, s"w$i")).toDF("k", "v"))
    t.compact()
    val jobs = SparkJobs.during(spark)(assert(GraftTable.load(spark, loc)
      .read(Some(col("k") === 7L)).as[(Long, String)].collect().toSeq == Seq((7L, "v7"))))
    assert(jobs.shape == (0, 0, 0, 0), s"raw library lookup: $jobs")
  }

  test("every library and connector read of a PK table folds the manifests once") {
    // the venue of a read is decided once, by GraftTable.readPlan: a library
    // read that goes through the connector plans there and nowhere else
    import graft.core.{GraftMetrics, GraftTable, TableConfig}
    import graft.core.RowOps._
    val loc = tmpLoc("onefold")
    val t = GraftTable.create(spark, loc, Seq((0L, "")).toDF("k", "v").schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 4))
    t.write((0 until 400).map(i => (i.toLong, s"v$i")).toDF("k", "v"))
    t.write((0 until 400 by 5).map(i => (i.toLong, s"w$i")).toDF("k", "v"))
    def scans(): Double = GraftMetrics.forTable(t.location).rows
      .collectFirst { case ("totalScans", _, v) => v }.getOrElse(0.0)
    def folds(read: => Array[_]): Double = {
      val before = scans()
      read
      scans() - before
    }
    def library(c: Option[org.apache.spark.sql.Column]) =
      GraftTable.load(spark, loc).read(c).collect()
    def connector(c: Option[org.apache.spark.sql.Column]) =
      c.foldLeft(spark.read.format("graft").load(loc))(_ filter _).collect()
    val key = Some(col("k") === 5L)
    assert(folds(library(key)) == 1, "library lookup, merge buckets")
    assert(folds(library(None)) == 1, "library full read, merge buckets")
    assert(folds(connector(key)) == 1, "connector lookup, merge buckets")
    assert(folds(connector(None)) == 1, "connector full read, merge buckets")
    t.compact()
    assert(folds(library(key)) == 1, "library lookup, compacted")
    assert(folds(library(None)) == 1, "library full read, compacted")
    assert(folds(connector(key)) == 1, "connector lookup, compacted")
    // an added column needs the relational merge: the connector reads the
    // plan it made instead of planning the read again
    t.addColumns(org.apache.spark.sql.types.StructField("w", org.apache.spark.sql.types.StringType))
    t.write(Seq((5L, "c5", "w5")).toDF("k", "v", "w"))
    assert(graft.ReadPlans.relational(t.readPlan()).contains("schema-evolution"))
    assert(folds(library(key)) == 1, "library lookup, evolved")
    assert(folds(library(None)) == 1, "library full read, evolved")
    assert(folds(connector(key)) == 1, "connector lookup, evolved")
    assert(folds(connector(None)) == 1, "connector full read, evolved")
  }

  test("a 64-file append read lists nothing and plans through the manifest index") {
    import graft.core.{GraftTable, ManifestFileIndex, TableConfig}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val loc = tmpLoc("manifest64")
    val df = spark.range(6400).select(col("id"), (col("id") % 13).as("g"))
    GraftTable.create(spark, loc, df.schema, TableConfig()).write(df.repartition(64))
    var read: DataFrame = null
    val jobs = SparkJobs.during(spark) {
      read = GraftTable.load(spark, loc).read()
      assert(read.collect().length == 6400)
    }
    assert(jobs.listing == 0 && jobs.n == 1, jobs)
    val index = read.queryExecution.optimizedPlan.collectFirst {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.location
    }
    assert(index.exists(_.isInstanceOf[ManifestFileIndex]), index)
    assert(index.get.toString == "ManifestFileIndex(64 files)")
    val explain = read.queryExecution.executedPlan.toString
    assert(explain.contains("Location: ManifestFileIndex(64 paths)"), explain)
  }

  test("IVF searches on a 64-file index list nothing: a 1%-filtered search runs " +
       "3 jobs, a plain one 1") {
    import graft.core.GraftTable
    import graft.pipeline.Indexes
    // 16 well-separated clusters over 4 input partitions: 64 index files
    val vecs = spark.range(2000).select(col("id").as("vec_id"),
      (col("id") % 100).cast("int").as("tag"),
      array((0 until 16).map(d => (when(col("id") % 16 === d, lit(1.0)).otherwise(lit(0.0)) +
        (rand(d) - 0.5) * 0.05).cast("float")): _*).as("emb"))
    val loc = tmpLoc("ivf64")
    Indexes.buildIvf(spark, vecs.repartition(4), "emb", loc, nClusters = 16)
    assert(GraftTable.load(spark, loc).planFiles().size == 64)
    val q = (0 until 16).map(d => if (d == 3) 1.0f else 0.0f)
    def search(filter: Option[org.apache.spark.sql.Column]) = SparkJobs.during(spark) {
      assert(Indexes.ivfSearch(spark, loc, "emb", q, 10, 8, filter = filter)
        .collect().length == 10)
    }
    // the 1% filter keeps 20 rows: the escalation count over 8 probed
    // clusters falls short, so the top-k reads every cluster (64 files)
    val f1 = search(Some(col("tag") === 3))
    assert(f1.listing == 0 && f1.n == 3, s"1%-filtered: $f1")
    val plain = search(None)
    assert(plain.listing == 0 && plain.n == 1, s"plain: $plain")
  }
}
