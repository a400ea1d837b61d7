package graft

import graft.core._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Native streaming sink (`writeStream.format("graft")` → GraftSink):
  * end-to-end micro-batch upsert through the real Structured Streaming
  * engine, plus direct idempotency / Complete-mode checks on the sink. */
class StreamingSinkSpec extends SparkTestBase {
  import spark.implicits._

  test("writeStream.format(graft): micro-batches upsert into a PK table") {
    val loc = tmpLoc("sink")
    val schema = Seq((1L, "x")).toDF("k", "v").schema
    GraftTable.create(spark, loc, schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 2))
    val input = MemoryStream[(Long, String)](spark)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sink-ckpt").toString
    val q = input.toDF().toDF("k", "v")
      .writeStream.format("graft")
      .option("checkpointLocation", ckpt)
      .option("path", loc)
      .outputMode("append")
      .start()
    input.addData((1L, "a"), (2L, "b"))
    q.processAllAvailable()
    input.addData((2L, "b2"), (3L, "c"))
    q.processAllAvailable()
    q.stop()

    val t = GraftTable.load(spark, loc)
    val got = t.read().as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a"), (2L, "b2"), (3L, "c")), s"got $got")
    // two micro-batches = two snapshots with the stream's identifier prefix
    val ids = t.sm.snapshotIds.map(t.sm.readSnapshot).map(_.identifier)
    assert(ids.count(_.startsWith("stream-")) == 2, s"identifiers: $ids")
  }

  test("latest-full first batch of an UNCOMPACTED PK table is the merged state") {
    // regression: the full-state batch used to emit raw live files — a
    // superseded key version (and any DV-deleted row) leaked into the
    // stream as a duplicate. The batch now plans through the in-scan merge
    // reader (same partitions as GraftMorScan), DVs applied pre-merge.
    import graft.core.RowOps._
    import org.apache.spark.sql.streaming.Trigger
    val loc = tmpLoc("sfull")
    val t = GraftTable.create(spark, loc, Seq((1L, "a")).toDF("k", "v").schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 2))
    t.write((1L to 5L).map(i => (i, s"v$i")).toDF("k", "v"))
    t.write(Seq((2L, "v2b"), (6L, "v6")).toDF("k", "v")) // upsert, NO compaction
    t.deleteDv(col("k") === 4L)                          // and a DV delete
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sfull-ckpt").toString
    val q = spark.readStream.format("graft").load(loc) // latest-full default
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("sfull_mem").start()
    q.awaitTermination(120000)
    val got = spark.sql("SELECT k, v FROM sfull_mem ORDER BY k")
      .as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "v1"), (2L, "v2b"), (3L, "v3"), (5L, "v5"), (6L, "v6")),
      s"got $got")
  }

  /** A table shape the stream fuzz tests run over: its schema and a random
    * row for key `k` (the key column is always `k`). */
  private case class Shape(schema: org.apache.spark.sql.types.StructType,
                           row: (Long, scala.util.Random) => org.apache.spark.sql.Row)

  private val plainShape = Shape(Seq((1L, "a")).toDF("k", "v").schema,
    (k, rnd) => org.apache.spark.sql.Row(k, s"r${rnd.nextInt(1000)}"))

  /** Decimal, short, byte, array, map and struct columns beside the key. */
  private val typedShape = Shape(
    org.apache.spark.sql.types.StructType.fromDDL(
      "k BIGINT NOT NULL, d DECIMAL(12,2), s SMALLINT, b TINYINT, " +
        "emb ARRAY<FLOAT>, attrs MAP<STRING,INT>, st STRUCT<a: INT, c: STRING>"),
    (k, rnd) => {
      val n = rnd.nextInt(1000)
      org.apache.spark.sql.Row(k, new java.math.BigDecimal(n).movePointLeft(2),
        (n % 300).toShort, (n % 100).toByte,
        if (n % 7 == 0) null else Seq(n.toFloat, n / 3.0f),
        Map(s"a$n" -> n, "z" -> (n % 5)),
        org.apache.spark.sql.Row(n, s"c$n"))
    })

  /** `n` random rows over keys in [0, keys). */
  private def rows(shape: Shape, n: Int, keys: Int, rnd: scala.util.Random) =
    spark.createDataFrame(java.util.Arrays.asList(
      (0 until n).map(_ => shape.row(rnd.nextInt(keys).toLong, rnd)): _*), shape.schema)

  /** Multiset of a frame's rows. */
  private def bag(df: org.apache.spark.sql.DataFrame) =
    df.collect().toSeq.groupBy(identity).map { case (r, rs) => r -> rs.size }

  /** Random LSM histories (upsert/append waves, DV deletes, compactions),
    * then a latest-full stream: its rows must equal the batch read. */
  private def latestFullFuzz(tag: String, shape: Shape, pk: Boolean): Unit = {
    import graft.core.RowOps._
    import org.apache.spark.sql.streaming.Trigger
    val rnd = new scala.util.Random(7L)
    for (round <- 0 until 3) {
      val loc = tmpLoc(s"sfz$tag$round")
      val buckets = 1 + rnd.nextInt(3)
      val t = GraftTable.create(spark, loc, shape.schema,
        if (pk) TableConfig(primaryKeys = Seq("k"), numBuckets = buckets)
        else TableConfig())
      val ops = 3 + rnd.nextInt(3)
      for (_ <- 0 until ops) {
        rnd.nextInt(10) match {
          case n if n < 6 => // upsert wave over a small key space
            t.write(rows(shape, 5 + rnd.nextInt(15), 30, rnd))
          case n if n < 8 => // DV delete of a random key
            t.deleteDv(col("k") === rnd.nextInt(30).toLong)
          case _ => t.compact()
        }
      }
      val ckpt = java.nio.file.Files.createTempDirectory(s"graft-sfz$tag$round").toString
      val name = s"sfz_mem_$tag$round"
      val q = spark.readStream.format("graft").load(loc)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .format("memory").queryName(name).start()
      q.awaitTermination(120000)
      val streamed = bag(spark.table(name))
      val batch = bag(GraftTable.load(spark, loc).read())
      assert(streamed == batch,
        s"round $round:\nstream-only: ${(streamed.toSet -- batch).take(5)}" +
          s"\nbatch-only: ${(batch.toSet -- streamed).take(5)}")
    }
  }

  /** Random write histories with compactions replayed from snapshot 1
    * through the stream into a second table, which must converge to the
    * source's state. */
  private def deltaReplayFuzz(tag: String, shape: Shape, pk: Boolean): Unit = {
    import graft.core.RowOps._
    import org.apache.spark.sql.streaming.Trigger
    val rnd = new scala.util.Random(11L)
    for (round <- 0 until 2) {
      val srcLoc = tmpLoc(s"rpl_src$tag$round")
      val dstLoc = tmpLoc(s"rpl_dst$tag$round")
      val src = GraftTable.create(spark, srcLoc, shape.schema,
        if (pk) TableConfig(primaryKeys = Seq("k"), numBuckets = 2) else TableConfig())
      GraftTable.create(spark, dstLoc, shape.schema,
        if (pk) TableConfig(primaryKeys = Seq("k"), numBuckets = 3) else TableConfig())
      for (_ <- 0 until 4 + rnd.nextInt(3)) {
        src.write(rows(shape, 5 + rnd.nextInt(10), 25, rnd))
        if (rnd.nextInt(3) == 0) src.compact()
      }
      val ckpt = java.nio.file.Files.createTempDirectory(s"graft-rpl$tag$round").toString
      val q = spark.readStream.format("graft")
        .option("scan.mode", "from-snapshot").option("scan.snapshot-id", "1")
        .load(srcLoc)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          GraftTable.load(spark, dstLoc).write(b); ()
        }.start()
      q.awaitTermination(120000)
      val want = bag(src.read())
      val got = bag(GraftTable.load(spark, dstLoc).read())
      assert(got == want,
        s"round $round:\nreplay-only: ${(got.toSet -- want).take(5)}" +
          s"\nsource-only: ${(want.toSet -- got).take(5)}")
    }
  }

  test("fuzz: latest-full stream state equals the batch read across random LSM histories") {
    latestFullFuzz("", plainShape, pk = true)
    // streams decode through the batch scans' parquet readers, so every
    // type a batch read serves streams too, from PK and append tables
    latestFullFuzz("typk", typedShape, pk = true)
    latestFullFuzz("tyap", typedShape, pk = false)
  }

  test("fuzz: from-snapshot delta replay into a second PK table reconstructs the state") {
    // the other streaming direction: raw upsert deltas (changelog-producer
    // =input semantics) replayed through the sink must converge to the
    // source's merged state. DV deletes are excluded — a DV mutates
    // history in place and is invisible to a delta-only replay by design
    // (the reference replays them via audit_log/changelog, covered by
    // q_binlog_stream); compactions must be invisible to the stream.
    deltaReplayFuzz("", plainShape, pk = true)
    // every column type, and an append table's deltas into an append table
    deltaReplayFuzz("typk", typedShape, pk = true)
    deltaReplayFuzz("tyap", typedShape, pk = false)
  }

  test("latest-full stream of an append table drops deletion-vector-deleted rows") {
    import graft.core.RowOps._
    import org.apache.spark.sql.streaming.Trigger
    val loc = tmpLoc("sfull-append-dv")
    val t = GraftTable.create(spark, loc, Seq((1L, "a")).toDF("k", "v").schema,
      TableConfig())
    t.write((1L to 6L).map(i => (i, s"v$i")).toDF("k", "v"))
    t.deleteDv(col("k") === 2L || col("k") === 5L)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sfull-adv").toString
    val q = spark.readStream.format("graft").load(loc) // latest-full default
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("sfull_adv_mem").start()
    q.awaitTermination(120000)
    val got = spark.table("sfull_adv_mem").as[(Long, String)].collect().sorted.toSeq
    val want = GraftTable.load(spark, loc).read().as[(Long, String)].collect().sorted.toSeq
    assert(want == Seq((1L, "v1"), (3L, "v3"), (4L, "v4"), (6L, "v6")), s"batch read $want")
    assert(got == want, s"got $got")
  }

  test("a stream over a non-parquet table fails when it is created, naming file.format") {
    val loc = tmpLoc("stream-orc")
    val t = GraftTable.create(spark, loc, Seq((1L, "a")).toDF("k", "v").schema,
      TableConfig(options = Map("file.format" -> "orc")))
    t.write(Seq((1L, "a")).toDF("k", "v"))
    val e = intercept[IllegalArgumentException] {
      new graft.dsv2.GraftMicroBatchStream(GraftTable.load(spark, loc), "unused")
    }
    assert(e.getMessage.contains("file.format=orc"), e.getMessage)
  }

  test("binlog streaming: per-commit changes pack as [before, after] arrays") {
    import org.apache.spark.sql.streaming.Trigger
    val loc = tmpLoc("binlog-stream")
    val df = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
    val t = GraftTable.create(spark, loc, df.schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1,
        options = Map("changelog-producer" -> "lookup")))
    import graft.core.RowOps._
    t.write(df)                                         // snapshot 1: +I, +I
    t.write(Seq((2L, 25.0), (3L, 30.0)).toDF("k", "v")) // snapshot 2: -U/+U, +I
    val ckpt = java.nio.file.Files.createTempDirectory("graft-blstream-ckpt").toString
    val q = spark.readStream.format("graft")
      .option("read-binlog", "true")
      .option("scan.mode", "from-snapshot").option("scan.snapshot-id", "1")
      .load(loc)
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("binlog_stream_out").start()
    q.awaitTermination(60000)
    val rows = spark.table("binlog_stream_out")
      .as[(Long, String, Seq[Double])].collect().toSet
    assert(rows == Set(
      (1L, "+I", Seq(10.0)),
      (2L, "+I", Seq(20.0)),
      (2L, "+U", Seq(20.0, 25.0)), // update packs [before, after]
      (3L, "+I", Seq(30.0))), s"got $rows")
    // batch face of the same table: last commit only, same packed shape
    val batch = t.systemTable("binlog").as[(Long, String, Seq[Double])]
      .collect().toSet
    assert(batch == Set((2L, "+U", Seq(20.0, 25.0)), (3L, "+I", Seq(30.0))),
      s"got $batch")
  }

  test("binlog streaming: a retract write packs -D with the before image") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.core.RowOps._
    val loc = tmpLoc("binlog-del")
    val df = Seq((1L, 10.0, "+I"), (2L, 20.0, "+I")).toDF("k", "v", "rk")
    val t = GraftTable.create(spark, loc, df.schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1,
        options = Map("changelog-producer" -> "lookup",
          "rowkind.field" -> "rk")))
    t.write(df)                                     // snapshot 1: +I, +I
    t.write(Seq((1L, 10.0, "-D")).toDF("k", "v", "rk")) // snapshot 2: -D
    val ckpt = java.nio.file.Files.createTempDirectory("graft-bld-ckpt").toString
    val q = spark.readStream.format("graft")
      .option("read-binlog", "true")
      .option("scan.mode", "from-snapshot").option("scan.snapshot-id", "2")
      .load(loc)
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("binlog_del_out").start()
    q.awaitTermination(60000)
    val rows = spark.table("binlog_del_out")
      .select("k", "rowkind", "v").as[(Long, String, Seq[Double])]
      .collect().toSet
    assert(rows == Set((1L, "-D", Seq(10.0))), s"got $rows")
  }

  test("stream pipeline: graft source -> watermark + session window -> graft sink") {
    // the full streaming composition the engine is designed around: our
    // MicroBatchStream source, Spark's event-time machinery (watermark +
    // session_window, delegated per SURVEY §2.9), our exactly-once sink
    val srcLoc = tmpLoc("sessrc"); val dstLoc = tmpLoc("sesdst")
    val ev = Seq((1L, java.sql.Timestamp.valueOf("2026-01-01 00:00:01"), "u1"))
      .toDF("id", "ts", "user")
    val src = GraftTable.create(spark, srcLoc, ev.schema, TableConfig())
    GraftTable.create(spark, dstLoc,
      new org.apache.spark.sql.types.StructType()
        .add("user", "string").add("cnt", "long"),
      TableConfig(primaryKeys = Seq("user"), numBuckets = 1))
    src.write(ev)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ses-ckpt").toString
    val q = spark.readStream.format("graft").load(srcLoc)
      .withWatermark("ts", "10 seconds")
      .groupBy(session_window(col("ts"), "30 seconds"), col("user"))
      .agg(count(lit(1)).as("cnt"))
      .select("user", "cnt")
      .writeStream.format("graft")
      .option("checkpointLocation", ckpt).option("path", dstLoc)
      .outputMode("append") // session windows emit when the watermark closes them
      .start()
    // same session (2s apart), then watermark-advancing stragglers: the
    // first closes the early sessions, the second triggers their emission
    src.write(Seq((2L, java.sql.Timestamp.valueOf("2026-01-01 00:00:03"), "u1"),
      (3L, java.sql.Timestamp.valueOf("2026-01-01 00:00:04"), "u2")).toDF("id", "ts", "user"))
    q.processAllAvailable()
    src.write(Seq((4L, java.sql.Timestamp.valueOf("2026-01-01 00:10:00"), "u3"))
      .toDF("id", "ts", "user"))
    q.processAllAvailable()
    src.write(Seq((5L, java.sql.Timestamp.valueOf("2026-01-01 00:10:05"), "u3"))
      .toDF("id", "ts", "user"))
    q.processAllAvailable()
    q.stop()
    val got = GraftTable.load(spark, dstLoc).read()
      .as[(String, Long)].collect().toMap
    assert(got.get("u1").contains(2L) && got.get("u2").contains(1L),
      s"session counts wrong: $got")
  }

  test("sink replay of an already-committed batch is a no-op (exactly-once)") {
    val loc = tmpLoc("sinkidem")
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val t = GraftTable.create(spark, loc, df.schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1))
    val sqlCtx = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sqlContext
    val sink = new graft.dsv2.GraftSink(sqlCtx, t, OutputMode.Append(), "stream-test-")
    sink.addBatch(0, df)
    sink.addBatch(0, df) // restart replay: same batch id must not double-commit
    assert(t.sm.latestSnapshotId.contains(1L),
      s"expected exactly one commit, got ${t.sm.snapshotIds}")
    sink.addBatch(1, Seq((3L, "c")).toDF("k", "v"))
    assert(GraftTable.load(spark, loc).read().count() == 3)
  }

  test("Complete output mode overwrites the table each batch") {
    val loc = tmpLoc("sinkcomplete")
    val df = Seq((1L, 10L)).toDF("word", "cnt").toDF("k", "cnt")
    val t = GraftTable.create(spark, loc, df.schema, TableConfig())
    val sqlCtx = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sqlContext
    val sink = new graft.dsv2.GraftSink(sqlCtx, t, OutputMode.Complete(), "stream-c-")
    sink.addBatch(0, Seq((1L, 10L), (2L, 5L)).toDF("k", "cnt"))
    sink.addBatch(1, Seq((1L, 12L), (2L, 5L), (3L, 1L)).toDF("k", "cnt"))
    val got = GraftTable.load(spark, loc).read().as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 12L), (2L, 5L), (3L, 1L)), s"got $got")
  }

  test("streaming corpus ingestion: foreachBatch incremental dedup into a graft table") {
    // the continuous-crawl pattern: each micro-batch dedups against the
    // persisted fingerprint state, admitted docs append to the corpus table
    val state = GraftTable.create(spark, tmpLoc("sdstate"),
      new org.apache.spark.sql.types.StructType()
        .add("fp", "string").add("first_id", "long"),
      TableConfig(primaryKeys = Seq("fp"), numBuckets = 2))
    val corpusLoc = tmpLoc("sdcorpus")
    val corpus = GraftTable.create(spark, corpusLoc,
      Seq((1L, "t")).toDF("doc_id", "text").schema, TableConfig())
    val input = MemoryStream[(Long, String)](spark)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sd-ckpt").toString
    val q = input.toDF().toDF("doc_id", "text")
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val fresh = graft.pipeline.Dedup.incrementalDedup(
          state, batch, "doc_id", "text")
        if (!fresh.isEmpty) corpus.write(fresh.select("doc_id", "text"))
        () // Unit-returning overload
      }
      .start()
    input.addData((1L, "alpha beta"), (2L, "gamma delta"))
    q.processAllAvailable()
    // batch 2: one exact re-crawl, one normalized dup, one fresh doc
    input.addData((3L, "alpha beta"), (4L, "  GAMMA   delta "), (5L, "epsilon"))
    q.processAllAvailable()
    q.stop()
    val got = GraftTable.load(spark, corpusLoc).read()
      .select("doc_id").as[Long].collect().toSet
    assert(got == Set(1L, 2L, 5L), s"got $got")
    assert(state.read().count() == 3)
  }

  test("chain-table streaming: phase 1 = latest snapshot pt + later deltas; phase 2 = delta branch") {
    import graft.core.RowOps._
    val loc = tmpLoc("chain-stream")
    val o = Seq((1L, 10.0, 1L, "d1"), (2L, 20.0, 1L, "d1"), (3L, 30.0, 1L, "d1"))
      .toDF("k", "price", "seq", "day")
    val t = GraftTable.createOrReplace(spark, loc, o.schema,
      TableConfig(primaryKeys = Seq("day", "k"), partitionKeys = Seq("day"),
        numBuckets = 1, sequenceField = Some("seq"),
        options = Map("chain-table.enabled" -> "true")))
    t.write(o.limit(0))
    t.createBranch("snapshot")
    t.createBranch("delta")
    // snapshot branch: an OLD full (d0) and the LATEST full (d1) — phase 1
    // must serve only d1 (older snapshot partitions are outdated)
    t.onBranch("snapshot").write(o.withColumn("day", lit("d0")))
    t.onBranch("snapshot").write(o)
    // delta branch: d2 changes (after d1) and d1 changes (NOT after -> excluded)
    t.onBranch("delta").write(Seq((3L, 33.0, 2L, "d2")).toDF("k", "price", "seq", "day"))

    val outName = "chain_stream_out"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-chain-ckpt").toString
    val q = spark.readStream.format("graft").load(loc)
      .writeStream.option("checkpointLocation", ckpt)
      .format("memory").queryName(outName).start()
    q.processAllAvailable()
    // phase 1: d1 full (3 rows) + d2 delta (1 row); d0 excluded
    val phase1 = spark.table(outName).select("k", "price", "day").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(phase1 == Set((1L, 10.0, "d1"), (2L, 20.0, "d1"),
      (3L, 30.0, "d1"), (3L, 33.0, "d2")), phase1.toString)

    // phase 2: a NEW delta snapshot streams through; a new SNAPSHOT-branch
    // full does NOT (phase 2 is delta-branch only — reference contract)
    t.onBranch("delta").write(Seq((1L, 11.0, 3L, "d3")).toDF("k", "price", "seq", "day"))
    t.onBranch("snapshot").write(o.withColumn("day", lit("d9")))
    q.processAllAvailable()
    q.stop()
    val all = spark.table(outName).select("k", "price", "day").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(all == phase1 + ((1L, 11.0, "d3")), all.toString)
  }

  test("chain-table streaming: stateful restart skips phase 1 and resumes the delta branch") {
    import graft.core.RowOps._
    val loc = tmpLoc("chain-restart")
    val o = Seq((1L, 10.0, 1L, "d1"), (2L, 20.0, 1L, "d1"))
      .toDF("k", "price", "seq", "day")
    val t = GraftTable.createOrReplace(spark, loc, o.schema,
      TableConfig(primaryKeys = Seq("day", "k"), partitionKeys = Seq("day"),
        numBuckets = 1, sequenceField = Some("seq"),
        options = Map("chain-table.enabled" -> "true")))
    t.write(o.limit(0))
    t.createBranch("snapshot"); t.createBranch("delta")
    t.onBranch("snapshot").write(o)
    t.onBranch("delta").write(Seq((2L, 22.0, 2L, "d2")).toDF("k", "price", "seq", "day"))

    val ckpt = java.nio.file.Files.createTempDirectory("graft-chain-rs").toString
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double, String)]()
    def start() = spark.readStream.format("graft").load(loc)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.select("k", "price", "day").collect().foreach(r =>
          got.add((r.getLong(0), r.getDouble(1), r.getString(2))))
      }.start()
    val q1 = start()
    q1.processAllAvailable(); q1.stop()
    assert(got.size == 3, got.toString) // phase 1: d1 full + d2

    // restart from the SAME checkpoint: phase 1 must NOT replay; only the
    // delta snapshot written while stopped streams through
    got.clear()
    t.onBranch("delta").write(Seq((1L, 11.0, 3L, "d3")).toDF("k", "price", "seq", "day"))
    val q2 = start()
    q2.processAllAvailable(); q2.stop()
    import scala.jdk.CollectionConverters._
    assert(got.asScala.toSet == Set((1L, 11.0, "d3")), got.toString)
  }

  test("chain-table streaming merge-snapshot mode: phase 1 merges across branches") {
    import graft.core.RowOps._
    val loc = tmpLoc("chain-merge-stream")
    val o = Seq((1L, 10.0, 1L, "d1"), (2L, 20.0, 1L, "d1"), (3L, 30.0, 1L, "d1"))
      .toDF("k", "price", "seq", "day")
    val t = GraftTable.createOrReplace(spark, loc, o.schema,
      TableConfig(primaryKeys = Seq("day", "k"), partitionKeys = Seq("day"),
        numBuckets = 2, sequenceField = Some("seq"),
        options = Map("chain-table.enabled" -> "true",
          "chain-table.streaming.merge-snapshot" -> "true")))
    t.write(o.limit(0))
    t.createBranch("snapshot"); t.createBranch("delta")
    t.onBranch("snapshot").write(o)
    // delta d2 UPDATES key 2 — merge mode must surface ONE row per key,
    // the d2 winner for key 2, all under the logical partition d2
    t.onBranch("delta").write(Seq((2L, 22.0, 2L, "d2")).toDF("k", "price", "seq", "day"))

    val outName = "chain_merge_out"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-chainm-ckpt").toString
    val q = spark.readStream.format("graft").load(loc)
      .writeStream.option("checkpointLocation", ckpt)
      .format("memory").queryName(outName).start()
    q.processAllAvailable()
    val phase1 = spark.table(outName).select("k", "price", "day").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(phase1 == Set((1L, 10.0, "d2"), (2L, 22.0, "d2"), (3L, 30.0, "d2")),
      phase1.toString)
    // phase 2 unchanged: new delta snapshots stream as plain deltas
    t.onBranch("delta").write(Seq((3L, 33.0, 3L, "d3")).toDF("k", "price", "seq", "day"))
    q.processAllAvailable(); q.stop()
    val all = spark.table(outName).select("k", "price", "day").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(all == phase1 + ((3L, 33.0, "d3")), all.toString)
  }

  test("chain merge-snapshot on a LEGACY full-pk-routed table merges as one group") {
    // a table persisted before trimmed routing hashes (day,k), so the same
    // k lands in different buckets per day — per-bucket merge would miss
    // cross-partition pairs; planInputPartitions must fall back to ONE
    // merge group and still produce one winner per chain key
    import graft.core.RowOps._
    val loc = tmpLoc("chain-merge-legacy")
    val o = Seq((1L, 10.0, 1L, "d1"), (2L, 20.0, 1L, "d1"), (3L, 30.0, 1L, "d1"))
      .toDF("k", "price", "seq", "day")
    val t = GraftTable.createOrReplace(spark, loc, o.schema,
      TableConfig(primaryKeys = Seq("day", "k"), partitionKeys = Seq("day"),
        numBuckets = 2, sequenceField = Some("seq"),
        options = Map("chain-table.enabled" -> "true",
          "chain-table.streaming.merge-snapshot" -> "true",
          "bucket.key-layout" -> "full-pk")))
    assert(t.fixedBucketKeys.contains(Seq("day", "k"))) // legacy layout live
    t.write(o.limit(0))
    t.createBranch("snapshot"); t.createBranch("delta")
    t.onBranch("snapshot").write(o)
    t.onBranch("delta").write(Seq((2L, 22.0, 2L, "d2")).toDF("k", "price", "seq", "day"))

    val outName = "chain_merge_legacy_out"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-chainl-ckpt").toString
    val q = spark.readStream.format("graft").load(loc)
      .writeStream.option("checkpointLocation", ckpt)
      .format("memory").queryName(outName).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table(outName).select("k", "price", "day").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(got == Set((1L, 10.0, "d2"), (2L, 22.0, "d2"), (3L, 30.0, "d2")),
      got.toString)
  }
}
