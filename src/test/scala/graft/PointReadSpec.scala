package graft.core

import graft.{ReadPlans, SparkJobs, SparkTestBase}
import graft.core.RowOps._
import graft.dsv2.{GraftLocalScanExec, GraftLocalScanStrategy, GraftSparkTable}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/**
 * Differential check of key-pinned reads. A read whose filters pin every
 * primary-key column by `=`/`IN` has those filters claimed by the scan
 * builder: no `Filter` runs above the scan, and a read of one input
 * partition is served in the driver with no Spark job. Each pinned read is
 * compared with the same predicate written so that nothing pushes down
 * (`k + 0 = …`) and with the relational oracle
 * `MergeEngines.merge(readEntries(…))`.
 */
class PointReadSpec extends SparkTestBase {
  import spark.implicits._

  private object plans extends AdaptiveSparkPlanHelper

  private def load(loc: String, opts: Seq[(String, String)] = Nil): DataFrame =
    opts.foldLeft(spark.read.format("graft"))((r, o) => r.option(o._1, o._2)).load(loc)

  /** The merged rows as the relational plan computes them. */
  private def oracle(loc: String, snapshotId: Option[Long] = None): DataFrame = {
    val t = GraftTable.load(spark, loc)
    MergeEngines.merge(t.readEntries(t.planFiles(snapshotId), withInternal = true,
      t.dvFor(snapshotId)), t.config, t.dataSchema)
      .select(t.dataSchema.fieldNames.map(col).toIndexedSeq: _*)
  }

  case class Read(jobs: SparkJobs.Jobs, plan: SparkPlan, rows: Seq[Row]) {
    def local: Boolean = plan.isInstanceOf[GraftLocalScanExec]
    def filters: Int = plans.collect(plan) { case f: FilterExec => f }.size
  }

  /** Collects `pinned` (counting its Spark work) and checks its rows against
    * `unpushed` and, unless `withOracle` is off, the oracle. */
  private def check(loc: String, pinned: Column, unpushed: Column,
                    cols: Seq[String] = Nil, opts: Seq[(String, String)] = Nil,
                    snap: Option[Long] = None, withOracle: Boolean = true): Read = {
    def sel(df: DataFrame) = if (cols.isEmpty) df else df.select(cols.map(col): _*)
    val df = sel(load(loc, opts).filter(pinned))
    var rows: Array[Row] = null
    val jobs = SparkJobs.during(spark) { rows = df.collect() }
    assertSameRows(df, sel(load(loc, opts).filter(unpushed)))
    if (withOracle) assertSameRows(df, sel(oracle(loc, snap).filter(unpushed)))
    Read(jobs, df.queryExecution.executedPlan, rows.toSeq)
  }

  private def k0 = col("k") + 0

  /** Keys of 0 until n by the bucket the write routes them to. */
  private def byBucket(n: Int, buckets: Int): Map[Int, Seq[Long]] =
    spark.range(n).select(col("id"), expr(s"graft_bucket($buckets, id)").as("b"))
      .as[(Long, Int)].collect().groupBy(_._2).map { case (b, ks) => b -> ks.map(_._1).toSeq }

  /** A 2-bucket table with updates, `rowkind.field` tombstones and a DV. */
  private def mkTable(name: String, engine: String,
                      opts: Map[String, String] = Map.empty,
                      aggs: Map[String, String] = Map.empty): String = {
    val loc = tmpLoc(name)
    val t = GraftTable.create(spark, loc,
      Seq((0L, "", 0.0, "")).toDF("k", "v", "p", "rk").schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 2, mergeEngine = engine,
        fieldAggregates = aggs, options = opts))
    val dedupFamily = Set("deduplicate", "first-row")(engine)
    Seq(("a", "+I", 0 until 40), ("b", "+U", 10 until 40 by 2), ("c", "-D", 30 until 40 by 3))
      .filter(_._2 != "-D" || dedupFamily)
      .foreach { case (v, rk, ks) =>
        t.write(ks.map(i => (i.toLong, s"$v$i", i * 1.5, rk)).toDF("k", "v", "p", "rk"))
      }
    // deletion vectors need parquet data files
    if (dedupFamily && t.fileFormat == "parquet") t.deleteDv(col("k") === 12L)
    loc
  }

  test("deduplicate: = and IN, tombstones and DVs, served in the driver without a job") {
    val loc = mkTable("pointread-dedup", "deduplicate", Map("rowkind.field" -> "rk"))
    Seq(1L, 12L, 14L, 33L, 39L, 77L).foreach { key =>
      val r = check(loc, col("k") === key, k0 === key)
      assert(r.jobs.n == 0 && r.jobs.tasks == 0, s"k=$key: ${r.jobs}")
      assert(r.local && r.filters == 0, s"k=$key:\n${r.plan}")
    }
    val b = byBucket(40, 2)
    // IN inside one bucket: one partition, still local
    val one = b(0).take(3)
    val r1 = check(loc, col("k").isin(one: _*), k0.isin(one: _*))
    assert(r1.local && r1.jobs.n == 0 && r1.rows.nonEmpty, r1.plan.toString)
    // IN over two buckets: distributed, still exact, no Filter node
    val two = b(0).take(2) ++ b(1).take(2)
    val r2 = check(loc, col("k").isin(two: _*), k0.isin(two: _*))
    assert(!r2.local && r2.jobs.n >= 1 && r2.filters == 0, s"${r2.jobs}\n${r2.plan}")
    assert(r2.rows.map(_.getLong(0)).toSet.intersect(b(1).toSet).nonEmpty)
    // a projection that omits the key, and a value conjunct on a claimed read
    val r3 = check(loc, col("k") === 14L, k0 === 14L, cols = Seq("v", "p"))
    assert(r3.local && r3.rows == Seq(Row("b14", 21.0)), r3.rows)
    val r4 = check(loc, col("k") === 14L && col("v") === "a14", k0 === 14L && col("v") === "a14")
    assert(r4.local && r4.rows.isEmpty, "the superseded version must stay shadowed")
    // no column read at all: the filter columns are still read and tested
    assert(load(loc).filter(col("k").isin(12L, 14L, 33L, 77L)).count() == 1)
    // a residual UDF filter stays above the scan
    val odd = udf((v: String) => v.last.isDigit && (v.last - '0') % 2 == 1)
    val r5 = check(loc, col("k").isin(13L, 14L, 15L) && odd(col("v")),
      k0.isin(13L, 14L, 15L) && odd(col("v")))
    assert(r5.filters == 1 && r5.rows.map(_.getLong(0)).toSet == Set(13L, 15L), r5.rows)
    // time travel: the pinned snapshot, not the latest
    val r6 = check(loc, col("k") === 14L, k0 === 14L, opts = Seq("scan.version" -> "1"),
      snap = Some(1L))
    assert(r6.local && r6.rows.map(_.getString(1)) == Seq("a14"), r6.rows)
  }

  test("first-row, partial-update and aggregation tables, before and after compaction") {
    val tables = Seq(
      mkTable("pointread-first", "first-row", Map("rowkind.field" -> "rk")),
      mkTable("pointread-partial", "partial-update"),
      mkTable("pointread-agg", "aggregation", aggs = Map("p" -> "sum", "v" -> "max")))
    val b = byBucket(40, 2)
    val two = b(0).take(2) ++ b(1).take(2)
    tables.foreach { loc =>
      Seq(false, true).foreach { compacted =>
        if (compacted) GraftTable.load(spark, loc).compact()
        Seq(3L, 12L, 14L, 33L).foreach { key =>
          val r = check(loc, col("k") === key, k0 === key)
          assert(r.filters == 0, s"$loc k=$key:\n${r.plan}")
          // merge-in-scan and raw buckets serve point reads in the driver
          if (compacted || loc.contains("first"))
            assert(r.local && r.jobs.n == 0, s"$loc k=$key ${r.jobs}\n${r.plan}")
        }
        val r = check(loc, col("k").isin(two: _*), k0.isin(two: _*))
        assert(r.filters == 0 && !r.local, s"$loc:\n${r.plan}")
      }
    }
  }

  test("metadata columns, a blob column, a variant extraction and orc stay exact") {
    val loc = mkTable("pointread-meta", "deduplicate", Map("rowkind.field" -> "rk"))
    val meta = Seq("k", "v", "__graft_file_path", "__graft_row_index")
    val m = check(loc, col("k") === 14L, k0 === 14L, cols = meta, withOracle = false)
    assert(m.rows.size == 1 && m.rows.head.getString(2).endsWith(".parquet"), m.rows)
    // blob: the read resolves descriptors to the stored payload bytes
    val blob = tmpLoc("pointread-blob")
    val bt = GraftTable.create(spark, blob, Seq((1L, Array[Byte](1))).toDF("k", "image").schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 2, options = Map("blob-field" -> "image")))
    bt.write((1 to 6).map(i => (i.toLong, Array.fill(i)(i.toByte))).toDF("k", "image"))
    bt.write(Seq((2L, Array[Byte](9, 9))).toDF("k", "image"))
    def bytes(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq)).toSet
    val pinnedBlob = load(blob).filter(col("k").isin(2L, 3L))
    assert(bytes(pinnedBlob) == bytes(load(blob).filter(k0.isin(2L, 3L))))
    assert(bytes(pinnedBlob) == Set((2L, Seq[Byte](9, 9)), (3L, Seq[Byte](3, 3, 3))))
    // variant: a shredded extraction over a key-pinned read
    val vloc = tmpLoc("pointread-variant")
    def docs(rows: (Long, String, Int)*) = rows.toDF("k", "lang", "n").select(col("k"),
      parse_json(to_json(struct(col("lang"), col("n")))).as("meta"))
    val vt = GraftTable.create(spark, vloc, docs((0L, "en", 1)).schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 2,
        options = Map("fields.meta.shred" -> "$.lang:string,$.n:int")))
    vt.write(docs((1L, "en", 1), (2L, "de", 2), (3L, "fr", 3)))
    vt.write(docs((2L, "it", 20)))
    val ext = Seq(col("k"), variant_get(col("meta"), "$.lang", "string").as("lang"),
      variant_get(col("meta"), "$.n", "int").as("n"))
    val pinned = load(vloc).filter(col("k") === 2L).select(ext: _*)
    assertSameRows(pinned, load(vloc).filter(k0 === 2L).select(ext: _*))
    assert(pinned.as[(Long, String, Int)].collect().toSeq == Seq((2L, "it", 20)))
    // orc data files read through the V1 plan, which applies the filters
    val orc = mkTable("pointread-orc", "deduplicate", Map("rowkind.field" -> "rk", "file.format" -> "orc"))
    Seq(14L, 33L).foreach(key => check(orc, col("k") === key, k0 === key))
  }

  test("merge-in-scan reads are equal through the columnar and the row parquet reader") {
    val locs = Seq(
      mkTable("pointread-vec-dedup", "deduplicate", Map("rowkind.field" -> "rk")),
      mkTable("pointread-vec-first", "first-row", Map("rowkind.field" -> "rk")))
    val string = tmpLoc("pointread-vec-str")
    val st = GraftTable.create(spark, string, Seq(("", "")).toDF("k", "v").schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 2))
    st.write((0 until 30).map(i => (s"k$i", s"a$i")).toDF("k", "v"))
    st.write((0 until 30 by 4).map(i => (s"k$i", s"b$i")).toDF("k", "v"))
    st.deleteDv(col("k") === "k5")
    def reads(loc: String): Seq[DataFrame] = {
      val all = load(loc)
      val key = if (loc == string) lit("k8") else lit(14L)
      val keys = if (loc == string) Seq("k1", "k4", "k5", "k9") else Seq(1L, 12L, 14L, 33L)
      Seq(all, all.filter(col("k") === key), all.filter(col("k").isin(keys: _*)),
        all.filter(col("v").startsWith("a")).select("k"))
    }
    (locs :+ string).foreach { loc =>
      assert(ReadPlans.inScan(GraftTable.load(spark, loc).readPlan()))
      val columnar = reads(loc).map(rowsOf)
      withSQLConf("spark.sql.parquet.enableVectorizedReader" -> "false") {
        assert(reads(loc).map(rowsOf) == columnar, loc)
      }
    }
  }

  test("a scan builder reads its own snapshot across a DV delete and a compaction") {
    val loc = mkTable("pointread-snap", "deduplicate", Map("rowkind.field" -> "rk"))
    val t = GraftTable.load(spark, loc)
    val want = rowsOf(load(loc))
    val builder = new GraftSparkTable(t).newScanBuilder(CaseInsensitiveStringMap.empty())
    t.deleteDv(col("k") === 3L) // snapshot N+1 carries a vector for key 3
    t.compact()                 // N+2 rewrites the files and clears the vectors
    val scan = builder.build()
    val got = org.apache.spark.sql.graft.SparkShims.scanRows(spark, scan)
    assert(rowsOf(got) == want)
    assert(!rowsOf(load(loc)).exists(_.head == 3L))
  }

  test("an option change keeps point reads and compaction in the scan; a new column does not") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val loc = tmpLoc("pointread-opt")
    val t = GraftTable.create(spark, loc, Seq((0L, "")).toDF("k", "v").schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 2))
    t.write((0 until 20).map(i => (i.toLong, s"a$i")).toDF("k", "v"))
    t.setOption("some.option", "x")
    t.write((0 until 20 by 3).map(i => (i.toLong, s"b$i")).toDF("k", "v"))
    assert(ReadPlans.inScan(t.readPlan()), t.readPlan())
    Seq(3L, 4L).foreach { key =>
      val r = check(loc, col("k") === key, k0 === key)
      assert(r.local && r.jobs.n == 0, s"k=$key ${r.jobs}\n${r.plan}")
    }
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val app = new AbstractAppender("pointread-compact-capture", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.INFO && e.getLoggerName == "graft.core.RowOps")
          lines.add(e.getMessage.getFormattedMessage)
    }
    val logger = LogManager.getRootLogger.asInstanceOf[CoreLogger]
    val prevLevel = logger.getLevel
    app.start()
    logger.addAppender(app)
    logger.setLevel(Level.INFO)
    val want = rowsOf(oracle(loc))
    try t.compact() finally {
      logger.removeAppender(app)
      logger.setLevel(prevLevel)
    }
    import scala.jdk.CollectionConverters._
    val mine = lines.asScala.filter(_.contains(s"table=$loc "))
    assert(mine.size == 1 && mine.head.contains(" path=in-scan "), mine)
    assert(rowsOf(load(loc)) == want)
    // an added column changes the file layout: the evolution read serves it
    t.addColumns(StructField("w", StringType))
    t.write(Seq((5L, "c5", "w5")).toDF("k", "v", "w"))
    assert(ReadPlans.relational(t.readPlan()).contains("schema-evolution"))
    check(loc, col("k") === 5L, k0 === 5L)
  }

  test("a bucket routing change keeps reads and compaction on the global merge") {
    val loc = tmpLoc("pointread-route")
    def rows(keys: Range, v: String): DataFrame =
      keys.map(i => (s"d${i % 2}", i.toLong, s"$v$i")).toDF("day", "k", "v")
    val t = GraftTable.create(spark, loc, rows(0 until 1, "").schema,
      TableConfig(primaryKeys = Seq("day", "k"), partitionKeys = Seq("day"), numBuckets = 4))
    t.write(rows(0 until 40, "a"))
    def pinned(key: Int) = col("day") === s"d${key % 2}" && col("k") === key.toLong
    def unpushed(key: Int) = col("day") === s"d${key % 2}" && k0 === key.toLong
    /** Upserts keys 0, 3, ... under the changed routing, then checks reads,
      * point reads and a compaction against the oracle. */
    def upsertAndCheck(v: String): Unit = {
      val t2 = GraftTable.load(spark, loc)
      t2.write(rows(0 until 40 by 3, v))
      // the upserted keys' versions now sit in two buckets of one partition
      assert(ReadPlans.relational(t2.readPlan()).contains("schema-evolution"), t2.readPlan())
      val want = rowsOf(oracle(loc))
      assert(want.size == 40 && rowsOf(load(loc)) == want)
      assert(load(loc).count() == 40)
      Seq(3, 6, 7).foreach { key =>
        val r = check(loc, pinned(key), unpushed(key))
        assert(r.rows.size == 1 && r.rows.head.getString(2) == (if (key % 3 == 0) s"$v$key" else s"a$key"),
          s"k=$key: ${r.rows}")
      }
      t2.compact()
      assert(rowsOf(load(loc)) == want && load(loc).count() == 40)
      assert(GraftTable.load(spark, loc).readEntries(GraftTable.load(spark, loc).planFiles(),
        withInternal = false).count() == 40, "compaction keeps one version per key")
    }
    // unstamping returns the table to full-pk routing (day, k): an option
    // change that sends a key to another bucket at the same bucket count
    t.removeOptions(Seq("bucket.key-layout"))
    assert(GraftTable.load(spark, loc).fixedBucketKeys.contains(Seq("day", "k")))
    upsertAndCheck("b")
    // a rescale whose rewrite has not committed: the new bucket count is in
    // the schema, the files are still routed under the old one
    val cur = GraftTable.load(spark, loc).schema
    t.sm.writeSchema(TableSchema(cur.id + 1, cur.fields,
      cur.config.copy(numBuckets = 3), System.currentTimeMillis()))
    upsertAndCheck("c")
  }

  test("a key-pinned read reports its size, so a join broadcasts it") {
    val loc = mkTable("pointread-join", "deduplicate", Map("rowkind.field" -> "rk"))
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "1000000") {
      val big = spark.range(200000).select(col("id").as("k"), (col("id") % 7).as("w"))
      val df = big.join(load(loc).filter(col("k") === 14L), "k")
      assert(df.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq ==
        Seq((14L, 0L, "b14")))
      val joins = plans.collect(df.queryExecution.executedPlan) {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
      }
      assert(joins.size == 1, df.queryExecution.executedPlan)
      val j = joins.head
      val build = if (j.buildSide == org.apache.spark.sql.catalyst.optimizer.BuildLeft) j.left
        else j.right
      assert(plans.collect(build) { case l: GraftLocalScanExec => l }.size == 1,
        df.queryExecution.executedPlan)
    }
  }

  test("without the named plan node a key-pinned read still plans job-free") {
    val loc = mkTable("pointread-bare", "deduplicate", Map("rowkind.field" -> "rk"))
    val s2 = spark.newSession()
    val df = s2.read.format("graft").load(loc).filter(col("k") === 14L)
    s2.experimental.extraStrategies =
      s2.experimental.extraStrategies.filterNot(_ == GraftLocalScanStrategy)
    var rows: Array[Row] = null
    val jobs = SparkJobs.during(spark) { rows = df.collect() }
    assert(jobs.n == 0 && rows.map(_.getString(1)).toSeq == Seq("b14"), jobs)
    assert(df.queryExecution.executedPlan
      .isInstanceOf[org.apache.spark.sql.execution.LocalTableScanExec], df.queryExecution.executedPlan)
  }

  test("a library lookup whose pruned buckets are all raw is served in the driver") {
    val loc = tmpLoc("pointread-rawlib")
    val t = GraftTable.create(spark, loc, Seq((0L, "")).toDF("k", "v").schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 2))
    t.write((0 until 40).map(i => (i.toLong, s"a$i")).toDF("k", "v"))
    t.compact()
    // a fresh key above the compacted files' key range: stats prune the
    // compacted file of its bucket, leaving one level-0 file (raw)
    t.write(Seq((1000L, "n1000"), (15L, "b15")).toDF("k", "v"))
    def lookup(c: Column): Read = {
      val df = GraftTable.load(spark, loc).read(Some(c))
      var rows: Array[Row] = null
      val jobs = SparkJobs.during(spark) { rows = df.collect() }
      assertSameRows(df, oracle(loc).filter(c))
      Read(jobs, df.queryExecution.executedPlan, rows.toSeq)
    }
    val planned = GraftTable.load(spark, loc).planFiles(filter = Some(col("k") === 1000L))
    assert(planned.size == 1 && planned.head.level == 0, planned)
    Seq(1000L -> "n1000", 7L -> "a7", 15L -> "b15").foreach { case (key, v) =>
      val r = lookup(col("k") === key)
      assert(r.rows.map(_.getString(1)) == Seq(v), r.rows)
      // the connector serves the bounce itself: a local scan, never the V1
      // plan it was bounced from
      assert(r.jobs.n == 0 && r.local, s"k=$key: ${r.jobs}\n${r.plan}")
    }
    // an unpinned read claims nothing: no driver-side scan
    val all = lookup(col("k") >= 1000L)
    assert(all.rows.size == 1 && !all.local, all.plan)
  }

  test("a creation-time cutoff serves SQL and library reads alike") {
    Seq("append" -> TableConfig(), "pk" -> TableConfig(primaryKeys = Seq("k"), numBuckets = 1))
      .foreach { case (kind, cfg) =>
        val loc = tmpLoc(s"pointread-cutoff-$kind")
        val t = GraftTable.create(spark, loc, Seq((0L, "")).toDF("k", "v").schema, cfg)
        t.write((0 until 10).map(i => (i.toLong, s"a$i")).toDF("k", "v"))
        Thread.sleep(20)
        val cut = System.currentTimeMillis()
        Thread.sleep(20)
        t.write(Seq((3L, "b3"), (20L, "b20")).toDF("k", "v"))
        t.write(Seq((20L, "c20")).toDF("k", "v"))
        t.setOption("scan.file-creation-time-millis", cut.toString)
        def library(c: Option[Column]) =
          GraftTable.load(spark, loc).read(c).as[(Long, String)].collect().toSet
        def sql(c: Option[Column]) =
          c.foldLeft(load(loc))(_ filter _).as[(Long, String)].collect().toSet
        // only the two files written after the cutoff serve (merged on PK)
        val after =
          if (kind == "pk") Set((3L, "b3"), (20L, "c20"))
          else Set((3L, "b3"), (20L, "b20"), (20L, "c20"))
        assert(library(None) == after && sql(None) == after, kind)
        Seq(3L, 5L, 20L).foreach { key =>
          val c = Some(col("k") === key)
          assert(library(c) == after.filter(_._1 == key) && sql(c) == after.filter(_._1 == key),
            s"$kind k=$key")
        }
        val counted = load(loc).agg(count(lit(1)))
        assert(counted.head().getLong(0) == after.size, kind)
        // append files are final: the count is answered from the manifest
        if (kind == "append")
          assert(counted.queryExecution.executedPlan.toString.contains("GraftAggScan"))
        assert(GraftTable.load(spark, loc).read().count() == after.size, kind)
        // compaction merges every live file, the pre-cutoff one included
        GraftTable.load(spark, loc).compact()
        val compacted = GraftTable.load(spark, loc)
        assert(compacted.planFiles().forall(e => compacted.entryCreationTime(e) >= cut), kind)
        val all = if (kind == "pk") 11 else 13
        assert(library(None).size == all && sql(None).size == all, kind)
      }
  }

  test("library and SQL reads of one PK state plan the same scan") {
    val loc = tmpLoc("pointread-venue")
    val t = GraftTable.create(spark, loc, Seq((0L, "")).toDF("k", "v").schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 2))
    t.write((0 until 40).map(i => (i.toLong, s"a$i")).toDF("k", "v"))
    t.write((0 until 40 by 3).map(i => (i.toLong, s"b$i")).toDF("k", "v"))
    def scanNodes(df: DataFrame): Seq[String] =
      plans.collectLeaves(df.queryExecution.executedPlan).map {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan.getClass.getSimpleName
        case leaf => leaf.getClass.getSimpleName
      }
    def same(state: String): Unit =
      Seq(None, Some(col("k") === 6L), Some(col("k").isin(1L, 2L, 3L)),
          Some(col("v").startsWith("b"))).foreach { c =>
        val library = GraftTable.load(spark, loc).read(c)
        val sql = c.foldLeft(load(loc))(_ filter _)
        assert(scanNodes(library) == scanNodes(sql), s"$state $c")
        assertSameRows(library, c.foldLeft(oracle(loc))(_ filter _))
        assertSameRows(sql, c.foldLeft(oracle(loc))(_ filter _))
      }
    assert(ReadPlans.inScan(t.readPlan()))
    same("merge buckets")
    t.compact()
    assert(ReadPlans.rawEntries(t.readPlan()).isDefined)
    same("compacted")
    t.deleteDv(col("k") === 7L)
    same("compacted, deletion vector")
  }

  test("one task can read a compacted PK table twice, as rdd.zip does") {
    // KMeans zips its input with a map of itself: both sides open a reader
    // over the same partition in one task
    val loc = tmpLoc("pointread-zip")
    val t = GraftTable.create(spark, loc, Seq((0L, "")).toDF("k", "v").schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 2))
    t.write((0 until 300).map(i => (i.toLong, s"a$i")).toDF("k", "v"))
    t.write((0 until 300 by 7).map(i => (i.toLong, s"b$i")).toDF("k", "v"))
    t.compact()
    assert(ReadPlans.rawEntries(t.readPlan()).isDefined)
    Seq("library" -> GraftTable.load(spark, loc).read(), "sql" -> load(loc)).foreach {
      case (kind, df) =>
        val rdd = df.rdd.map(r => (r.getLong(0), r.getString(1)))
        val zipped = rdd.zip(rdd.map(_._1)).collect()
        assert(zipped.forall { case ((k, _), k2) => k == k2 }, kind)
        assert(zipped.map(_._1).toSet == rowsOf(oracle(loc)).map(r =>
          (r(0).asInstanceOf[Long], r(1).asInstanceOf[String])), kind)
    }
  }

  test("a full-compaction changelog reads the merged state once") {
    val loc = tmpLoc("pointread-fcl")
    val t = GraftTable.create(spark, loc, Seq((0L, "")).toDF("k", "v").schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 2,
        options = Map("changelog-producer" -> "full-compaction")))
    t.write((0 until 20).map(i => (i.toLong, s"a$i")).toDF("k", "v"))
    t.write((0 until 20 by 3).map(i => (i.toLong, s"b$i")).toDF("k", "v"))
    val jobs = SparkJobs.during(spark)(t.compact())
    // one stage runs the in-scan merge; the diff reads the written files
    assert(jobs.dsv2ScanStages == 1, jobs)
  }
}
