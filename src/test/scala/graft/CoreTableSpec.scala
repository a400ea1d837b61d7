package graft

import graft.core._
import graft.core.RowOps._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.extensions", "graft.dsv2.GraftSparkExtensions")
    // no-fork local FS: Hadoop's chmod shell-out per checkpoint mkdir/create
    // can die on a loaded host (r13 driver run) — see graft/LocalFs.scala
    .config("spark.hadoop.fs.file.impl", classOf[NoForkLocalFileSystem].getName)
    .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
      classOf[NoForkLocalFs].getName)
    .getOrCreate()

  override def afterAll(): Unit = { /* shared session across suites */ }

  def tmpLoc(name: String): String =
    Files.createTempDirectory(s"graft-$name").resolve("t").toString

  def rowsOf(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq.map {
      case d: Double => BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      case x => x
    }.toList: Seq[Any]).toSet

  def withSQLConf(pairs: (String, String)*)(f: => Unit): Unit = {
    val olds = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    val (ra, rb) = (rowsOf(a), rowsOf(b))
    assert(ra == rb, s"\nonly in left: ${(ra -- rb).take(5)}\nonly in right: ${(rb -- ra).take(5)}")
  }
}

class CoreTableSpec extends SparkTestBase {
  import spark.implicits._

  private def mkOrders: DataFrame = Seq(
    (1L, "A", 10.0, "2024-01-01"),
    (2L, "B", 20.0, "2024-01-01"),
    (3L, "A", 30.0, "2024-01-02"),
    (4L, "C", 40.0, "2024-01-02")
  ).toDF("k", "status", "price", "dt")

  test("fixed vector dimension (fields.<col>.dimension) enforced at write") {
    val loc = tmpLoc("vecdim")
    val df = Seq((1L, Seq(1f, 2f, 3f, 4f))).toDF("k", "emb")
    val t = GraftTable.create(spark, loc, df.schema,
      TableConfig(options = Map("fields.emb.dimension" -> "4")))
    t.write(df) // conforming write lands
    t.write(Seq((2L, null.asInstanceOf[Seq[Float]])).toDF("k", "emb")) // nulls pass
    assert(t.read().count() == 2)
    // a mismatched dimension fails the write instead of silently corrupting
    // every index later built over the column
    val ex = intercept[Exception] {
      t.write(Seq((3L, Seq(1f, 2f))).toDF("k", "emb"))
    }
    assert(ex.getMessage.contains("dimension") ||
      Option(ex.getCause).exists(_.getMessage.contains("dimension")), ex.toString)
    assert(t.read().count() == 2, "failed write must not commit")
  }

  test("chain table: anchor merge, compact_chain_table materializes the chain") {
    import graft.core.RowOps._
    val loc = tmpLoc("chain")
    val schema = Seq((1L, "v", 1L, "d1")).toDF("k", "v", "seq", "day").schema
    val t = GraftTable.create(spark, loc, schema,
      TableConfig(primaryKeys = Seq("day", "k"), partitionKeys = Seq("day"),
        numBuckets = 1, sequenceField = Some("seq"),
        options = Map("chain-table.enabled" -> "true")))
    t.write(Seq.empty[(Long, String, Long, String)].toDF("k", "v", "seq", "day"))
    t.createBranch("snapshot")
    t.createBranch("delta")
    t.onBranch("snapshot").write(Seq(
      (1L, "a", 1L, "d1"), (2L, "b", 1L, "d1"), (3L, "c", 1L, "d1"))
      .toDF("k", "v", "seq", "day"))
    t.onBranch("delta").write(Seq(
      (2L, "b2", 2L, "d2"), (4L, "d", 2L, "d2"))
      .toDF("k", "v", "seq", "day"))
    // snapshot partition present → direct read
    assert(t.readChain("d1").select("k").as[Long].collect().toSet == Set(1L, 2L, 3L))
    // chain merge: d1 anchor ⊕ d2 delta
    val d2 = t.readChain("d2").select("k", "v").as[(Long, String)].collect().toMap
    assert(d2 == Map(1L -> "a", 2L -> "b2", 3L -> "c", 4L -> "d"), s"got $d2")
    // compaction materializes d2 into the snapshot branch
    Procedures.call(spark, t, "compact_chain_table", Map("partition" -> "day='d2'"))
    val snapD2 = t.onBranch("snapshot")
      .read(Some(col("day") === "d2")).select("k", "v").as[(Long, String)]
      .collect().toMap
    assert(snapD2 == Map(1L -> "a", 2L -> "b2", 3L -> "c", 4L -> "d"))
    // post-compaction chain read takes the direct path, day rewritten to d2
    val fast = t.readChain("d2").select("k", "day").as[(Long, String)].collect()
    assert(fast.length == 4 && fast.forall(_._2 == "d2"))
    // earlier day untouched
    assert(t.readChain("d1").count() == 3)
  }

  test("randomized chain table vs an independent Scala model (2 seeds)") {
    import graft.core.RowOps._
    for (seed <- Seq(11, 23)) {
      val rnd = new scala.util.Random(seed)
      val loc = tmpLoc(s"chain-fuzz-$seed")
      val schema = Seq((1L, "v", 1L, "d1")).toDF("k", "v", "seq", "day").schema
      val t = GraftTable.create(spark, loc, schema,
        TableConfig(primaryKeys = Seq("day", "k"), partitionKeys = Seq("day"),
          numBuckets = 1, sequenceField = Some("seq"),
          options = Map("chain-table.enabled" -> "true")))
      t.write(Seq.empty[(Long, String, Long, String)].toDF("k", "v", "seq", "day"))
      t.createBranch("snapshot"); t.createBranch("delta")

      val days = (1 to 6).map(i => s"d$i")
      var seq = 0L
      // (branch, day, key) -> (value, seq); later writes get higher seq
      val written = scala.collection.mutable.ArrayBuffer[(String, String, Long, String, Long)]()
      val snapDays = days.filter(_ => rnd.nextBoolean()) match {
        case Seq() => Seq(days.head); case ds => ds
      }
      snapDays.foreach { d =>
        seq += 1
        val rows = (1L to 20L).filter(_ => rnd.nextDouble() < 0.6)
          .map(k => (k, s"s$d-$k-${rnd.nextInt(100)}", seq, d))
        t.onBranch("snapshot").write(rows.toDF("k", "v", "seq", "day"))
        rows.foreach(r => written += (("snapshot", d, r._1, r._2, seq)))
      }
      days.foreach { d =>
        if (rnd.nextDouble() < 0.7) {
          seq += 1
          val rows = (1L to 20L).filter(_ => rnd.nextDouble() < 0.3)
            .map(k => (k, s"x$d-$k-${rnd.nextInt(100)}", seq, d))
          if (rows.nonEmpty) {
            t.onBranch("delta").write(rows.toDF("k", "v", "seq", "day"))
            rows.foreach(r => written += (("delta", d, r._1, r._2, seq)))
          }
        }
      }

      // independent model of readChain: snapshot day present -> direct;
      // else anchor = latest snapshot day <= target, candidates = anchor
      // snapshot rows + delta rows in (anchor, target]; winner per key by
      // (day desc, seq desc)
      def model(target: String): Map[Long, String] = {
        val snapDaysWritten = written.filter(_._1 == "snapshot").map(_._2).distinct.sorted
        if (snapDaysWritten.contains(target))
          return written.filter(w => w._1 == "snapshot" && w._2 == target)
            .groupBy(_._3).map { case (k, ws) => k -> ws.maxBy(_._5)._4 }
        val anchor = snapDaysWritten.filter(_ <= target).lastOption
        val cands = written.filter { w =>
          (w._1 == "snapshot" && anchor.contains(w._2)) ||
          (w._1 == "delta" && anchor.forall(w._2 > _) && w._2 <= target)
        }
        cands.groupBy(_._3).map { case (k, ws) =>
          k -> ws.maxBy(w => (w._2, w._5))._4 }
      }

      days.foreach { d =>
        val got = t.readChain(d).select("k", "v").as[(Long, String)].collect().toMap
        val want = model(d)
        assert(got == want,
          s"seed=$seed day=$d\n got=${got.toSeq.sortBy(_._1)}\nwant=${want.toSeq.sortBy(_._1)}")
      }
    }
  }

  test("compaction size-rolling: multiple level-1 files stay raw-convertible") {
    import graft.core.RowOps._
    val loc = tmpLoc("roll")
    val df = spark.range(1000).select(col("id").as("k"),
      concat(lit("v"), col("id")).as("v"))
    val t = GraftTable.create(spark, loc, df.schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1,
        options = Map("write.max-records-per-file" -> "300")))
    t.write(df)
    t.write(df.filter(col("k") < 100).withColumn("v", concat(lit("u"), col("k"))))
    assert(t.compact().isDefined)
    val entries = t.planFiles()
    assert(entries.size > 1, s"expected rolled files, got ${entries.size}")
    assert(entries.forall(_.level > 0))
    // rolled outputs are raw-convertible: no merge plan needed
    assert(ReadPlans.rawEntries(t.readPlan()).isDefined)
    // further compaction is a no-op (already compact)
    assert(t.compact().isEmpty)
    val got = t.read()
    assert(got.count() == 1000)
    assert(got.filter(col("k") === 50).select("v").as[String].head() == "u50")
    assert(got.filter(col("k") === 500).select("v").as[String].head() == "v500")
    // stats pruning still per-file: an equality hits a subset of rolled files
    val pruned = t.planFiles(None, Some(col("k") === 999L))
    assert(pruned.size < entries.size)
  }

  test("readWithMetadata: file/row-index/partition/bucket, DV + evolution aware") {
    val loc = tmpLoc("metacols")
    val t = GraftTable.create(spark, loc, mkOrders.schema,
      TableConfig(partitionKeys = Seq("dt"), numBuckets = 2))
    t.write(mkOrders)
    val df = t.readWithMetadata()
    assert(df.count() == 4)
    val r = df.filter(col("k") === 1L).head()
    assert(r.getAs[String](GraftTable.FILE_PATH_COL).contains("__bucket="))
    assert(r.getAs[Long](GraftTable.ROW_INDEX_COL) >= 0L)
    assert(r.getAs[org.apache.spark.sql.Row](GraftTable.PARTITION_COL)
      .getAs[String]("dt") == "2024-01-01")
    val b = r.getAs[Int](GraftTable.BUCKET_COL)
    assert(b >= 0 && b < 2)
    // deletion vectors: dropped rows vanish from the metadata read too
    t.deleteDv(col("k") === 3L)
    assert(t.readWithMetadata().select("k").as[Long].collect().toSet ==
      Set(1L, 2L, 4L))
    // unsupported engines refuse (file identity undefined after merge)
    val loc2 = tmpLoc("metacols-pu")
    val t2 = GraftTable.create(spark, loc2, mkOrders.schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1,
        mergeEngine = "partial-update"))
    intercept[IllegalArgumentException] { t2.readWithMetadata() }
  }

  test("pk dedup: second write wins, raw vs merge paths agree") {
    val loc = tmpLoc("dedup")
    val t = GraftTable.create(spark, loc, mkOrders.schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 2))
    t.write(mkOrders)
    t.write(Seq((2L, "B2", 99.0, "2024-01-01"), (5L, "D", 50.0, "2024-01-03"))
      .toDF("k", "status", "price", "dt"))
    val got = t.read()
    val expected = Seq(
      (1L, "A", 10.0, "2024-01-01"), (2L, "B2", 99.0, "2024-01-01"),
      (3L, "A", 30.0, "2024-01-02"), (4L, "C", 40.0, "2024-01-02"),
      (5L, "D", 50.0, "2024-01-03")).toDF("k", "status", "price", "dt")
    assertSameRows(got, expected)
    // compaction preserves results and flips to raw path
    assert(t.compact().isDefined)
    assertSameRows(t.read(), expected)
    assert(t.compact().isEmpty) // idempotent no-op
    // filter pushdown + pruning path
    assertSameRows(t.read(filter = Some(col("k") === 2L)),
      expected.filter(col("k") === 2L))
  }

  test("z-order clustering prunes files for 2-D range filters") {
    val loc = tmpLoc("zprune")
    val df = spark.range(40000).select(
      (col("id") % 200).cast("double").as("x"),
      (floor(col("id") / 200) % 200).cast("double").as("y"),
      col("id").as("payload"))
    val t = GraftTable.create(spark, loc, df.schema, TableConfig())
    t.write(df)
    t.compactSorted("zorder", Seq("x", "y"), targetPartitions = 16)
    val total = t.planFiles().size
    val pruned = t.planFiles(filter =
      Some(col("x").between(10.0, 30.0) && col("y").between(10.0, 30.0))).size
    assert(total >= 8, s"expected several files, got $total")
    assert(pruned <= total / 2,
      s"z-order should prune most files for a 2-D box: $pruned of $total")
    // correctness unaffected
    assert(t.read(filter = Some(col("x").between(10.0, 30.0) && col("y").between(10.0, 30.0)))
      .count() == 21L * 21L)
  }

  test("hilbert clustering prunes files for 2-D range filters") {
    val loc = tmpLoc("hprune")
    val df = spark.range(40000).select(
      (col("id") % 200).cast("double").as("x"),
      (floor(col("id") / 200) % 200).cast("double").as("y"),
      col("id").as("payload"))
    val t = GraftTable.create(spark, loc, df.schema, TableConfig())
    t.write(df)
    t.compactSorted("hilbert", Seq("x", "y"), targetPartitions = 16)
    val total = t.planFiles().size
    val box = col("x").between(10.0, 30.0) && col("y").between(10.0, 30.0)
    val pruned = t.planFiles(filter = Some(box)).size
    assert(total >= 8, s"expected several files, got $total")
    assert(pruned <= total / 2,
      s"hilbert should prune most files for a 2-D box: $pruned of $total")
    assert(t.read(filter = Some(box)).count() == 21L * 21L)
  }

  test("maintenance procedures: expire_partitions, purge, repair, rescale; binlog/statistics system tables") {
    val loc = tmpLoc("procs")
    val df = Seq((1L, "2024-01-01", 1.0), (2L, "2024-02-01", 2.0), (3L, "2024-03-01", 3.0))
      .toDF("k", "dt", "v")
    val t = GraftTable.create(spark, loc, df.schema,
      TableConfig(partitionKeys = Seq("dt")))
    t.write(df)
    Procedures.call(spark, t, "expire_partitions", Map("older_than" -> "2024-02-01"))
    assert(t.read().select("k").as[Long].collect().toSet == Set(2L, 3L))
    // remove_unexisting_files repairs a manually-broken table
    val victim = t.planFiles().head
    t.sm.fs.delete(new org.apache.hadoop.fs.Path(t.location, victim.path), false)
    Procedures.call(spark, t, "remove_unexisting_files")
    assert(t.planFiles().size == 1 && t.read().count() == 1)
    Procedures.call(spark, t, "purge_files")
    assert(t.read().count() == 0)
    // rescale a PK table
    val loc2 = tmpLoc("rescale")
    val t2 = GraftTable.create(spark, loc2, Seq((1L, "a")).toDF("k", "v").schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1))
    t2.write((1L to 100L).map(i => (i, s"v$i")).toDF("k", "v"))
    Procedures.call(spark, t2, "rescale", Map("bucket" -> "4"))
    val t2r = GraftTable.load(spark, loc2)
    assert(t2r.config.numBuckets == 4)
    assert(t2r.planFiles().map(_.bucket).distinct.size == 4)
    assert(t2r.read().count() == 100)
    // binlog packs the last commit's changes per key
    val loc3 = tmpLoc("binlog")
    val t3 = GraftTable.create(spark, loc3, Seq((1L, 1.0)).toDF("k", "v").schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1))
    t3.write(Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v"))
    t3.write(Seq((2L, 22.0), (3L, 3.0)).toDF("k", "v"))
    val bl = t3.systemTable("binlog").orderBy("k")
      .select(col("k"), col("rowkind"), col("v"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getSeq[Double](2)))
    assert(bl.toSeq == Seq((2L, "+U", Seq(2.0, 22.0)), (3L, "+I", Seq(3.0))), s"got ${bl.toSeq}")
    // aggregation_fields + statistics_cols
    assert(t3.systemTable("aggregation_fields").count() == 2)
    t3.analyze()
    val st = t3.systemTable("statistics_cols")
    assert(st.count() == 2 && st.columns.contains("distinct_count"))
  }

  test("incremental clustering sorts only new files, keeps prior output") {
    val loc = tmpLoc("inccluster")
    val df1 = spark.range(1000).select(col("id").as("x"), (col("id") * 2).as("y"))
    val t = GraftTable.create(spark, loc, df1.schema, TableConfig())
    t.write(df1)
    assert(t.clusterIncremental("order", Seq("x"), 4).isDefined)
    val firstRun = t.planFiles().map(_.path).toSet
    assert(t.planFiles().forall(_.level == 1))
    // idempotent when nothing new
    assert(t.clusterIncremental("order", Seq("x"), 4).isEmpty)
    // new batch → only IT gets clustered; first run's files untouched
    t.write(spark.range(1000, 2000).select(col("id").as("x"), (col("id") * 2).as("y")))
    assert(t.clusterIncremental("order", Seq("x"), 4).isDefined)
    val afterSecond = t.planFiles().map(_.path).toSet
    assert(firstRun.subsetOf(afterSecond), "prior clustered files must be preserved")
    assert(t.read().count() == 2000)
    // clustered ranges prune
    val pruned = t.planFiles(filter = Some(col("x") < 100))
    assert(pruned.size < t.planFiles().size)
  }

  test("time travel, tags, incremental, changelog") {
    val loc = tmpLoc("tt")
    val t = GraftTable.create(spark, loc, mkOrders.schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 2))
    t.write(mkOrders) // snapshot 1
    t.write(Seq((2L, "B2", 99.0, "2024-01-01")).toDF("k", "status", "price", "dt")) // 2
    t.sm.createTag("v1", 1)
    assertSameRows(t.read(None, Some(1L)), mkOrders)
    assertSameRows(t.readTag("v1"), mkOrders)
    // incremental between 1 and 2: only the changed row
    assertSameRows(t.incremental(1, 2),
      Seq((2L, "B2", 99.0, "2024-01-01")).toDF("k", "status", "price", "dt"))
    // changelog: -U/+U pair for key 2
    val cl = t.changelog(1, 2).select("k", "_row_kind").as[(Long, String)].collect().toSet
    assert(cl == Set((2L, "-U"), (2L, "+U")))
  }

  test("partial-update merge engine folds non-null fields by sequence") {
    val loc = tmpLoc("pu")
    val schema = Seq((1L, Option("a"), Option(1.0), 1L)).toDF("k", "name", "score", "ver").schema
    val t = GraftTable.create(spark, loc, schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1,
        mergeEngine = "partial-update", sequenceField = Some("ver")))
    t.write(Seq((1L, Option("a"), Option(1.0), 1L), (2L, Option("b"), None: Option[Double], 1L))
      .toDF("k", "name", "score", "ver"))
    t.write(Seq((1L, None: Option[String], Option(9.0), 2L), (2L, Option("b2"), None: Option[Double], 2L))
      .toDF("k", "name", "score", "ver"))
    val expected = Seq((1L, Option("a"), Option(9.0), 2L), (2L, Option("b2"), None: Option[Double], 2L))
      .toDF("k", "name", "score", "ver")
    assertSameRows(t.read(), expected)
    t.compact()
    assertSameRows(t.read(), expected)
  }

  test("aggregation for partial-update: sequence group as ordering key (doc examples)") {
    // partial-update.md:175-205 — first_value ordered by group seq `a`,
    // sum over rows whose group seq `c` is non-null
    val loc = tmpLoc("pu-agg")
    val schema = Seq((1, Option(1), Option(1), Option(1), Option(1)))
      .toDF("k", "a", "b", "c", "d").schema
    val t = GraftTable.create(spark, loc, schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1,
        mergeEngine = "partial-update",
        fieldAggregates = Map("b" -> "first_value", "d" -> "sum"),
        options = Map("fields.a.sequence-group" -> "b",
          "fields.c.sequence-group" -> "d")))
    def row(a: Option[Int], b: Option[Int], c: Option[Int], d: Option[Int]) =
      Seq((1, a, b, c, d)).toDF("k", "a", "b", "c", "d")
    t.write(row(Some(1), Some(1), None, None))
    t.write(row(None, None, Some(1), Some(1)))
    t.write(row(Some(2), Some(2), None, None))
    t.compact() // associativity: the folded accumulator keeps aggregating
    t.write(row(None, None, Some(2), Some(2)))
    val got = t.read().select("k", "a", "b", "c", "d")
      .as[(Int, Option[Int], Option[Int], Option[Int], Option[Int])].head()
    assert(got == ((1, Some(2), Some(1), Some(2), Some(3))), s"got $got")

    // partial-update.md:208-240 — agg on a composite sequence group; the
    // non-grouped field b stays last-non-null; c's group (g_2) null → skip
    val loc2 = tmpLoc("pu-agg2")
    val schema2 = Seq((1, Option(1), Option(1), Option(1), Option("x"),
        Option(1), Option(1)))
      .toDF("k", "a", "b", "g_1", "c", "g_2", "g_3").schema
    val t2 = GraftTable.create(spark, loc2, schema2,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1,
        mergeEngine = "partial-update",
        fieldAggregates = Map("a" -> "sum"),
        options = Map("fields.g_1,g_3.sequence-group" -> "a",
          "fields.g_2.sequence-group" -> "c")))
    t2.write(Seq((1, Option(1), Option(1), Option(1), Option("1"), Option(1), Option(1)))
      .toDF("k", "a", "b", "g_1", "c", "g_2", "g_3"))
    t2.write(Seq((1, Option(2), Option(2), Option(2), Option("2"), Option.empty[Int], Option(2)))
      .toDF("k", "a", "b", "g_1", "c", "g_2", "g_3"))
    val got2 = t2.read().select("k", "a", "b", "g_1", "c", "g_2", "g_3")
      .as[(Int, Option[Int], Option[Int], Option[Int], Option[String], Option[Int], Option[Int])]
      .head()
    assert(got2 == ((1, Some(3), Some(2), Some(2), Some("1"), Some(1), Some(2))),
      s"got $got2")
  }

  test("aggregation retraction: collect/merge_map/last_value/last_non_null_value/nested_partial_update") {
    val loc = tmpLoc("agg-retract2")
    val df = Seq((1L, Seq("a"), Map("k1" -> 1), Option("v"), Option("n"),
        Seq((1, Option("p"))), "+I"))
      .toDF("k", "co", "mm", "lv", "ln", "np", "rk")
      .select(col("k"), col("co"), col("mm"), col("lv"), col("ln"),
        col("np").cast("array<struct<id:int,p:string>>").as("np"), col("rk"))
    val t = GraftTable.create(spark, loc, df.schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1,
        mergeEngine = "aggregation",
        fieldAggregates = Map("co" -> "collect", "mm" -> "merge_map",
          "lv" -> "last_value", "ln" -> "last_non_null_value",
          "np" -> "nested_partial_update"),
        options = Map("rowkind.field" -> "rk",
          "fields.np.nested-key" -> "id")))
    def w(k: Long, co: Seq[String], mm: Map[String, Int], lv: Option[String],
          ln: Option[String], np: Seq[(Int, Option[String])], rk: String): Unit =
      t.write(Seq((k, co, mm, lv, ln, np, rk))
        .toDF("k", "co", "mm", "lv", "ln", "np", "rk")
        .select(col("k"), col("co"), col("mm"), col("lv"), col("ln"),
          col("np").cast("array<struct<id:int,p:string>>").as("np"), col("rk")))
    w(1L, Seq("a", "b", "a"), Map("k1" -> 1, "k2" -> 2), Some("v1"), Some("n1"),
      Seq((10, Some("p1")), (11, Some("p2"))), "+I")
    // retract: collect removes ONE "a"; merge_map drops key k2; last_value
    // and last_non_null_value null out; nested row id=11 removed
    w(1L, Seq("a"), Map("k2" -> 99), Some("x"), Some("x"),
      Seq((11, None)), "-D")
    t.compact()
    val r = t.read().select("co", "mm", "lv", "ln", "np")
      .as[(Seq[String], Map[String, Int], Option[String], Option[String],
           Seq[(Int, Option[String])])].head()
    assert(r._1 == Seq("b", "a"), s"collect: ${r._1}")
    assert(r._2 == Map("k1" -> 1), s"merge_map: ${r._2}")
    assert(r._3.isEmpty, s"last_value: ${r._3}")
    assert(r._4.isEmpty, s"last_non_null_value: ${r._4}")
    assert(r._5 == Seq((10, Some("p1"))), s"nested_partial_update: ${r._5}")
    // post-retract inserts land on the folded accumulator
    w(1L, Seq("c"), Map("k3" -> 3), Some("v2"), Some("n2"), Seq((12, Some("p3"))), "+I")
    val r2 = t.read().select("co", "mm", "lv", "ln", "np")
      .as[(Seq[String], Map[String, Int], Option[String], Option[String],
           Seq[(Int, Option[String])])].head()
    assert(r2._1 == Seq("b", "a", "c"), s"collect2: ${r2._1}")
    assert(r2._2 == Map("k1" -> 1, "k3" -> 3), s"merge_map2: ${r2._2}")
    assert(r2._3 == Some("v2") && r2._4 == Some("n2"), s"lv/ln2: ${r2._3}/${r2._4}")
    assert(r2._5 == Seq((10, Some("p1")), (12, Some("p3"))), s"np2: ${r2._5}")
  }

  test("partial-update retraction with sequence groups (retractWithSequenceGroup)") {
    val loc = tmpLoc("pu-retract")
    val schema = Seq((1L, Option("a"), Option(1L), Option("b"), Option(1.0), "+I"))
      .toDF("k", "a", "g", "b", "s", "rk").schema
    val t = GraftTable.create(spark, loc, schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1,
        mergeEngine = "partial-update",
        fieldAggregates = Map("s" -> "sum"),
        options = Map("fields.g.sequence-group" -> "b,s",
          "rowkind.field" -> "rk")))
    def w(rows: (Long, Option[String], Option[Long], Option[String], Option[Double], String)*): Unit =
      t.write(rows.toDF("k", "a", "g", "b", "s", "rk"))
    w((1L, Some("a1"), Some(1L), Some("x"), Some(5.0), "+I"),
      (2L, Some("a2"), Some(1L), Some("z"), Some(2.0), "+I"))
    w((1L, None, Some(2L), Some("y"), Some(3.0), "+I"))
    // retract with winning seq: advances g, NULLs b, subtracts s;
    // non-group field a untouched
    w((1L, Some("aX"), Some(3L), Some("ignored"), Some(3.0), "-D"))
    val r1 = t.read().filter(col("k") === 1L)
      .select("a", "g", "b", "s")
      .as[(Option[String], Option[Long], Option[String], Option[Double])].head()
    assert(r1 == ((Some("a1"), Some(3L), None, Some(5.0))), s"got $r1")
    // retract with LOWER seq: group fields keep the winner, but the
    // aggregate still subtracts (ordering key, not filter)
    w((1L, None, Some(1L), Some("w"), Some(2.0), "-D"))
    t.compact() // fold survives compaction as an insert accumulator
    val r2 = t.read().filter(col("k") === 1L)
      .select("a", "g", "b", "s")
      .as[(Option[String], Option[Long], Option[String], Option[Double])].head()
    assert(r2 == ((Some("a1"), Some(3L), None, Some(3.0))), s"got $r2")
    // a key that only ever saw retract records yields no row
    w((3L, Some("a3"), Some(9L), Some("gone"), Some(1.0), "-D"))
    assert(t.read().filter(col("k") === 3L).count() == 0)
    assert(t.read().count() == 2)
  }

  test("scan.file-creation-time-millis restricts batch reads to newer files") {
    val loc = tmpLoc("fct-batch")
    val schema = Seq((1L, "v")).toDF("k", "v").schema
    val t = GraftTable.create(spark, loc, schema, TableConfig())
    t.write(Seq((1L, "old")).toDF("k", "v"))
    Thread.sleep(1200)
    val cutoff = System.currentTimeMillis()
    t.write(Seq((2L, "new")).toDF("k", "v"))
    val t2 = GraftTable.load(spark, loc)
    t2.setOptions(Map("scan.file-creation-time-millis" -> cutoff.toString))
    val got = GraftTable.load(spark, loc).read().select("k").as[Long].collect().toSet
    assert(got == Set(2L), s"expected only the newer file, got $got")
    GraftTable.load(spark, loc).removeOptions(Seq("scan.file-creation-time-millis"))
    assert(GraftTable.load(spark, loc).read().count() == 2)
  }

  test("file creation time is manifest-resident (immune to filesystem mtime)") {
    val loc = tmpLoc("fct-manifest")
    val schema = Seq((1L, "v")).toDF("k", "v").schema
    val t = GraftTable.create(spark, loc, schema, TableConfig())
    t.write(Seq((1L, "old")).toDF("k", "v"))
    Thread.sleep(1200)
    val cutoff = System.currentTimeMillis()
    t.write(Seq((2L, "new")).toDF("k", "v"))
    val entries = t.planFiles()
    assert(entries.forall(_.creationTime > 0L), "manifest missing creationTime")
    // byte-copy simulation: bump every data file's filesystem mtime PAST the
    // cutoff — the filter must still read the manifest's creation time, so
    // the old file stays excluded (and planning does zero per-file stats)
    val fs = t.sm.fs
    entries.foreach(e => fs.setTimes(
      new org.apache.hadoop.fs.Path(loc, e.path), System.currentTimeMillis() + 600000, -1))
    GraftTable.load(spark, loc)
      .setOptions(Map("scan.file-creation-time-millis" -> cutoff.toString))
    val got = GraftTable.load(spark, loc).read().select("k").as[Long].collect().toSet
    assert(got == Set(2L),
      s"filter used filesystem mtime instead of manifest creation time: $got")
    GraftTable.load(spark, loc).removeOptions(Seq("scan.file-creation-time-millis"))
  }

  test("partition.expiration-strategy=update-time expires idle partitions by last write time") {
    val loc = tmpLoc("pt-upd-exp")
    val schema = Seq((1L, "v", "a")).toDF("k", "v", "pt").schema
    val t = GraftTable.create(spark, loc, schema,
      TableConfig(partitionKeys = Seq("pt"),
        options = Map("partition.expiration-time" -> "2s",
          "partition.expiration-strategy" -> "update-time")))
    t.write(Seq((1L, "x", "a")).toDF("k", "v", "pt"))
    Thread.sleep(3000)
    t.write(Seq((2L, "y", "b")).toDF("k", "v", "pt")) // commit hook expires 'a'
    val parts = GraftTable.load(spark, loc).read()
      .select("pt").as[String].collect().toSet
    assert(parts == Set("b"), s"expected idle partition 'a' expired, got $parts")
  }

  test("dynamic-bucket initial-buckets spread + max-buckets cap") {
    val loc = tmpLoc("dynb")
    val schema = Seq((1L, "v")).toDF("k", "v").schema
    val t = GraftTable.create(spark, loc, schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = -1,
        options = Map("dynamic-bucket.target-row-num" -> "5",
          "dynamic-bucket.initial-buckets" -> "3",
          "dynamic-bucket.max-buckets" -> "4")))
    t.write((0L until 40L).map(k => (k, s"v$k")).toDF("k", "v"))
    val buckets = t.planFiles().map(_.bucket).toSet
    // 40 keys / target 5 = ids 0..39 → raw buckets 0..7, capped mod 4
    assert(buckets.subsetOf(Set(0, 1, 2, 3)), s"buckets $buckets")
    assert(buckets.size > 1, "initial-buckets should spread early keys")
    assert(t.read().count() == 40)
    // routing stays stable: re-upsert must not duplicate
    t.write((0L until 40L).map(k => (k, s"w$k")).toDF("k", "v"))
    assert(t.read().count() == 40)
    assert(t.read().filter(col("v").startsWith("w")).count() == 40)
  }

  test("metadata.stats-keep-first-n-columns + file.compression") {
    val loc = tmpLoc("statsn")
    val schema = Seq((1L, "a", "b")).toDF("k", "c1", "c2").schema
    val t = GraftTable.create(spark, loc, schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1,
        options = Map("metadata.stats-keep-first-n-columns" -> "2",
          "file.compression" -> "gzip")))
    t.write(Seq((1L, "a", "b"), (2L, "c", "d")).toDF("k", "c1", "c2"))
    val e = t.planFiles().head
    assert(e.stats.contains("c1") && e.stats("c1").min != null)
    assert(!e.stats.contains("c2") || e.stats("c2").min == null,
      s"c2 stats should be dropped: ${e.stats.get("c2")}")
    assert(e.stats.contains("k") && e.stats("k").min != null) // pk stays full
    // compression reached the writer
    val dataFiles = new java.io.File(loc).listFiles()
      .filter(_.isDirectory).flatMap(d =>
        org.apache.commons.io.FileUtils.listFiles(d,
          Array("parquet"), true).toArray.map(_.toString))
    assert(dataFiles.exists(_.contains(".gz.parquet")),
      s"expected gzip parquet files, got ${dataFiles.take(3).mkString(",")}")
  }

  test("sequence.field.sort-order=descending: smaller sequence wins") {
    val loc = tmpLoc("seq-desc")
    val schema = Seq((1L, "v", 5L)).toDF("k", "v", "ver").schema
    val t = GraftTable.create(spark, loc, schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1,
        sequenceField = Some("ver"),
        options = Map("sequence.field.sort-order" -> "descending")))
    t.write(Seq((1L, "a", 5L)).toDF("k", "v", "ver"))
    t.write(Seq((1L, "b", 3L)).toDF("k", "v", "ver")) // smaller = newer
    t.write(Seq((1L, "c", 9L)).toDF("k", "v", "ver")) // larger = older, loses
    assert(t.read().select("v").as[String].head() == "b")
  }

  test("aggregation.remove-record-on-delete resets the accumulated row") {
    val loc = tmpLoc("agg-reset")
    val schema = Seq((1L, Option(1.0), "+I")).toDF("k", "s", "rk").schema
    val t = GraftTable.create(spark, loc, schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1,
        mergeEngine = "aggregation",
        fieldAggregates = Map("s" -> "sum"),
        options = Map("rowkind.field" -> "rk",
          "aggregation.remove-record-on-delete" -> "true")))
    def w(rows: (Long, Option[Double], String)*): Unit =
      t.write(rows.toDF("k", "s", "rk"))
    w((1L, Some(2.0), "+I"), (2L, Some(5.0), "+I"))
    w((1L, Some(3.0), "+I"))
    w((1L, None, "-D")) // reset k=1
    w((1L, Some(7.0), "+I"), (2L, Some(1.0), "+I"))
    t.compact()
    val got = t.read().select("k", "s").as[(Long, Option[Double])].collect().toMap
    assert(got == Map(1L -> Some(7.0), 2L -> Some(6.0)), s"got $got")
    w((2L, None, "-D")) // delete with nothing after → key gone
    assert(t.read().filter(col("k") === 2L).count() == 0)
  }

  test("snapshot.ignore-empty-commit skips snapshots for no-file appends") {
    val loc = tmpLoc("empty-commit")
    val schema = Seq((1L, "v")).toDF("k", "v").schema
    val t = GraftTable.create(spark, loc, schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1,
        options = Map("snapshot.ignore-empty-commit" -> "true")))
    t.write(Seq((1L, "a")).toDF("k", "v"))
    val before = t.sm.latestSnapshotId
    t.write(Seq.empty[(Long, String)].toDF("k", "v"))
    assert(t.sm.latestSnapshotId == before)
  }

  test("changelog-producer.row-deduplicate: value-identical updates suppressed (default emits)") {
    val schema = Seq((1L, "v", 1)).toDF("k", "v", "ts").schema
    // default: a touched key emits -U/+U even when nothing changed
    val t1 = GraftTable.create(spark, tmpLoc("cl-dup"), schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1,
        options = Map("changelog-producer" -> "lookup")))
    t1.write(Seq((1L, "a", 1)).toDF("k", "v", "ts"))
    t1.write(Seq((1L, "a", 1)).toDF("k", "v", "ts"))
    assert(t1.changelog(1, 2).select("_row_kind").as[String].collect().sorted
      .toSeq == Seq("+U", "-U"))
    // row-deduplicate=true: suppressed; ignore-fields excludes ts from the
    // comparison so a ts-only change is also suppressed
    val t2 = GraftTable.create(spark, tmpLoc("cl-dedup"), schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1,
        options = Map("changelog-producer" -> "lookup",
          "changelog-producer.row-deduplicate" -> "true",
          "changelog-producer.row-deduplicate-ignore-fields" -> "ts")))
    t2.write(Seq((1L, "a", 1)).toDF("k", "v", "ts"))
    t2.write(Seq((1L, "a", 2)).toDF("k", "v", "ts")) // only ignored field
    assert(t2.changelog(1, 2).count() == 0)
    t2.write(Seq((1L, "b", 2)).toDF("k", "v", "ts")) // real change
    assert(t2.changelog(2, 3).select("_row_kind").as[String].collect().sorted
      .toSeq == Seq("+U", "-U"))
  }

  test("multiple sequence fields compared in order ('update_time,flag')") {
    val loc = tmpLoc("seq2")
    val schema = Seq((1L, "v", 10L, 1L)).toDF("k", "v", "ut", "flag").schema
    val t = GraftTable.create(spark, loc, schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1,
        sequenceField = Some("ut,flag")))
    // same update_time: the larger flag wins regardless of arrival order
    t.write(Seq((1L, "late-flag", 10L, 5L), (2L, "a", 10L, 1L)).toDF("k", "v", "ut", "flag"))
    t.write(Seq((1L, "early-flag", 10L, 2L), (2L, "b", 9L, 9L)).toDF("k", "v", "ut", "flag"))
    def state(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "v").as[(Long, String)].collect().toMap
    val want = Map(1L -> "late-flag", 2L -> "a") // k=2: ut 10 beats 9
    assert(state(t.read()) == want)
    // native merge-in-scan path honors __seq2 too
    assert(state(spark.read.format("graft").load(loc)) == want)
    t.compact()
    assert(state(t.read()) == want)
    // higher update_time still dominates any flag
    t.write(Seq((1L, "new-ut", 11L, 0L)).toDF("k", "v", "ut", "flag"))
    assert(state(t.read()) == (want + (1L -> "new-ut")))
  }

  test("sequence.snapshot-ordering: default commit ordering, constraints enforced") {
    val schema = Seq((1L, "v")).toDF("k", "v").schema
    intercept[IllegalArgumentException] {
      GraftTable.create(spark, tmpLoc("sso-bad"), schema,
        TableConfig(primaryKeys = Seq("k"), numBuckets = 1,
          options = Map("sequence.snapshot-ordering" -> "true")))
    }
    val t = GraftTable.create(spark, tmpLoc("sso"), schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1,
        options = Map("sequence.snapshot-ordering" -> "true",
          "write-only" -> "true")))
    t.write(Seq((1L, "first")).toDF("k", "v"))
    t.write(Seq((1L, "second")).toDF("k", "v"))
    assert(t.read().select("v").as[String].head() == "second")
  }

  test("aggregation merge engine: sum/max/last_non_null") {
    val loc = tmpLoc("agg")
    val schema = Seq((1L, 1.0, 1, "x")).toDF("k", "total", "hi", "note").schema
    val t = GraftTable.create(spark, loc, schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1,
        mergeEngine = "aggregation",
        fieldAggregates = Map("total" -> "sum", "hi" -> "max")))
    t.write(Seq((1L, 1.0, 5, "a"), (1L, 2.0, 3, "b"), (2L, 10.0, 1, "c")).toDF("k", "total", "hi", "note"))
    t.write(Seq((1L, 4.0, 9, "d")).toDF("k", "total", "hi", "note"))
    val got = t.read().orderBy("k").as[(Long, Double, Int, String)].collect().toSeq
    assert(got.map(r => (r._1, r._2, r._3)) == Seq((1L, 7.0, 9), (2L, 10.0, 1)))
    t.compact()
    val got2 = t.read().orderBy("k").as[(Long, Double, Int, String)].collect().toSeq
    assert(got2.map(r => (r._1, r._2, r._3)) == Seq((1L, 7.0, 9), (2L, 10.0, 1)))
  }

  test("aggregation engine retraction: sum/count/product subtract, ignore-retract and max ignore") {
    val loc = tmpLoc("aggretract")
    val schema = Seq((1L, 1.0, 1L, 1.0, 1.0, 1, "+I"))
      .toDF("k", "total", "cnt", "prod", "keep", "hi", "rk").schema
    val t = GraftTable.create(spark, loc, schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1,
        mergeEngine = "aggregation",
        fieldAggregates = Map("total" -> "sum", "cnt" -> "count",
          "prod" -> "product", "keep" -> "sum", "hi" -> "max"),
        options = Map("rowkind.field" -> "rk",
          "fields.keep.ignore-retract" -> "true")))
    t.write(Seq(
      (1L, 5.0, 10L, 2.0, 5.0, 7, "+I"),
      (1L, 3.0, 20L, 3.0, 3.0, 9, "+I"),
      (2L, 4.0, 30L, -4.0, 4.0, 1, "+I")).toDF("k", "total", "cnt", "prod", "keep", "hi", "rk"))
    // retract (3.0, 20, 3.0) from k=1: sum 8→5, count 2→1, product 6→2;
    // keep has ignore-retract (stays 8), hi=max ignores retraction (stays 9)
    t.write(Seq((1L, 3.0, 20L, 3.0, 3.0, 9, "-D"))
      .toDF("k", "total", "cnt", "prod", "keep", "hi", "rk"))
    val got = t.read().orderBy("k")
      .select("k", "total", "cnt", "prod", "keep", "hi")
      .as[(Long, Double, Long, Double, Double, Int)].collect().toSeq
    assert(got.head._1 == 1L)
    assert(math.abs(got.head._2 - 5.0) < 1e-9, s"sum: ${got.head}")
    assert(got.head._3 == 1L, s"count: ${got.head}")
    assert(math.abs(got.head._4 - 2.0) < 1e-9, s"product: ${got.head}")
    assert(math.abs(got.head._5 - 8.0) < 1e-9, s"ignore-retract sum: ${got.head}")
    assert(got.head._6 == 9, s"max: ${got.head}")
    assert(got(1) == ((2L, 4.0, 1L, -4.0, 4.0, 1)))
    // retracting a negative flips the sign tracking; retracting to zero
    // inputs nulls the product (paimon FieldProductAgg on empty state)
    t.write(Seq((2L, 0.0, 0L, -4.0, 0.0, 0, "-D"))
      .toDF("k", "total", "cnt", "prod", "keep", "hi", "rk"))
    val k2 = t.read().filter(col("k") === 2L)
      .select("prod").as[Option[Double]].collect().head
    assert(k2.isEmpty, s"product over net-zero inputs must be null, got $k2")
    t.compact()
    val k2c = t.read().filter(col("k") === 2L)
      .select("prod").as[Option[Double]].collect().head
    assert(k2c.isEmpty, "retraction must survive compaction")
  }

  test("first-row merge engine keeps earliest version") {
    val loc = tmpLoc("fr")
    val t = GraftTable.create(spark, loc, mkOrders.schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1, mergeEngine = "first-row"))
    t.write(mkOrders)
    t.write(Seq((1L, "ZZZ", 0.0, "2024-09-09")).toDF("k", "status", "price", "dt"))
    assertSameRows(t.read(), mkOrders)
  }

  test("delete / update / merge into on pk table") {
    val loc = tmpLoc("rowops")
    val t = GraftTable.create(spark, loc, mkOrders.schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 2))
    t.write(mkOrders)
    t.delete(col("status") === "C")
    assertSameRows(t.read(), mkOrders.filter(col("status") =!= "C"))
    t.update(Map("price" -> (col("price") * 2)), col("status") === "A")
    val afterUpd = Seq((1L, "A", 20.0, "2024-01-01"), (2L, "B", 20.0, "2024-01-01"),
      (3L, "A", 60.0, "2024-01-02")).toDF("k", "status", "price", "dt")
    assertSameRows(t.read(), afterUpd)
    // MERGE INTO: update k=2, delete k=3, insert k=9
    val src = Seq((2L, 777.0), (3L, 0.0), (9L, 9.0)).toDF("sk", "sprice")
    t.mergeInto(src, col("sk") === col("k"))
      .whenMatchedDelete(Some(col("sk") === 3L))
      .whenMatchedUpdate(set = Map("price" -> col("sprice")))
      .whenNotMatchedInsert(values = Map(
        "k" -> col("sk"), "status" -> lit("NEW"), "price" -> col("sprice"), "dt" -> lit("2024-02-01")))
      .execute()
    val afterMerge = Seq((1L, "A", 20.0, "2024-01-01"), (2L, "B", 777.0, "2024-01-01"),
      (9L, "NEW", 9.0, "2024-02-01")).toDF("k", "status", "price", "dt")
    assertSameRows(t.read(), afterMerge)
    t.compact()
    assertSameRows(t.read(), afterMerge)
  }

  test("partitioned table: metadata-only delete + dynamic overwrite") {
    val loc = tmpLoc("part")
    val t = GraftTable.create(spark, loc, mkOrders.schema,
      TableConfig(primaryKeys = Seq("k", "dt"), partitionKeys = Seq("dt"), numBuckets = 2))
    t.write(mkOrders)
    val s = t.delete(col("dt") === "2024-01-02")
    assert(s.kind == "OVERWRITE")
    assertSameRows(t.read(), mkOrders.filter(col("dt") =!= "2024-01-02"))
    // dynamic partition overwrite replaces only dt=2024-01-01
    val t2loc = tmpLoc("dynov")
    val t2 = GraftTable.create(spark, t2loc, mkOrders.schema,
      TableConfig(partitionKeys = Seq("dt")))
    t2.write(mkOrders)
    t2.overwrite(Seq((8L, "X", 1.0, "2024-01-01")).toDF("k", "status", "price", "dt"), dynamic = true)
    assertSameRows(t2.read(),
      Seq((8L, "X", 1.0, "2024-01-01"), (3L, "A", 30.0, "2024-01-02"), (4L, "C", 40.0, "2024-01-02"))
        .toDF("k", "status", "price", "dt"))
  }

  test("append table: write, filter prune, sort compact, system tables, expire") {
    val loc = tmpLoc("append")
    val t = GraftTable.create(spark, loc, mkOrders.schema, TableConfig())
    t.write(mkOrders)
    t.write(mkOrders)
    assert(t.read().count() == 8)
    t.compactSorted("zorder", Seq("k", "price"))
    assert(t.read().count() == 8)
    assert(t.systemTable("snapshots").count() == 3)
    assert(t.systemTable("files").count() >= 1)
    assert(t.systemTable("partitions").count() == 1)
    val expired = t.expireSnapshots(1)
    assert(expired == 2)
    assert(t.read().count() == 8)
    assert(t.removeOrphanFiles(System.currentTimeMillis() + 1000) == 0)
  }

  test("procedure long tail: tags, branches, copy_files, repair") {
    val loc = tmpLoc("proctail")
    val t = GraftTable.create(spark, loc, mkOrders.schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 2,
        options = Map("tag.automatic-creation" -> "process-time")))
    t.write(mkOrders)
    def call(name: String, args: (String, String)*): String =
      Procedures.call(spark, GraftTable.load(spark, loc), name, args.toMap)
        .head().getString(0)
    // replace_tag retargets; expire_tags honors the cutoff
    call("create_tag", "tag" -> "t1", "snapshot" -> "1")
    t.write(mkOrders.withColumn("price", col("price") * 2))
    call("replace_tag", "tag" -> "t1") // latest = 2
    assert(t.sm.readTag("t1").snapshotId == 2L)
    intercept[Exception](call("replace_tag", "tag" -> "missing"))
    call("expire_tags", "older_than_ms" -> (System.currentTimeMillis() + 1000).toString)
    assert(t.sm.listTags().isEmpty)
    // automatic tag creation (process-time mode): one tag, idempotent
    call("trigger_tag_automatic_creation")
    assert(call("trigger_tag_automatic_creation").contains("already exists"))
    assert(t.sm.listTags().size == 1)
    // rename_branch moves the snapshot chain
    call("create_branch", "branch" -> "dev")
    call("rename_branch", "branch" -> "dev", "target_branch" -> "main2")
    assert(t.sm.branchExists("main2") && !t.sm.branchExists("dev"))
    // copy_files: zero-rewrite file carry-over, then merged read dedups
    val loc2 = tmpLoc("proctail2")
    val t2 = GraftTable.create(spark, loc2, mkOrders.schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 2))
    val res = Procedures.call(spark, t2, "copy_files",
      Map("source_table" -> loc)).head().getString(0)
    assert(res.startsWith("copied"))
    // source had 2 commits on the same 4 keys: merged read keeps 4 rows
    assertSameRows(GraftTable.load(spark, loc2).read(),
      GraftTable.load(spark, loc).read())
    // sys.copy: partition-filtered file-level copy, target auto-created
    val locP = tmpLoc("proctail-src-pt")
    val tp = GraftTable.create(spark, locP,
      Seq((1L, "x", "a")).toDF("k", "v", "pt").schema,
      TableConfig(partitionKeys = Seq("pt")))
    tp.write(Seq((1L, "x", "a"), (2L, "y", "b"), (3L, "z", "a"))
      .toDF("k", "v", "pt"))
    val locC = tmpLoc("proctail-copy")
    val resC = Procedures.call(spark, tp, "copy",
      Map("target_table" -> locC, "where" -> "pt = 'a'")).head().getString(0)
    assert(resC.startsWith("copied"), resC)
    assert(GraftTable.load(spark, locC).read()
      .select("k").as[Long].collect().toSet == Set(1L, 3L))
    intercept[Exception](Procedures.call(spark, tp, "copy",
      Map("target_table" -> locC, "where" -> "v = 'x'"))) // not a partition col
    // repair after manual file loss drops the dangling entry
    val victim = GraftTable.load(spark, loc2).planFiles().head.path
    t2.sm.fs.delete(new org.apache.hadoop.fs.Path(loc2, victim), false)
    assert(call2(loc2, "repair").contains("dangling"))
    def call2(l: String, name: String): String =
      Procedures.call(spark, GraftTable.load(spark, l), name, Map.empty)
        .head().getString(0)
    assert(GraftTable.load(spark, loc2).planFiles()
      .forall(e => t2.sm.fs.exists(new org.apache.hadoop.fs.Path(loc2, e.path))))
    // repair_earliest_snapshot: drops an unreadable snapshot json below the id
    val sm = GraftTable.load(spark, loc).sm
    val corrupt = new org.apache.hadoop.fs.Path(sm.snapshotDir, "snapshot-0.json")
    val out = sm.fs.create(corrupt, true); out.write("{not json".getBytes); out.close()
    val rep = Procedures.call(spark, GraftTable.load(spark, loc),
      "repair_earliest_snapshot", Map("snapshot_id" -> "2")).head().getString(0)
    assert(rep.contains("removed 1 unreadable"), rep)
    assert(!sm.fs.exists(corrupt))
  }

  test("bucketed append: bucket-key routes writes, equality/IN prunes to one bucket") {
    import spark.implicits._
    val loc = tmpLoc("bapp")
    val df = (1L to 400L).map(i => (i, s"s${i % 7}", i * 1.5)).toDF("k", "s", "v")
    val t = GraftTable.create(spark, loc, df.schema,
      TableConfig(numBuckets = 8, options = Map("bucket-key" -> "k")))
    t.write(df)
    t.write(df.filter(col("k") <= 50)) // second commit, same routing
    val all = t.planFiles()
    assert(all.map(_.bucket).distinct.size > 1, "rows spread over buckets")
    // equality on the full bucket key prunes to exactly one bucket
    val eq = t.planFiles(filter = Some(col("k") === 123L))
    assert(eq.map(_.bucket).distinct.size == 1, s"expected 1 bucket, got $eq")
    assert(eq.size < all.size)
    assert(t.read(filter = Some(col("k") === 123L)).count() == 1)
    // IN over the key prunes to the union of its buckets
    val in = t.planFiles(filter = Some(col("k").isin(1L, 2L, 3L)))
    assert(in.map(_.bucket).distinct.size <= 3 && in.size < all.size)
    // both commits kept (append semantics): 2 copies of each key ≤ 50
    assert(t.read(filter = Some(col("k").isin(1L, 2L, 3L))).count() == 6)
    // a non-key filter cannot bucket-prune
    assert(t.planFiles(filter = Some(col("s") === "s3")).size == all.size)
    // PK point read rides the same pruning
    val loc2 = tmpLoc("bpk")
    val t2 = GraftTable.create(spark, loc2, df.schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 8))
    t2.write(df)
    val pkEq = t2.planFiles(filter = Some(col("k") === 77L))
    assert(pkEq.map(_.bucket).distinct.size == 1)
    assert(pkEq.size < t2.planFiles().size)
    assert(t2.read(filter = Some(col("k") === 77L)).count() == 1)
    // bucket-key validation
    intercept[Exception](GraftTable.create(spark, tmpLoc("bbad"), df.schema,
      TableConfig(numBuckets = 4, options = Map("bucket-key" -> "nope"))))
    intercept[Exception](GraftTable.create(spark, tmpLoc("bbad2"), df.schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 4,
        options = Map("bucket-key" -> "k"))))
  }

  test("clone procedure: fresh target, reentrant overwrite, where + meta_only") {
    import spark.implicits._
    val loc = tmpLoc("clonesrc")
    val src = GraftTable.create(spark, loc,
      Seq((1L, "a", 10.0)).toDF("k", "pt", "v").schema,
      TableConfig(primaryKeys = Seq("k", "pt"), partitionKeys = Seq("pt"),
        numBuckets = 2))
    src.write(Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0))
      .toDF("k", "pt", "v"))
    def call(t: GraftTable, args: (String, String)*): String =
      Procedures.call(spark, t, "clone", args.toMap).head().getString(0)
    // fresh clone keeps layout + data
    val loc2 = tmpLoc("clonedst")
    call(src, "target" -> loc2)
    val tgt = GraftTable.load(spark, loc2)
    assert(tgt.config.primaryKeys == Seq("k", "pt"))
    assertSameRows(tgt.read(), src.read())
    // reentrant: source evolves, second clone overwrites only carried parts
    src.write(Seq((2L, "a", 25.0)).toDF("k", "pt", "v"))
    call(src, "target" -> loc2, "where" -> "pt = 'a'")
    assertSameRows(GraftTable.load(spark, loc2).read(), src.read())
    // meta_only: schema lands, no data
    val loc3 = tmpLoc("clonemeta")
    call(src, "target" -> loc3, "meta_only" -> "true")
    assert(GraftTable.load(spark, loc3).read().count() == 0)
    // as_append drops the PK
    val loc4 = tmpLoc("cloneapp")
    call(src, "target" -> loc4, "as_append" -> "true")
    assert(GraftTable.load(spark, loc4).config.primaryKeys.isEmpty)
    assert(GraftTable.load(spark, loc4).read().count() == src.read().count())
    // schema-mismatch target rejected
    val loc5 = tmpLoc("clonebad")
    GraftTable.create(spark, loc5, Seq((1L, "a")).toDF("k", "other").schema,
      TableConfig(partitionKeys = Nil))
    intercept[Exception](call(src, "target" -> loc5))
  }

  test("rowkind.field + partial-update remove-record-on-delete") {
    val loc = tmpLoc("rrod")
    val df0 = Seq((1L, Option("a"), Option.empty[String], "+I"))
      .toDF("k", "x", "y", "rk")
    val t = GraftTable.create(spark, loc, df0.schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1,
        mergeEngine = "partial-update",
        options = Map("rowkind.field" -> "rk",
          "partial-update.remove-record-on-delete" -> "true")))
    def row = GraftTable.load(spark, loc).read()
      .select("k", "x", "y").collect().map(r =>
        (r.getLong(0), Option(r.getString(1)), Option(r.getString(2)))).toSeq
    t.write(df0)
    t.write(Seq((1L, Option.empty[String], Option("v1"), "+I")).toDF("k", "x", "y", "rk"))
    assert(row == Seq((1L, Some("a"), Some("v1"))), s"accumulated: $row")
    // -D resets the row entirely
    t.write(Seq((1L, Option.empty[String], Option.empty[String], "-D")).toDF("k", "x", "y", "rk"))
    assert(row.isEmpty, s"after delete: $row")
    // a later +I re-accumulates from scratch — pre-delete fields stay gone
    t.write(Seq((1L, Option.empty[String], Option("v2"), "+I")).toDF("k", "x", "y", "rk"))
    assert(row == Seq((1L, None, Some("v2"))), s"re-accumulated: $row")
    // survives compaction (merge runs the same engine)
    t.compact()
    assert(row == Seq((1L, None, Some("v2"))), s"post-compact: $row")
    // without the option, deletes are ignored (default partial-update)
    val loc2 = tmpLoc("rrod2")
    val t2 = GraftTable.create(spark, loc2, df0.schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1,
        mergeEngine = "partial-update",
        options = Map("rowkind.field" -> "rk")))
    t2.write(df0)
    t2.write(Seq((1L, Option.empty[String], Option.empty[String], "-D")).toDF("k", "x", "y", "rk"))
    assert(GraftTable.load(spark, loc2).read().count() == 1)
  }

  test("partial compaction: where-scoped buckets rewrite, DVs on others survive") {
    val loc = tmpLoc("pcompact")
    val df = spark.range(200).select(col("id").as("k"),
      (col("id") % 2).cast("string").as("pt"), (col("id") * 10).as("v"))
    val t = GraftTable.create(spark, loc, df.schema,
      TableConfig(primaryKeys = Seq("k"), partitionKeys = Seq("pt"), numBuckets = 1))
    t.write(df)
    t.write(df.filter(col("k") < 50).withColumn("v", col("v") + 1))
    // DV delete in partition 1 (NOT the compaction target)
    t.deleteDv(col("k") === 101L)
    val r = Procedures.call(spark, GraftTable.load(spark, loc), "compact",
      Map("where" -> "pt = '0'")).head().getString(0)
    assert(r.contains("partially compacted"), r)
    val t2 = GraftTable.load(spark, loc)
    // partition 0 is now compact (level>0 only); partition 1 untouched
    val byPt = t2.planFiles(None, None).groupBy(_.partition("pt"))
    assert(byPt("0").forall(_.level > 0), s"p0 files: ${byPt("0").map(_.level)}")
    assert(byPt("1").exists(_.level == 0), "p1 should be untouched")
    // the DV on partition 1 carried forward; merge semantics intact
    assert(t2.read().count() == 199)
    assert(t2.read().filter(col("k") === 3L).select("v").head().getLong(0) == 31L)
    assert(t2.read().filter(col("k") === 101L).count() == 0)
    // second where-compact of the same partition: no-op
    assert(t2.compactWhere(_.partition("pt") == "0").isEmpty)
    // write-time trigger: a table with trigger=2 self-compacts its hot bucket
    val loc2 = tmpLoc("pcompact2")
    val t3 = GraftTable.create(spark, loc2, df.schema,
      TableConfig(primaryKeys = Seq("k"), partitionKeys = Seq("pt"), numBuckets = 1,
        options = Map("num-sorted-run.compaction-trigger" -> "2")))
    t3.write(df.filter(col("pt") === "0"))
    t3.write(df.filter(col("pt") === "0").withColumn("v", col("v") + 5))
    val t4 = GraftTable.load(spark, loc2)
    assert(t4.planFiles(None, None).forall(_.level > 0),
      "trigger should have compacted the hot bucket")
    assert(t4.read().filter(col("k") === 2L).select("v").head().getLong(0) == 25L)
    assert(t4.sm.latestSnapshot.get.kind == "COMPACT")
  }

  test("record-level expire drops overdue rows at compaction, keeps null time fields") {
    val loc = tmpLoc("rlexp")
    val rows = Seq(
      (1L, java.sql.Timestamp.valueOf("2000-01-01 00:00:00"), "old"),
      (2L, java.sql.Timestamp.valueOf("2999-01-01 00:00:00"), "future"),
      (3L, null.asInstanceOf[java.sql.Timestamp], "null-ts"))
    val df = rows.toDF("k", "ts", "v")
    val t = GraftTable.create(spark, loc, df.schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1,
        options = Map("record-level.expire-time" -> "3650d",
          "record-level.time-field" -> "ts")))
    t.write(df)
    assert(t.read().count() == 3, "expiry is compaction-time, not read-time")
    t.compact()
    val got = GraftTable.load(spark, loc).read()
      .select("k", "v").as[(Long, String)].collect().toSet
    assert(got == Set((2L, "future"), (3L, "null-ts")), s"got $got")
    // already-compacted: a second manual compact still runs (forced expiry)
    assert(t.compact().isDefined)
  }

  test("pk-clustering-override: files sort by clustering column, prune, stay unique") {
    val loc = tmpLoc("pkcl")
    val df = spark.range(1000).select(col("id").as("k"),
      concat(lit("city"), (col("id") % 4).cast("string")).as("city"),
      (col("id") * 2).as("amount"))
    val t = GraftTable.create(spark, loc, df.schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1,
        options = Map("pk-clustering-override" -> "true",
          "clustering.columns" -> "city",
          "deletion-vectors.enabled" -> "true",
          "write.max-records-per-file" -> "250")))
    t.write(df)
    // updates on 100 keys, then compact (full rewrite, clustering-sorted)
    t.write(df.filter(col("k") < 100).withColumn("amount", col("amount") + 1))
    // UNCOMPACTED read: clustering-sorted files can't serve the pk-ordered
    // in-scan k-way merge — the read must route through the V1 relational
    // merge (not throw) and still answer exactly
    assert(ReadPlans.relational(t.readPlan()).contains("pk-clustering-override"),
      "clustering-override tables must not take the in-scan merge")
    assert(t.read().count() == 1000)
    assert(t.read().filter(col("k") === 5L).select("amount").head().getLong(0) == 11L)
    t.compact()
    val t2 = GraftTable.load(spark, loc)
    // uniqueness + update semantics hold
    assert(t2.read().count() == 1000)
    assert(t2.read().filter(col("k") === 5L).select("amount").head().getLong(0) == 11L)
    // rolled outputs of the sorted rewrite carry disjoint city ranges: on
    // the fully-merged (raw-convertible) set the FULL filter prunes
    // per-file — value-column pruning is only legal there, which is exactly
    // the state clustering override optimizes for
    val all = t2.planFiles(None, None)
    val pruned = ReadPlans.rawEntries(t2.readPlan(None, Some(col("city") === "city0")))
    assert(all.size >= 4, s"expected rolled files, got ${all.size}")
    assert(pruned.isDefined, "compacted table must be raw-convertible")
    assert(pruned.get.size * 2 <= all.size,
      s"city filter should prune: ${pruned.get.size} of ${all.size}")
    // invalid combos are rejected at create
    intercept[IllegalArgumentException] {
      GraftTable.create(spark, tmpLoc("pkclbad"), df.schema,
        TableConfig(primaryKeys = Seq("k"), numBuckets = 1,
          options = Map("pk-clustering-override" -> "true",
            "clustering.columns" -> "city"))) // no DVs, engine=deduplicate
    }
    intercept[IllegalArgumentException] {
      GraftTable.create(spark, tmpLoc("pkclbad2"), df.schema,
        TableConfig(primaryKeys = Seq("k"), numBuckets = 1,
          mergeEngine = "partial-update",
          options = Map("pk-clustering-override" -> "true",
            "clustering.columns" -> "city",
            "deletion-vectors.enabled" -> "true")))
    }
  }

  test("table_indexes and file_key_ranges system tables") {
    val loc = tmpLoc("sysidx")
    val t = GraftTable.create(spark, loc, mkOrders.schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 2,
        options = Map("file-index.bloom-filter.columns" -> "status")))
    t.write(mkOrders)
    t.deleteDv($"k" === 2L)
    val t2 = GraftTable.load(spark, loc)
    val idx = t2.systemTable("table_indexes")
      .select("index_type").as[String].collect().toSet
    assert(idx.contains("deletion-vector"), s"missing dv index in $idx")
    assert(idx.contains("file-index"), s"missing file index in $idx")
    // every live file reports its PK range from manifest stats
    val ranges = t2.systemTable("file_key_ranges")
      .select("min_key", "max_key", "record_count")
      .as[(String, String, Long)].collect()
    assert(ranges.nonEmpty && ranges.forall { case (mn, mx, n) =>
      mn != null && mx != null && mn.toLong <= mx.toLong && n > 0 })
  }

  test("full-compaction.delta-commits triggers a full compaction every N deltas") {
    val loc = tmpLoc("fc-deltas")
    val t = GraftTable.create(spark, loc,
      Seq((1L, "v")).toDF("k", "v").schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1,
        options = Map("full-compaction.delta-commits" -> "3")))
    t.write(Seq((1L, "a")).toDF("k", "v"))
    t.write(Seq((2L, "b")).toDF("k", "v"))
    // 2 deltas < 3 → no compact yet
    assert(!t.sm.snapshotIds.map(t.sm.readSnapshot).exists(_.kind == "COMPACT"))
    t.write(Seq((1L, "a2")).toDF("k", "v"))
    // 3rd delta trips the trigger: latest snapshot is a COMPACT
    val kinds = t.sm.snapshotIds.map(t.sm.readSnapshot(_).kind)
    assert(kinds.last == "COMPACT", s"kinds=$kinds")
    // bucket is fully merged → raw-convertible single read, correct content
    assert(t.read().count() == 2)
    assert(t.read().filter(col("k") === 1L).select("v").head().getString(0) == "a2")
    // the next two deltas do NOT re-trigger (counter reset by the compact)
    t.write(Seq((3L, "c")).toDF("k", "v"))
    t.write(Seq((4L, "d")).toDF("k", "v"))
    val kinds2 = t.sm.snapshotIds.map(t.sm.readSnapshot(_).kind)
    assert(kinds2.count(_ == "COMPACT") == 1, s"kinds=$kinds2")
  }

  test("snapshot.num-retained.max auto-expires history on commit; tags pin") {
    val loc = tmpLoc("auto-expire")
    val t = GraftTable.create(spark, loc,
      Seq((1L, "v")).toDF("k", "v").schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1,
        options = Map("snapshot.num-retained.max" -> "3")))
    (1 to 5).foreach(i => t.write(Seq((i.toLong, s"v$i")).toDF("k", "v")))
    val ids = t.sm.snapshotIds
    assert(ids.size == 3, s"expected 3 retained snapshots, got $ids")
    assert(ids.last == 5L)
    assert(t.read().count() == 5)
    // a tag pins its snapshot beyond the retention window
    t.sm.createTag("pin", 3L)
    (6 to 8).foreach(i => t.write(Seq((i.toLong, s"v$i")).toDF("k", "v")))
    assert(t.sm.snapshotIds.contains(3L), "tagged snapshot must survive expiry")
    assert(t.readTag("pin").count() == 3)
  }

  test("partition.expiration-time auto-expires old date partitions on commit") {
    val loc = tmpLoc("part-expire")
    val df = Seq((1L, 1.0, "2000-01-01")).toDF("k", "v", "dt")
    val t = GraftTable.create(spark, loc, df.schema,
      TableConfig(partitionKeys = Seq("dt"), numBuckets = 1,
        options = Map("partition.expiration-time" -> "3650d")))
    // ancient partitions + one recent (50 years ahead won't expire for real)
    val recent = java.time.LocalDate.now().plusYears(1).toString
    t.write(Seq((1L, 1.0, "2000-01-01"), (2L, 2.0, "2001-06-15"),
      (3L, 3.0, recent)).toDF("k", "v", "dt"))
    // the write's post-commit hook expired both ancient partitions
    val left = t.read().select("dt").as[String].collect().toSet
    assert(left == Set(recent), s"got $left")
    assert(t.sm.latestSnapshot.exists(_.kind == "OVERWRITE"))
  }

  test("consumer.expiration-time: stale consumers stop pinning snapshot expiry") {
    val loc = tmpLoc("cons-exp")
    val t = GraftTable.create(spark, loc,
      Seq((1L, "v")).toDF("k", "v").schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1,
        options = Map("consumer.expiration-time" -> "1h")))
    (1 to 5).foreach(i => t.write(Seq((i.toLong, s"v$i")).toDF("k", "v")))
    Consumers.reset(t, "reader-a", Some(2L)) // pins snapshots >= 2
    // an ACTIVE consumer pins: only snapshot 1 can go
    assert(t.expireSnapshots(1) == 1)
    assert(t.sm.snapshotIds.head == 2L)
    // backdate the consumer file beyond the expiration window
    val cf = new org.apache.hadoop.fs.Path(loc, "consumer/reader-a.json")
    t.sm.fs.setTimes(cf, System.currentTimeMillis() - 7200_000L, -1)
    assert(t.expireSnapshots(1) > 0)
    assert(Consumers.list(t).isEmpty) // the stale consumer was dropped
    assert(t.sm.snapshotIds == Seq(5L))
    assert(t.read().count() == 5)
  }

  test("write-only: writers skip compaction triggers and expiry hooks") {
    val loc = tmpLoc("write-only")
    val t = GraftTable.create(spark, loc,
      Seq((1L, "v")).toDF("k", "v").schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1,
        options = Map("write-only" -> "true",
          "num-sorted-run.compaction-trigger" -> "2",
          "snapshot.num-retained.max" -> "2")))
    (1 to 5).foreach(i => t.write(Seq((i.toLong, s"v$i")).toDF("k", "v")))
    // no COMPACT snapshots appeared and nothing expired
    assert(t.sm.snapshotIds == (1L to 5L))
    assert(t.sm.snapshotIds.map(t.sm.readSnapshot).forall(_.kind == "APPEND"))
    // the dedicated job compacts explicitly regardless of write-only
    assert(t.compact().isDefined)
    assert(t.read().count() == 5)
  }

  test("snapshot.time-retained: age-based expiry keeps num-retained.min floor") {
    val loc = tmpLoc("time-ret")
    val t = GraftTable.create(spark, loc,
      Seq((1L, "v")).toDF("k", "v").schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1))
    (1 to 5).foreach(i => t.write(Seq((i.toLong, s"v$i")).toDF("k", "v")))
    // age=0: everything is "too old", but the newest 2 must survive
    val dropped = t.expireSnapshots(Int.MaxValue, Some(0L), retainMin = 2)
    val left = t.sm.snapshotIds
    assert(left.size >= 2 && left.takeRight(2) == Seq(4L, 5L), s"left=$left")
    assert(dropped >= 2)
    // data unaffected; remaining history still reads
    assert(t.read().count() == 5)
    assert(t.read(None, Some(4L)).count() == 4)
    // option-driven: the per-commit hook applies the same policy
    val loc2 = tmpLoc("time-ret2")
    val t2 = GraftTable.create(spark, loc2,
      Seq((1L, "v")).toDF("k", "v").schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1,
        options = Map("snapshot.time-retained" -> "0ms",
          "snapshot.num-retained.min" -> "2")))
    (1 to 4).foreach(i => t2.write(Seq((i.toLong, s"v$i")).toDF("k", "v")))
    assert(t2.sm.snapshotIds.size <= 3, s"got ${t2.sm.snapshotIds}")
    assert(t2.read().count() == 4)
  }

  test("metrics: scan/commit/compaction registry + metrics system table") {
    val loc = tmpLoc("metrics")
    val t = GraftTable.create(spark, loc,
      Seq((1L, "v")).toDF("k", "v").schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 2))
    t.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    t.write(Seq((2L, "b2"), (3L, "c")).toDF("k", "v"))
    t.compact()
    t.read().collect() // a planning pass over the compacted state
    def metric(name: String): Double =
      GraftMetrics.forTable(loc).rows
        .collectFirst { case (`name`, _, v) => v }
        .getOrElse(fail(s"metric $name missing"))
    // commit metrics: 3 commits (2 writes + compact), compact counted
    assert(metric("totalCommits") == 3.0)
    assert(metric("totalCompactCommits") == 1.0)
    assert(metric("lastCommitAttempts") == 1.0)
    // compaction metrics: 3 input files (keys 2,3 co-bucket) -> 2 outputs
    assert(metric("totalCompactions") == 1.0)
    assert(metric("lastCompactionInputFiles") == 3.0)
    assert(metric("lastCompactionOutputFiles") == 2.0)
    // scan metrics: last planning saw snapshot 3 with its 2 live files
    assert(metric("lastScannedSnapshotId") == 3.0)
    assert(metric("lastScanResultedTableFiles") == 2.0)
    assert(metric("scanDuration_count") >= 1.0)
    // a pruned scan records skipped files
    t.read(Some(col("k") === 2L)).collect()
    assert(metric("lastScanResultedTableFiles") == 1.0)
    assert(metric("lastScanSkippedTableFiles") == 1.0)
    // system table exposes the same rows
    import graft.core.RowOps._
    val sysRows = t.systemTable("metrics")
      .filter(col("metric") === "totalCommits").collect()
    assert(sysRows.length == 1 && sysRows.head.getDouble(2) == 3.0)
    // DSv2 driver metrics on the native scan report the planned set
    val scan = new graft.dsv2.GraftBatchScan(t, t.planFiles(), Array.empty, None)
    val dm = scan.reportDriverMetrics().map(m => m.name() -> m.value()).toMap
    assert(dm("plannedFiles") == 2L)
    assert(dm("plannedBytes") > 0L)
    assert(scan.supportedCustomMetrics().map(_.name()).toSet ==
      Set("plannedFiles", "plannedBytes", "skippedFiles", "deletionVectorFiles"))
  }
  test("bucket.key-layout stamp: legacy full-pk tables route unchanged, new tables trim") {
    import spark.implicits._
    val rows = (0L until 40L).map(i => (s"d${i % 4}", i, i * 1.5))
      .toDF("day", "k", "v")
    def mk(loc: String, opts: Map[String, String]): GraftTable = {
      val t = GraftTable.create(spark, loc, rows.schema, TableConfig(
        primaryKeys = Seq("day", "k"), partitionKeys = Seq("day"),
        numBuckets = 4, options = opts))
      t.write(rows)
      // an upsert wave: routing must send each key's new version to the
      // SAME bucket as its old one or merged reads duplicate keys
      t.write(rows.filter(col("k") % 3 === 0).withColumn("v", col("v") * 2))
      t
    }
    // new table: layout stamped at creation, routing = trimmed pk (k) —
    // the same k co-locates across day partitions
    val tNew = mk(tmpLoc("layout-new"), Map.empty)
    assert(tNew.config.option("bucket.key-layout", "") == "trimmed-pk")
    assert(tNew.fixedBucketKeys.contains(Seq("k")))
    // legacy table: a schema persisted BEFORE the stamp existed resolves to
    // full-pk routing (modeled by the explicit option — routingKeys treats
    // absent and full-pk identically)
    val tOld = mk(tmpLoc("layout-old"), Map("bucket.key-layout" -> "full-pk"))
    assert(tOld.fixedBucketKeys.contains(Seq("day", "k")))
    // both layouts: merged reads are key-unique and bucket-pruned key
    // lookups find every row
    for (t <- Seq(tNew, tOld)) {
      val got = t.read().select("day", "k", "v").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      val want = (0L until 40L).map(i =>
        (s"d${i % 4}", i, if (i % 3 == 0) i * 3.0 else i * 1.5)).toSet
      assert(got == want, s"layout=${t.fixedBucketKeys}")
      assert(t.read(filter = Some(col("k") === 9L)).count() == 1)
      assert(t.read(filter = Some(col("day") === "d1" && col("k") === 9L))
        .count() == 1)
    }
    // rescale rewrites every file — the one safe layout-upgrade point. A
    // truly UNSTAMPED schema (pre-stamp era: full-pk files, no option)
    // upgrades to trimmed routing in the same pass.
    val cur = tOld.schema
    tOld.sm.writeSchema(TableSchema(cur.id + 1, cur.fields,
      cur.config.copy(options = cur.config.options - "bucket.key-layout"),
      System.currentTimeMillis()))
    val legacy = GraftTable.load(spark, tOld.location)
    assert(legacy.fixedBucketKeys.contains(Seq("day", "k"))) // unstamped → full pk
    Procedures.call(spark, legacy, "rescale", Map("bucket" -> "8"))
    val upgraded = GraftTable.load(spark, legacy.location)
    assert(upgraded.fixedBucketKeys.contains(Seq("k")),
      s"rescale must stamp trimmed routing: ${upgraded.config.options}")
    assert(upgraded.config.numBuckets == 8)
    assert(upgraded.read(filter = Some(col("k") === 9L)).count() == 1)
    assert(upgraded.read().count() == 40)
  }

  test("every PK data file is written pk-sorted: plain, merge-into, compaction, rolled") {
    // in-file PK order is a CORRECTNESS invariant — the k-way MOR merge
    // and the multi-file ordering report both consume it. The hazard this
    // pins: a writer that imposes its own non-stable (pt, bucket) sort
    // (Spark's planned-write rewrite does, for deterministic frames such as
    // merge-into's) scrambles data order inside each directory. writeFiles
    // calls FileFormatWriter directly under a (pt, bucket, pks) local sort,
    // which the writer keeps because it starts with the partition columns
    val rnd = new scala.util.Random(11)
    val loc = tmpLoc("wsort")
    val data = rnd.shuffle((0L until 200L).toList)
      .map(k => (k, s"v$k", k * 1.0)).toDF("k", "v", "p")
    val t = GraftTable.create(spark, loc, data.schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 2,
        options = Map("write.max-records-per-file" -> "30")))
    t.write(data)
    def assertFilesSorted(label: String): Unit =
      t.planFiles().foreach { e =>
        val ks = spark.read.schema(t.fileSchema).parquet(s"$loc/${e.path}")
          .select("k").collect().map(_.getLong(0)).toList
        assert(ks == ks.sorted,
          s"$label: file ${e.path} not pk-sorted: ${ks.take(12)}")
      }
    assertFilesSorted("plain+rolled")
    // merge-into writes a preMerged (deterministic) frame
    val src = rnd.shuffle((100L until 300L).toList).map(k => (k, s"m$k"))
      .toDF("sk", "sv")
    t.mergeInto(src, col("sk") === col("k"))
      .whenMatchedUpdate(set = Map("v" -> col("sv")))
      .whenNotMatchedInsert(values = Map(
        "k" -> col("sk"), "v" -> col("sv"), "p" -> lit(0.0)))
      .execute()
    assertFilesSorted("merge-into")
    // and the merged read over those files is exact
    assert(t.read().count() == 300)
    assert(t.read().filter(col("k") === 150L).select("v").head().getString(0) == "m150")
    t.compact()
    assertFilesSorted("compaction+rolled")
    assert(t.read().count() == 300)
  }

}

class DeletionVectorSpec extends SparkTestBase {
  import spark.implicits._

  test("dv delete on append table: MOR filter, then compact materializes") {
    val loc = tmpLoc("dv-append")
    val src = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("k", "s")
    val t = GraftTable.create(spark, loc, src.schema, TableConfig())
    t.write(src)
    t.deleteDv(col("k") % 2 === 0)
    assert(t.read().select("k").as[Long].collect().toSet == Set(1L, 3L))
    // second dv delete merges with the first
    t.deleteDv(col("k") === 3L)
    assert(t.read().select("k").as[Long].collect().toSet == Set(1L))
    val files = t.planFiles().map(_.path).toSet
    t.compact()
    assert(t.sm.latestSnapshot.get.dvIndex.isEmpty)
    assert(t.read().select("k").as[Long].collect().toSet == Set(1L))
    assert(t.planFiles().map(_.path).toSet.intersect(files).isEmpty) // rewritten
  }

  test("dv delete on pk table marks every version of a key") {
    val loc = tmpLoc("dv-pk")
    val src = Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "s", "p")
    val t = GraftTable.create(spark, loc, src.schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1))
    t.write(src)
    t.write(Seq((2L, "b2", 9.0)).toDF("k", "s", "p")) // second version of k=2
    t.deleteDv(col("s") === "b2")
    // older version (2,b,2.0) must NOT resurrect
    assert(t.read().select("k").as[Long].collect().toSet == Set(1L))
    t.compact()
    assert(t.read().select("k").as[Long].collect().toSet == Set(1L))
    // time travel before the delete still sees both keys
    assert(t.read(None, Some(2L)).count() == 2)
  }
}

class BranchSpec extends SparkTestBase {
  import spark.implicits._

  test("branch isolation + fast-forward") {
    val loc = tmpLoc("branch")
    val src = Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "s", "p")
    val t = GraftTable.create(spark, loc, src.schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1))
    t.write(src)
    t.createBranch("dev")
    val dev = t.onBranch("dev")
    dev.write(Seq((2L, "b-dev", 9.0), (3L, "c-dev", 3.0)).toDF("k", "s", "p"))
    // main unaffected, branch sees its own commit
    assert(t.read().count() == 2)
    assert(dev.read().count() == 3)
    assert(dev.read().filter(col("s") === "b-dev").count() == 1)
    // procedures surface
    assert(Procedures.call(spark, t, "fast_forward", Map("branch" -> "dev"))
      .head().getString(0).contains("fast-forwarded"))
    assert(t.read().count() == 3)
    assert(t.read().filter(col("s") === "b-dev").count() == 1)
    assert(t.systemTable("branches").count() == 1)
    t.deleteBranch("dev")
    assert(t.sm.listBranches().isEmpty)
  }
}

class ConcurrencySpec extends SparkTestBase {
  import spark.implicits._

  test("concurrent commits: CAS retry keeps both writers' rows") {
    val loc = tmpLoc("race")
    val schema = Seq((1L, 1.0)).toDF("k", "v").schema
    val t = GraftTable.create(spark, loc, schema, TableConfig())
    import java.util.concurrent.{CountDownLatch, Executors}
    val pool = Executors.newFixedThreadPool(4)
    val latch = new CountDownLatch(1)
    val futures = (0 until 4).map { i =>
      pool.submit(new Runnable {
        def run(): Unit = {
          latch.await()
          val h = GraftTable.load(spark, loc)
          h.write(Seq(((i + 1).toLong * 100, i.toDouble)).toDF("k", "v"))
        }
      })
    }
    latch.countDown()
    futures.foreach(_.get())
    pool.shutdown()
    assert(t.read().count() == 4)
    assert(t.sm.latestSnapshotId.contains(4L))
    // snapshot ids are a contiguous chain despite the race
    assert(t.sm.snapshotIds == Seq(1L, 2L, 3L, 4L))
  }

  test("compaction racing upserts: no lost updates, reads stay correct") {
    import java.util.concurrent.{Executors, TimeUnit}
    val loc = tmpLoc("conc-compact")
    val t = GraftTable.create(spark, loc,
      Seq((1L, "v")).toDF("k", "v").schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1))
    t.write((1L to 50L).map(i => (i, s"v0-$i")).toDF("k", "v"))
    val pool = Executors.newFixedThreadPool(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    pool.submit(new Runnable {
      override def run(): Unit =
        try (1 to 4).foreach { g =>
          GraftTable.load(spark, loc)
            .write((1L to 10L).map(i => (i, s"v$g-$i")).toDF("k", "v"))
        } catch { case e: Throwable => errs.add(e) }
    })
    pool.submit(new Runnable {
      override def run(): Unit =
        try (1 to 3).foreach { _ =>
          try { GraftTable.load(spark, loc).compact(); () }
          catch { case _: CommitConflictException => () } // loser may retry out
        } catch { case e: Throwable => errs.add(e) }
    })
    pool.shutdown()
    assert(pool.awaitTermination(240, TimeUnit.SECONDS))
    assert(errs.isEmpty, s"failures: ${errs.peek()}")
    val got = GraftTable.load(spark, loc).read()
      .select("k", "v").as[(Long, String)].collect().toMap
    assert(got.size == 50)
    // the writer's final generation must win for the contended keys
    (1L to 10L).foreach(i => assert(got(i) == s"v4-$i", s"key $i -> ${got(i)}"))
    (11L to 50L).foreach(i => assert(got(i) == s"v0-$i"))
  }

  test("fuzz: randomized multi-writer storm (upserts + deletes + compactions) converges") {
    import java.util.concurrent.{Executors, TimeUnit}
    val loc = tmpLoc("conc-fuzz")
    val t = GraftTable.create(spark, loc,
      Seq((1L, 0L)).toDF("k", "gen").schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 2))
    // 3 writer threads own DISJOINT key ranges (exact final model regardless
    // of commit interleaving) + 1 compactor thread; every op CAS-retries
    val nWriters = 3
    val pool = Executors.newFixedThreadPool(nWriters + 1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val deleted = new java.util.concurrent.ConcurrentHashMap[Long, Boolean]()
    val lastGen = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    (0 until nWriters).foreach { w =>
      val rnd = new scala.util.Random(1000 + w)
      val keys = (w * 100 + 1).toLong to (w * 100 + 30).toLong
      pool.submit(new Runnable {
        override def run(): Unit = try {
          (1 to 5).foreach { gen =>
            val h = GraftTable.load(spark, loc)
            val ks = rnd.shuffle(keys.toList).take(12)
            h.write(ks.map(k => (k, gen.toLong)).toDF("k", "gen"))
            ks.foreach(k => { lastGen.put(k, gen.toLong); deleted.remove(k) })
            if (rnd.nextBoolean()) {
              val victim = keys(rnd.nextInt(keys.size))
              import graft.core.RowOps._
              // COW delete is read-modify-write: a racing compaction can
              // invalidate its read set → conflict abort; caller retries
              // from fresh state (the reference's documented resolution)
              var tries = 0
              var done = false
              while (!done) {
                try { GraftTable.load(spark, loc).delete(col("k") === victim); done = true }
                catch { case _: CommitConflictException if tries < 5 => tries += 1 }
              }
              deleted.put(victim, true)
            }
          }
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    pool.submit(new Runnable {
      override def run(): Unit = try {
        (1 to 4).foreach { _ =>
          try { GraftTable.load(spark, loc).compact(); () }
          catch { case _: CommitConflictException => () }
          Thread.sleep(200)
        }
      } catch { case e: Throwable => errs.add(e) }
    })
    pool.shutdown()
    assert(pool.awaitTermination(300, TimeUnit.SECONDS))
    assert(errs.isEmpty, s"failures: ${errs.peek()}")
    import scala.jdk.CollectionConverters._
    val expect = lastGen.asScala.filterNot { case (k, _) => deleted.containsKey(k) }
    val got = GraftTable.load(spark, loc).read()
      .select("k", "gen").as[(Long, Long)].collect().toMap
    assert(got.keySet == expect.keySet,
      s"missing=${(expect.keySet -- got.keySet).take(5)} extra=${(got.keySet -- expect.keySet).take(5)}")
    expect.foreach { case (k, g) => assert(got(k) == g, s"key $k: ${got(k)} != $g") }
    // chain is contiguous and a fresh load replays identically
    val ids = GraftTable.load(spark, loc).sm.snapshotIds
    assert(ids == (ids.head to ids.last))
  }

  test("fallback branch: missing partitions served from the named branch") {
    import spark.implicits._
    val mkOrders = Seq(
      (1L, "A", 10.0, "2024-01-01"), (2L, "B", 20.0, "2024-01-01"),
      (3L, "A", 30.0, "2024-01-02"), (4L, "C", 40.0, "2024-01-02")
    ).toDF("k", "status", "price", "dt")
    val loc = tmpLoc("fb")
    val t = GraftTable.create(spark, loc, mkOrders.schema,
      TableConfig(partitionKeys = Seq("dt"),
        options = Map("scan.fallback-branch" -> "hist")))
    t.write(mkOrders) // partitions 2024-01-01, 2024-01-02
    t.createBranch("hist", Some(1L))
    // main drops partition 2024-01-02 and rewrites 01-01 prices
    t.delete(col("dt") === "2024-01-02")
    t.update(Map("price" -> (col("price") * 10)), col("dt") === "2024-01-01")
    val got = t.read().select("k", "price").as[(Long, Double)].collect().toMap
    // 01-01 rows from main (×10), 01-02 rows from the branch (original)
    assert(got == Map(1L -> 100.0, 2L -> 200.0, 3L -> 30.0, 4L -> 40.0))
    // filters push into both sides; partition overlap never duplicates
    assert(t.read(Some(col("price") > 50.0)).count() == 2)
    assert(t.read().count() == 4)
    // the branch itself reads un-fused
    assert(GraftTable.load(spark, loc, Some("hist")).read().count() == 4)
    // raw plan refuses: fused reads need the DataFrame path
    assert(ReadPlans.rawEntries(t.readPlan()).isEmpty)
  }

  test("write.merge-schema: new columns evolve in; widening and explicit-cast retype") {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val loc = tmpLoc("ms")
    val t = GraftTable.create(spark, loc,
      Seq((1L, 10)).toDF("k", "v").schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1,
        options = Map("write.merge-schema" -> "true")))
    t.write(Seq((1L, 10)).toDF("k", "v"))
    // level 1: extra column evolves in; old rows read it as null
    t.write(Seq((2L, 20, "x")).toDF("k", "v", "tag"))
    val got = t.read().select("k", "tag").as[(Long, Option[String])]
      .collect().toMap
    assert(got == Map(1L -> None, 2L -> Some("x")))
    // level 1 preserves types: a LONG v arrives, column stays INT (cast down)
    t.write(Seq((3L, 30L, "y")).toDF("k", "v", "tag"))
    assert(t.dataSchema("v").dataType == IntegerType)
    // level 2: widening retypes v to LONG; old files read through evolution
    t.setOption("write.merge-schema.type-widening", "true")
    t.write(Seq((4L, 4000000000L, "z")).toDF("k", "v", "tag"))
    assert(t.dataSchema("v").dataType == LongType)
    assert(t.read().filter(col("k") === 4).select("v").as[Long].head() == 4000000000L)
    assert(t.read().filter(col("k") === 1).select("v").as[Long].head() == 10L)
    // level 2 rejects nothing but does not narrow: a DOUBLE tagged col stays
    t.write(Seq((5L, 5L, "w")).toDF("k", "v", "tag"))
    // level 3: explicit-cast narrows v back to INT; wide values cast down on read
    t.setOption("write.merge-schema.explicit-cast", "true")
    t.write(Seq((6L, 6, "q")).toDF("k", "v", "tag"))
    assert(t.dataSchema("v").dataType == IntegerType)
    assert(t.read().filter(col("k") === 6).select("v").as[Int].head() == 6)
    // PK column type never changes
    assert(t.dataSchema("k").dataType == LongType)
  }

  test("MERGE INTO with write.merge-schema: source-extra column evolves in") {
    import graft.core.RowOps._
    val loc = tmpLoc("msm")
    val t = GraftTable.create(spark, loc,
      Seq((1L, "a")).toDF("k", "v").schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1,
        options = Map("write.merge-schema" -> "true")))
    t.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val src = Seq((2L, "b2", 7), (3L, "c", 9)).toDF("k", "v", "score")
    t.mergeInto(src, col("t.k") === col("s.k"))
      .whenMatchedUpdate(set = Map("v" -> col("s.v"), "score" -> col("s.score")))
      .whenNotMatchedInsert()
      .execute()
    val got = t.read().select("k", "v", "score")
      .as[(Long, String, Option[Int])].collect().toSet
    assert(got == Set((1L, "a", None), (2L, "b2", Some(7)), (3L, "c", Some(9))))
  }

  test("tag.automatic-creation=watermark tags each commit; num-retained-max expires oldest") {
    val loc = tmpLoc("autotag")
    val df = Seq((1L, "a")).toDF("k", "v")
    val t = GraftTable.create(spark, loc, df.schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1,
        options = Map("tag.automatic-creation" -> "watermark",
          "tag.num-retained-max" -> "2")))
    // no watermark yet → no tag (auto-tagging must not break plain writes)
    t.write(df)
    assert(t.sm.listTags().isEmpty)
    t.write(Seq((2L, "b")).toDF("k", "v"), watermark = Some(100L))
    t.write(Seq((3L, "c")).toDF("k", "v"), watermark = Some(200L))
    assert(t.sm.listTags().map(_.name).toSet == Set("watermark-100", "watermark-200"))
    // user tags survive retention; a third watermark expires the oldest auto tag
    t.sm.createTag("keep-me", 1)
    t.write(Seq((4L, "d")).toDF("k", "v"), watermark = Some(300L))
    assert(t.sm.listTags().map(_.name).toSet ==
      Set("keep-me", "watermark-200", "watermark-300"))
    // the surviving tag still reads its snapshot's state
    assert(t.readTag("watermark-200").count() == 3)
  }

  test("metadata.stats-mode: none/counts/truncate degrade stats, queries stay exact") {
    def mk(opts: Map[String, String]): GraftTable = {
      val loc = tmpLoc("statsmode")
      val df = Seq(
        (1L, "aaaaaaaaaaaaaaaaaaaaZZ", "p1"), // 22 chars
        (2L, "aaaaaaaaaaaaaaaaaaaaAA", "p1"),
        (3L, null.asInstanceOf[String], "p2"),
        (4L, "short", "p2")).toDF("k", "v", "p")
      val t = GraftTable.create(spark, loc, df.schema,
        TableConfig(partitionKeys = Seq("p"), options = opts))
      t.write(df); t
    }
    // default = truncate(16): bounds clipped, flagged inexact, still valid
    val tT = mk(Map.empty)
    val stT = tT.planFiles().filter(_.partition("p") == "p1").head.stats("v")
    assert(stT.min == "aaaaaaaaaaaaaaaa" && stT.inexact)
    assert(stT.max == "aaaaaaaaaaaaaaab") // clip-increment upper bound
    // equality on a >16-char value still finds its row (no wrong prune)
    assert(tT.read().filter(col("v") === "aaaaaaaaaaaaaaaaaaaaZZ").count() == 1)
    // min/max agg pushdown refuses inexact stats
    intercept[IllegalArgumentException] {
      tT.aggFromManifest(Seq(("mx", "max", "v")))
    }
    // counts: null bounds, real null count; IS NULL pruning still exact
    val tC = mk(Map("metadata.stats-mode" -> "counts"))
    val stC = tC.planFiles().filter(_.partition("p") == "p2").head.stats("v")
    assert(stC.min == null && stC.max == null && stC.nullCount == 1)
    assert(tC.read().filter(col("v").isNull).count() == 1)
    // none: nothing collected (nullCount = -1); IS NULL must NOT prune
    val tN = mk(Map("metadata.stats-mode" -> "none"))
    val stN = tN.planFiles().filter(_.partition("p") == "p2").head.stats("v")
    assert(stN.min == null && stN.max == null && stN.nullCount == -1L)
    assert(tN.read().filter(col("v").isNull).count() == 1)
    assert(tN.read().filter(col("v") === "short").count() == 1)
    // partition columns stay fully collected regardless of mode
    assert(tN.planFiles().forall(e => e.stats("p").min != null))
    // per-field override: full stats for v even under table-wide none
    val tF = mk(Map("metadata.stats-mode" -> "none",
      "fields.v.stats-mode" -> "full"))
    val stFs = tF.planFiles().filter(_.partition("p") == "p1").map(_.stats("v"))
    assert(stFs.map(_.min).min == "aaaaaaaaaaaaaaaaaaaaAA" &&
      stFs.forall(!_.inexact))
    // lexicographic max over ALL files ('s' > 'a'), served from manifest
    // stats alone — possible only because the per-field override kept v full
    assert(tF.aggFromManifest(Seq(("mx", "max", "v")))
      .head().getString(0) == "short")
  }

  test("ignore-delete: retract records drop at ingestion instead of deleting") {
    val loc = tmpLoc("igdel")
    val df = Seq((1L, "a", "+I"), (2L, "b", "+I")).toDF("k", "v", "rk")
    val t = GraftTable.create(spark, loc, df.schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1,
        options = Map("rowkind.field" -> "rk", "ignore-delete" -> "true")))
    t.write(df)
    // a -D for k=1 is ignored; the +U for k=2 still applies
    t.write(Seq((1L, "a", "-D"), (2L, "b2", "+U")).toDF("k", "v", "rk"))
    assert(rowsOf(t.read().select("k", "v")) ==
      Set(Seq(1L, "a"), Seq(2L, "b2")))
    // fallback key spelling (paimon deduplicate.ignore-delete)
    val loc2 = tmpLoc("igdel2")
    val t2 = GraftTable.create(spark, loc2, df.schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1,
        options = Map("rowkind.field" -> "rk",
          "deduplicate.ignore-delete" -> "true")))
    t2.write(df)
    t2.write(Seq((2L, "b", "-D")).toDF("k", "v", "rk"))
    assert(t2.read().count() == 2)
  }


}
