package graft

import graft.core._
import graft.core.RowOps._
import org.apache.spark.sql.functions._

/** Per-data-file secondary indexes: bloom / bitmap / bsi build + pruning +
  * row skipping (SURVEY §2.2 file indexes). */
class FileIndexSpec extends SparkTestBase {
  import spark.implicits._

  test("bloom-filter index: equality skips files min/max cannot") {
    val loc = tmpLoc("fi-bloom")
    val df = Seq((1L, "x")).toDF("k", "v")
    val t = GraftTable.create(spark, loc, df.schema, TableConfig(options = Map(
      "file-index.bloom-filter.columns" -> "k")))
    // two files with fully-overlapping ranges but disjoint value sets:
    // odds [1..99], evens [2..100] — min/max alone prunes nothing
    t.write((1L to 99L by 2).map(i => (i, s"v$i")).toDF("k", "v").repartition(1))
    t.write((2L to 100L by 2).map(i => (i, s"v$i")).toDF("k", "v").repartition(1))
    assert(t.planFiles(None, None).size == 2)
    val planned = t.planFiles(None, Some(col("k") === 42L))
    assert(planned.size == 1, s"bloom should skip the odd file, got ${planned.size}")
    assert(t.read(Some(col("k") === 42L)).filter(col("k") === 42L).count() == 1)
    // absent value: both files provably skipped
    assert(t.planFiles(None, Some(col("k") === 101L)).isEmpty)
  }

  test("bitmap index: exact dictionary skips files and rows") {
    val loc = tmpLoc("fi-bitmap")
    val df = Seq((1L, "cat")).toDF("k", "animal")
    val t = GraftTable.create(spark, loc, df.schema, TableConfig(options = Map(
      "file-index.bitmap.columns" -> "animal")))
    // overlapping k ranges; 'ox' only in file2, rare within it
    t.write(Seq((1L, "ant"), (99L, "zebra")).toDF("k", "animal").repartition(1))
    t.write(((2L to 50L).map(i => (i, "cow")) :+ (51L, "ox")).toDF("k", "animal").repartition(1))
    val planned = t.planFiles(None, Some(col("animal") === "ox"))
    assert(planned.size == 1, s"bitmap should skip file1, got ${planned.size}")
    // row skip: the selection keeps 1 of 50 rows; the skip map materializes
    val skips = t.readPlan(None, Some(col("animal") === "ox")) match {
      case ReadPlan.Raw(entries, skips) if entries == planned => skips
      case p => fail(s"expected the raw plan of the pruned file: $p")
    }
    assert(skips.nonEmpty, "expected a row-skip bitmap from the bitmap index")
    val got = t.read(Some(col("animal") === "ox")).filter(col("animal") === "ox")
    assert(got.select("k").as[Long].collect().toSeq == Seq(51L))
    // IN over both files
    val in2 = t.read(Some(col("animal").isin("ox", "zebra")))
      .filter(col("animal").isin("ox", "zebra"))
    assert(in2.select("k").as[Long].collect().sorted.toSeq == Seq(51L, 99L))
  }

  test("bitmap index: cardinality overflow poisons safely") {
    val loc = tmpLoc("fi-poison")
    val df = Seq((1L, "s")).toDF("k", "s")
    val t = GraftTable.create(spark, loc, df.schema, TableConfig(options = Map(
      "file-index.bitmap.columns" -> "s",
      "file-index.bitmap.s.max-cardinality" -> "4")))
    t.write((1L to 100L).map(i => (i, s"s$i")).toDF("k", "s").repartition(1))
    // poisoned index must not prune (and must not break reads)
    assert(t.planFiles(None, Some(col("s") === "s42")).size == 1)
    assert(t.read(Some(col("s") === "s42")).filter(col("s") === "s42").count() == 1)
  }

  test("bsi index: range predicates skip files and rows inside the envelope") {
    val loc = tmpLoc("fi-bsi")
    val df = Seq((1L, 1L)).toDF("k", "x")
    val t = GraftTable.create(spark, loc, df.schema, TableConfig(options = Map(
      "file-index.bsi.columns" -> "x")))
    // file1 envelope [1,100] but holds only the endpoints; file2 holds 40..60
    t.write(Seq((1L, 1L), (2L, 100L)).toDF("k", "x").repartition(1))
    t.write((40L to 60L).map(i => (i, i)).toDF("k", "x").repartition(1))
    val between = col("x") >= 45L && col("x") <= 55L
    val planned = t.planFiles(None, Some(between))
    assert(planned.size == 1, s"bsi should skip the endpoint file, got ${planned.size}")
    val got = t.read(Some(between)).filter(between)
    assert(got.count() == 11)
    // negatives round-trip through the biased slices
    val loc2 = tmpLoc("fi-bsi-neg")
    val t2 = GraftTable.create(spark, loc2, df.schema, TableConfig(options = Map(
      "file-index.bsi.columns" -> "x")))
    t2.write(Seq((1L, -50L), (2L, -10L), (3L, 0L), (4L, 10L)).toDF("k", "x").repartition(1))
    assert(t2.read(Some(col("x") < -5L)).filter(col("x") < -5L).count() == 2)
    assert(t2.read(Some(col("x") >= 0L)).filter(col("x") >= 0L).count() == 2)
    assert(t2.read(Some(col("x") === -10L)).filter(col("x") === -10L)
      .select("k").as[Long].head() == 2L)
  }

  test("PK tables: file indexes never prune on value columns (merge safety)") {
    val loc = tmpLoc("fi-pk")
    val df = Seq((1L, 5L)).toDF("k", "f")
    val t = GraftTable.create(spark, loc, df.schema, TableConfig(
      primaryKeys = Seq("k"), numBuckets = 1,
      options = Map("file-index.bloom-filter.columns" -> "k,f")))
    t.write(Seq((1L, 5L)).toDF("k", "f"))
    t.write(Seq((1L, 10L)).toDF("k", "f")) // newest version: f=10
    // f is a value column: the bloom index must not skip the newest file
    assert(t.planFiles(None, Some(col("f") === 5L)).size == 2)
    assert(t.read(Some(col("f") === 5L)).filter(col("f") === 5L).count() == 0)
    // k is the primary key: bloom pruning applies (all versions colocate)
    assert(t.planFiles(None, Some(col("k") === 999L)).isEmpty)
    // post-compaction the raw path may use the full filter + index
    t.compact()
    assert(ReadPlans.rawEntries(t.readPlan(None, Some(col("f") === 5L))).exists(_.isEmpty))
  }

  test("rewrite_file_index procedure rebuilds a dropped index directory") {
    val loc = tmpLoc("fi-rebuild")
    val df = Seq((1L, "x")).toDF("k", "v")
    val t = GraftTable.create(spark, loc, df.schema, TableConfig(options = Map(
      "file-index.bloom-filter.columns" -> "k")))
    t.write((1L to 99L by 2).map(i => (i, s"v$i")).toDF("k", "v").repartition(1))
    t.write((2L to 100L by 2).map(i => (i, s"v$i")).toDF("k", "v").repartition(1))
    // wipe the index dir → pruning degrades to stats only (keeps both)
    val dir = new org.apache.hadoop.fs.Path(loc, FileIndexes.DIR)
    t.sm.fs.delete(dir, true)
    FileIndexStore.invalidate(loc)
    assert(t.planFiles(None, Some(col("k") === 42L)).size == 2)
    val out = Procedures.call(spark, t, "rewrite_file_index")
    assert(out.as[String].head().contains("2 files"))
    assert(t.planFiles(None, Some(col("k") === 42L)).size == 1)
  }

}
