package graft

import graft.core._
import graft.core.RowOps._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Regressions for the round-1 advisor findings: stale DV cache entries,
  * metadata-delete on null partitions, metadata carry-forward on manifest
  * compaction and rollback, and timestamp/double stat comparison. */
class AdviceRegressionSpec extends SparkTestBase {
  import spark.implicits._

  test("successive deleteDv commits on the same file both apply (DvCache)") {
    val loc = tmpLoc("dvgrow")
    // single bucket + single write → all rows share one data file, so the
    // second vector GROWS the first file's bitmap (the round-1 cache bug)
    val t = GraftTable.create(spark, loc,
      Seq((1L, "a")).toDF("k", "v").schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1))
    t.write((1L to 10L).map(i => (i, s"v$i")).toDF("k", "v"))
    t.deleteDv(col("k") === 3L)
    assert(t.read().count() == 9)
    t.deleteDv(col("k") === 7L)
    val keys = t.read().select("k").as[Long].collect().toSet
    assert(keys == (1L to 10L).toSet -- Set(3L, 7L), s"got $keys")
  }

  test("deleteDv on an empty table is a no-op commit, not an analysis crash") {
    val loc = tmpLoc("dvempty")
    val t = GraftTable.create(spark, loc,
      Seq((1L, "a")).toDF("k", "v").schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1))
    val snap = t.deleteDv(col("k") === 1L) // zero files planned
    assert(snap.deltaRecords == 0L)
    assert(t.read().count() == 0)
  }

  test("metadata-only DELETE leaves null-partition files untouched") {
    val loc = tmpLoc("nullpart")
    val df = Seq((1L, "us", 1.0), (2L, "eu", 2.0), (3L, null.asInstanceOf[String], 3.0))
      .toDF("k", "region", "x")
    val t = GraftTable.create(spark, loc, df.schema,
      TableConfig(partitionKeys = Seq("region")))
    t.write(df)
    t.delete(col("region") === "us")
    // null-partition row 3 must survive (null = 'us' is unknown, not a match)
    val keys = t.read().select("k").as[Long].collect().toSet
    assert(keys == Set(2L, 3L), s"got $keys")
    // and the matching partition is gone
    t.delete(col("region") <=> null) // not partition-exact shape → COW path, fine
    assert(t.read().count() >= 1)
  }

  test("compactManifests carries dvIndex and watermark forward") {
    val loc = tmpLoc("cmdv")
    val t = GraftTable.create(spark, loc,
      Seq((1L, "a")).toDF("k", "v").schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1))
    t.write((1L to 5L).map(i => (i, s"v$i")).toDF("k", "v"), watermark = Some(42L))
    t.deleteDv(col("k") === 2L)
    t.sm.compactManifests(t.schema.id)
    val latest = t.sm.latestSnapshot.get
    assert(latest.kind == "COMPACT")
    assert(latest.dvIndex.isDefined, "dvIndex dropped by compactManifests")
    assert(latest.watermarkLong.contains(42L), "watermark dropped by compactManifests")
    assert(t.read().select("k").as[Long].collect().toSet == Set(1L, 3L, 4L, 5L))
  }

  test("rollback restores the target snapshot's deletion vectors") {
    val loc = tmpLoc("rbdv")
    val t = GraftTable.create(spark, loc,
      Seq((1L, "a")).toDF("k", "v").schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1))
    t.write((1L to 5L).map(i => (i, s"v$i")).toDF("k", "v")) // snapshot 1
    t.deleteDv(col("k") === 2L) // snapshot 2
    assert(t.read().count() == 4)
    t.rollback(1L)
    assert(t.read().count() == 5, "rollback must undo post-target DV deletes")
    // rolling back TO a snapshot that had vectors restores them
    t.deleteDv(col("k") === 5L) // snap: rolled-back + dv on 5
    val dvSnap = t.sm.latestSnapshotId.get
    t.write(Seq((6L, "v6")).toDF("k", "v"))
    t.deleteDv(col("k") === 1L)
    t.rollback(dvSnap)
    assert(t.read().select("k").as[Long].collect().toSet == Set(1L, 2L, 3L, 4L))
  }

  test("deleteDv at 10^5 rows: executor-built bitmaps, correct across two deletes + compaction") {
    val loc = tmpLoc("dvbig")
    val t = GraftTable.create(spark, loc,
      Seq((1L, 1L)).toDF("k", "v").schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 4))
    val n = 120000L
    t.write(spark.range(n).select(col("id").as("k"), (col("id") % 1000).as("v")))
    t.deleteDv(col("v") < 400) // ~48k rows across all 4 buckets
    assert(t.read().count() == n * 600 / 1000)
    t.deleteDv(col("v") >= 900) // grows every file's bitmap
    assert(t.read().count() == n * 500 / 1000)
    assert(t.read().agg(min("v")).head().getLong(0) == 400L)
    // compaction materializes the vectors and clears the index
    t.compact()
    assert(t.sm.latestSnapshot.get.dvIndex.isEmpty)
    assert(t.read().count() == n * 500 / 1000)
  }

  test("consumers system table lists real state; expiry halts at consumer cursor") {
    val loc = tmpLoc("consexp")
    val t = GraftTable.create(spark, loc,
      Seq((1L, "a")).toDF("k", "v").schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1))
    (1 to 5).foreach(i => t.write(Seq((i.toLong, s"v$i")).toDF("k", "v")))
    Consumers.reset(t, "c1", Some(3L))
    val listed = t.systemTable("consumers").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(listed.toSeq == Seq(("c1", 3L)))
    val expired = t.expireSnapshots(1)
    assert(expired == 2, s"expected to drop snapshots 1,2 only, dropped $expired")
    assert(t.sm.snapshotIds == Seq(3L, 4L, 5L))
    // product aggregate: exp/ln path with sign + zero handling
    val aloc = tmpLoc("prod")
    val at = GraftTable.create(spark, aloc,
      Seq((1L, 1.0)).toDF("k", "x").schema,
      TableConfig(primaryKeys = Seq("k"), mergeEngine = "aggregation",
        fieldAggregates = Map("x" -> "product"), numBuckets = 1))
    at.write(Seq((1L, 2.0), (1L, -3.0), (2L, 4.0), (2L, 0.0), (3L, 2.5))
      .toDF("k", "x"))
    val got = at.read().collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(got(1L) - (-6.0)) < 1e-9 && got(2L) == 0.0 && got(3L) == 2.5, s"$got")
  }

  test("predicate transforms: widened casts and unfolded literals still prune") {
    val loc = tmpLoc("ptrans")
    val df = spark.range(100).select(col("id").cast("int").as("k"),
      (col("id") * 2).as("v"))
    val t = GraftTable.create(spark, loc, df.schema, TableConfig())
    t.write(df.filter(col("k") < 50))
    t.write(df.filter(col("k") >= 50))
    val total = t.planFiles().size
    // cast(intCol as bigint) = 60L — must see through the widening cast
    val c1 = t.planFiles(filter = Some(col("k").cast("long") === lit(60L)))
    assert(c1.size < total, s"cast-wrapped equality did not prune (${c1.size}/$total)")
    assert(c1.flatMap(_.stats.get("k")).forall(s => s.max.toLong >= 50))
    // arithmetic-foldable literal: k > 40 + 20
    val c2 = t.planFiles(filter = Some(col("k") > (lit(40) + lit(20))))
    assert(c2.size < total, "foldable literal expression did not prune")
    // IN over a cast column
    val c3 = t.planFiles(filter = Some(col("k").cast("long").isin(3L, 7L)))
    assert(c3.size < total, "IN over cast column did not prune")
    // correctness unchanged
    assert(t.read(filter = Some(col("k").cast("long") === 60L)).count() == 1)
  }

  test("lower/upper/concat transforms prune files with constant string columns") {
    val loc = tmpLoc("strtrans")
    val df = spark.range(100).select(col("id").as("k"),
      when(col("id") < 50, "Alpha").otherwise("Beta").as("seg"))
    val t = GraftTable.create(spark, loc, df.schema,
      TableConfig(partitionKeys = Seq("seg")))
    t.write(df)
    val total = t.planFiles().size
    assert(total >= 2)
    // lower(seg) = 'alpha' → only the Alpha partition's files
    val c1 = t.planFiles(filter = Some(lower(col("seg")) === "alpha"))
    assert(c1.nonEmpty && c1.size < total, s"lower() did not prune (${c1.size}/$total)")
    assert(c1.forall(_.stats("seg").min == "Alpha"))
    val c2 = t.planFiles(filter = Some(upper(col("seg")) === "BETA"))
    assert(c2.nonEmpty && c2.forall(_.stats("seg").min == "Beta"))
    // composition: concat over lower
    val c3 = t.planFiles(filter =
      Some(concat(lit("x-"), lower(col("seg"))) === "x-alpha"))
    assert(c3.nonEmpty && c3.forall(_.stats("seg").min == "Alpha"))
    // no false pruning: a matching row is still found
    assert(t.read(filter = Some(lower(col("seg")) === "beta")).count() == 50)
    // non-constant columns are untouched (conservative)
    val c4 = t.planFiles(filter = Some(lower(concat(col("seg"), col("k"))) === "zzz"))
    assert(c4.size == total)
  }

  test("timestamp stats prune exactly (trailing-zero fractions) and NaN stats don't throw") {
    val loc = tmpLoc("tsprune")
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00.12"), 1.0),
      (2L, java.sql.Timestamp.valueOf("2024-06-01 10:30:00.5"), Double.NaN)
    ).toDF("k", "ts", "x")
    val t = GraftTable.create(spark, loc, df.schema, TableConfig())
    t.write(df)
    // equality on a fraction that Instant.toString pads ('.120') but Spark
    // trims ('.12'): round-1 pruning dropped the file → empty result
    val hit = t.read(filter = Some(col("ts") === lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00.12"))))
    assert(hit.count() == 1)
    val planned = t.planFiles(filter =
      Some(col("ts") === lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00.12"))))
    assert(planned.nonEmpty, "timestamp equality wrongly pruned the file")
    // range over a double column whose stats include NaN: no BigDecimal throw
    assert(t.read(filter = Some(col("x") > 0.5)).count() >= 1)
    // file-skipping still works: far-future timestamp prunes everything
    assert(t.planFiles(filter =
      Some(col("ts") > lit(java.sql.Timestamp.valueOf("2030-01-01 00:00:00")))).isEmpty)
  }

  test("COW delete/update rewrites apply outstanding deletion vectors") {
    // found by fuzz: deleteDv(k) then an unrelated COW delete whose stats
    // pruning touches k's bucket rewrote the file WITHOUT its vector —
    // resurrecting k (and same for COW UPDATE and sort compaction)
    val loc = tmpLoc("dvcow")
    val df = spark.range(100).select(col("id").as("k"),
      concat(lit("s"), col("id")).as("s"))
    val t = GraftTable.create(spark, loc, df.schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1))
    t.write(df)
    t.deleteDv(col("k") === 39L)
    assert(t.read().count() == 99)
    // COW delete of a DIFFERENT key in the same bucket
    t.delete(col("k") === 24L)
    val t2 = GraftTable.load(spark, loc)
    assert(t2.read().count() == 98)
    assert(t2.read().filter(col("k") === 39L).count() == 0,
      "DV-deleted key resurrected by COW delete rewrite")
    // vectors of rewritten files are gone from the index (materialized)
    assert(t2.sm.latestSnapshot.get.dvIndex.isEmpty)
    // COW update path: same hazard
    val loc2 = tmpLoc("dvcow2")
    val t3 = GraftTable.create(spark, loc2, df.schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1))
    t3.write(df)
    t3.deleteDv(col("k") === 7L)
    t3.update(Map("s" -> lit("upd")), col("k") === 50L)
    val t4 = GraftTable.load(spark, loc2)
    assert(t4.read().filter(col("k") === 7L).count() == 0,
      "DV-deleted key resurrected by COW update rewrite")
    assert(t4.read().count() == 99)
  }

  test("value-column filters never prune MOR input (stale-version resurrection)") {
    val loc = tmpLoc("mor-vprune")
    val df1 = Seq((1L, 5L, "a")).toDF("k", "f", "v")
    val t = GraftTable.create(spark, loc, df1.schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1))
    t.write(df1)
    t.write(Seq((1L, 10L, "b")).toDF("k", "f", "v")) // newest version: f=10
    // f=5 only matches the STALE version; pruning the newest file by value
    // stats would resurrect it. planFiles must keep both files...
    assert(t.planFiles(None, Some(col("f") === 5L)).size == 2)
    // ...and the merged read must return nothing
    assert(t.read(Some(col("f") === 5L)).filter(col("f") === 5L).count() == 0)
    assert(t.read(Some(col("f") === 10L)).filter(col("f") === 10L).count() == 1)
    // primary-key conjuncts still prune MOR input (merge-safe columns)
    assert(t.planFiles(None, Some(col("k") === 999L)).isEmpty)
    // after compaction the bucket is fully merged → full filter prunes raw
    t.compact()
    assert(ReadPlans.rawEntries(t.readPlan(None, Some(col("f") === 5L))).exists(_.isEmpty))
    assert(t.read(Some(col("f") === 10L)).filter(col("f") === 10L).count() == 1)
  }
}
