package graft

import graft.core._
import graft.core.RowOps._
import org.apache.spark.sql.functions._

/** KEY_DYNAMIC cross-partition updates (§2.3): a PK whose partition column
  * changes must move — old partition tombstoned, exactly one row per key. */
class CrossPartitionSpec extends SparkTestBase {
  import spark.implicits._

  private def mkTable(name: String): GraftTable = {
    val loc = tmpLoc(name)
    val df = Seq(
      (1L, "A", 10.0), (2L, "A", 20.0), (3L, "B", 30.0), (4L, "B", 40.0)
    ).toDF("k", "seg", "v")
    val t = GraftTable.create(spark, loc, df.schema,
      TableConfig(primaryKeys = Seq("k"), partitionKeys = Seq("seg"),
        numBuckets = -1,
        options = Map("dynamic-bucket.target-row-count" -> "2")))
    t.write(df)
    t
  }

  test("update that changes the partition column moves the row") {
    val t = mkTable("xp-move")
    assert(t.isCrossPartition)
    // k=2 moves A→C; k=3 stays B but value changes; k=5 brand new in C
    t.write(Seq((2L, "C", 21.0), (3L, "B", 31.0), (5L, "C", 50.0))
      .toDF("k", "seg", "v"))
    val expected = Seq((1L, "A", 10.0), (2L, "C", 21.0), (3L, "B", 31.0),
      (4L, "B", 40.0), (5L, "C", 50.0)).toDF("k", "seg", "v")
    assertSameRows(t.read(), expected)
    // partition-scoped reads: the old partition no longer shows the key
    assertSameRows(t.read(filter = Some(col("seg") === "A")),
      expected.filter(col("seg") === "A"))
    assertSameRows(t.read(filter = Some(col("seg") === "C")),
      expected.filter(col("seg") === "C"))
    // no duplicate keys anywhere
    assert(t.read().groupBy("k").count().filter(col("count") > 1).isEmpty)
  }

  test("one batch holding a key in two partitions keeps only its last row") {
    // the in-batch dedup must key on the pk alone here: the partition is
    // not a function of the key, so two rows of k=6 land in different
    // partitions and buckets and only the last input row may survive
    val t = mkTable("xp-batch-dup")
    t.write(Seq((6L, "A", 60.0), (7L, "B", 70.0), (6L, "C", 61.0))
      .toDF("k", "seg", "v"))
    assertSameRows(t.read().filter(col("k") >= 6L),
      Seq((6L, "C", 61.0), (7L, "B", 70.0)).toDF("k", "seg", "v"))
  }

  test("chained moves and move-back converge; compaction preserves state") {
    val t = mkTable("xp-chain")
    t.write(Seq((1L, "B", 11.0)).toDF("k", "seg", "v")) // A→B
    t.write(Seq((1L, "C", 12.0)).toDF("k", "seg", "v")) // B→C
    t.write(Seq((1L, "A", 13.0)).toDF("k", "seg", "v")) // C→A (back)
    val expected = Seq((1L, "A", 13.0), (2L, "A", 20.0), (3L, "B", 30.0),
      (4L, "B", 40.0)).toDF("k", "seg", "v")
    assertSameRows(t.read(), expected)
    assert(t.compact().isDefined)
    assertSameRows(t.read(), expected)
    for (s <- Seq("A", "B", "C"))
      assertSameRows(t.read(filter = Some(col("seg") === s)),
        expected.filter(col("seg") === s))
  }

  test("dynamic-bucket index is laid out partitioned by __pt (pruned routing reads)") {
    val t = mkTable("xp-idxlayout")
    val fs = t.sm.fs
    val idxDir = new org.apache.hadoop.fs.Path(t.location, "index/bucket-index")
    assert(fs.exists(idxDir))
    val subdirs = fs.listStatus(idxDir).filter(_.isDirectory).map(_.getPath.getName)
    assert(subdirs.nonEmpty && subdirs.forall(_.startsWith("__pt=")),
      s"index should be hive-partitioned by __pt, got ${subdirs.mkString(",")}")
    // 2 table partitions (A, B) → 2 index partitions
    assert(subdirs.length == 2)
    // a write touching only one partition adds no new index partition dirs
    t.write(Seq((2L, "A", 21.0)).toDF("k", "seg", "v")) // existing key, same pt
    val after = fs.listStatus(idxDir).filter(_.isDirectory).map(_.getPath.getName)
    assert(after.length == 2)
  }

  test("full-compaction changelog producer: compact emits exact diff, chain serves reads") {
    val loc = tmpLoc("fc-cl")
    val df = Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "s", "v")
    val t = GraftTable.create(spark, loc, df.schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 2,
        options = Map("changelog-producer" -> "full-compaction")))
    t.write(df)                                                    // snap 1
    t.write(Seq((2L, "b2", 20.0), (3L, "c", 3.0)).toDF("k", "s", "v")) // snap 2
    t.compact()                                                    // snap 3 + changelog
    val s3 = t.sm.readSnapshot(3L)
    assert(s3.kind == "COMPACT" && s3.changelogFiles.nonEmpty)
    assert(s3.changelogBaseLong.contains(0L))
    // changelog(0,3) = +I of the final state, served from stored files
    val cl1 = t.changelog(0L, 3L)
    assert(cl1.inputFiles.forall(_.contains("/changelog/")),
      s"expected stored changelog files, got ${cl1.inputFiles.toSeq}")
    assert(rowsOf(cl1.select(col("k"), col("s"), col("v"), col("_row_kind"))) ==
      Set(Seq(1L, "a", 1.0, "+I"), Seq(2L, "b2", 20.0, "+I"), Seq(3L, "c", 3.0, "+I")))
    // second window: update + delete-by-upsert, compact again
    t.write(Seq((1L, "a9", 9.0)).toDF("k", "s", "v"))              // snap 4
    t.compact()                                                    // snap 5, base 3
    val s5 = t.sm.readSnapshot(5L)
    assert(s5.changelogBaseLong.contains(3L))
    val cl2 = t.changelog(3L, 5L)
    assert(cl2.inputFiles.forall(_.contains("/changelog/")))
    assert(rowsOf(cl2.select(col("k"), col("s"), col("v"), col("_row_kind"))) ==
      Set(Seq(1L, "a", 1.0, "-U"), Seq(1L, "a9", 9.0, "+U")))
    // full chain 0→5 from files; a misaligned window (to=4 is not a
    // compaction point) falls back to the exact runtime diff
    assert(t.changelog(0L, 5L).inputFiles.forall(_.contains("/changelog/")))
    assert(rowsOf(t.changelog(3L, 4L).select(col("k"), col("s"), col("v"), col("_row_kind"))) ==
      Set(Seq(1L, "a", 1.0, "-U"), Seq(1L, "a9", 9.0, "+U")))
  }

  test("rollback rebuilds the key index: no duplicate after rewound move") {
    val t = mkTable("xp-rollback")               // snap 1: k2 in A
    t.write(Seq((2L, "C", 21.0)).toDF("k", "seg", "v")) // snap 2: k2 moved A→C
    t.rollback(1L)                               // k2 back in A
    // the stale index said k2 ∈ C; a write keeping k2 in C must still MOVE
    // it (tombstone into A) — without the rebuild this would duplicate
    t.write(Seq((2L, "C", 22.0)).toDF("k", "seg", "v"))
    val rows = t.read().filter(col("k") === 2L)
      .as[(Long, String, Double)].collect().toSeq
    assert(rows == Seq((2L, "C", 22.0)), s"got $rows")
    assert(t.read().groupBy("k").count().filter(col("count") > 1).isEmpty)
    assert(t.read().count() == 4)
  }

  test("cross-partition move with lookup changelog producer emits -U/+U, not +I") {
    val loc = tmpLoc("xp-cl")
    val df = Seq((1L, "A", 10.0), (2L, "B", 20.0)).toDF("k", "seg", "v")
    val t = GraftTable.create(spark, loc, df.schema,
      TableConfig(primaryKeys = Seq("k"), partitionKeys = Seq("seg"),
        numBuckets = -1,
        options = Map("dynamic-bucket.target-row-count" -> "10",
          "changelog-producer" -> "lookup")))
    t.write(df)
    t.write(Seq((1L, "C", 11.0)).toDF("k", "seg", "v")) // A→C move
    val cl = t.changelog(1L, 2L)
      .select(col("k"), col("seg"), col("v"), col("_row_kind"))
      .as[(Long, String, Double, String)].collect().toSet
    assert(cl == Set((1L, "A", 10.0, "-U"), (1L, "C", 11.0, "+U")),
      s"got $cl")
  }

  test("postpone bucket mode: zero-shuffle writes invisible until compaction") {
    // LEGACY flow (batch-write-fixed-bucket=false): the reference's DEFAULT
    // immediately-visible fixed-bucket flow is PostponeFixedBucketSpec
    val loc = tmpLoc("postpone")
    val df = spark.range(100).select(col("id").as("k"),
      concat(lit("v"), col("id")).as("s"))
    val t = GraftTable.create(spark, loc, df.schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = -2,
        options = Map("postpone.default-bucket-num" -> "3",
          "postpone.batch-write-fixed-bucket" -> "false")))
    t.write(df)
    // staged in bucket -2, not readable yet
    assert(t.sm.liveEntries(t.sm.latestSnapshot.get).forall(_.bucket == -2))
    assert(t.read().isEmpty)
    // compaction hash-routes into real buckets; data appears
    t.compact()
    val buckets = t.sm.liveEntries(t.sm.latestSnapshot.get).map(_.bucket).distinct.sorted
    assert(buckets.forall(b => b >= 0 && b < 3), s"buckets: $buckets")
    assertSameRows(t.read(), df)
    // an update write stages again: reads serve the compacted state only
    t.write(Seq((5L, "UPDATED")).toDF("k", "s"))
    assert(t.read().filter(col("k") === 5L).head().getString(1) == "v5")
    t.compact()
    assert(t.read().filter(col("k") === 5L).head().getString(1) == "UPDATED")
    assert(t.read().count() == 100)
  }

  test("aggregation engine: merge_map unions maps later-wins; nested_update collects") {
    val loc = tmpLoc("mergemap")
    // nested_update/collect columns are ARRAY-typed (reference
    // FieldCollectAgg): writers supply arrays (singletons for one value),
    // merging concatenates — so compacted accumulators re-merge correctly
    val df = Seq(
      (1L, Map("a" -> 1, "b" -> 2), Seq("x1")),
      (1L, Map("b" -> 20, "c" -> 30), Seq("x2")),
      (2L, Map("z" -> 9), Seq("y1"))
    ).toDF("k", "attrs", "tag")
    val t = GraftTable.create(spark, loc, df.schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1,
        mergeEngine = "aggregation",
        fieldAggregates = Map("attrs" -> "merge_map", "tag" -> "nested_update")))
    t.write(df.limit(2).filter(array_contains(col("tag"), "x1")))
    t.write(df.filter(!array_contains(col("tag"), "x1")))
    val got = t.read().as[(Long, Map[String, Int], Seq[String])]
      .collect().sortBy(_._1).toSeq
    assert(got(0)._2 == Map("a" -> 1, "b" -> 20, "c" -> 30),
      s"merge_map wrong: ${got(0)._2}")
    assert(got(0)._3 == Seq("x1", "x2"))
    assert(got(1)._2 == Map("z" -> 9) && got(1)._3 == Seq("y1"))
    // associativity across compaction: the folded accumulator array must
    // re-merge with a later singleton write by concatenation
    t.compact()
    t.write(Seq((1L, Map("d" -> 4), Seq("x3"))).toDF("k", "attrs", "tag"))
    val after = t.read().filter(col("k") === 1L)
      .as[(Long, Map[String, Int], Seq[String])].head()
    assert(after._2 == Map("a" -> 1, "b" -> 20, "c" -> 30, "d" -> 4),
      s"merge_map post-compaction wrong: ${after._2}")
    assert(after._3 == Seq("x1", "x2", "x3"),
      s"collect post-compaction wrong: ${after._3}")
  }

  test("aggregation engine: merge_map_with_keytime, nested_partial_update, primary-key") {
    val loc = tmpLoc("keytime")
    // map<string, struct<v:int, ts:string>> — keytime is the LAST field by
    // default; array<struct<id:int, a:string, b:string>> keyed by id
    val df = Seq(
      (1L, Map("x" -> (1, "t1"), "y" -> (2, "t5")),
        Seq((10, Option("a0"), Option.empty[String])), "first"),
      (1L, Map("x" -> (9, "t3"), "y" -> (8, "t2")),
        Seq((10, Option.empty[String], Option("b1")), (11, Option("a1"), Option.empty[String])), "second")
    ).toDF("k", "m", "nest", "who")
      .select(col("k"),
        col("m").cast("map<string,struct<v:int,ts:string>>").as("m"),
        col("nest").cast("array<struct<id:int,a:string,b:string>>").as("nest"),
        col("who"))
    val t = GraftTable.create(spark, loc, df.schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1,
        mergeEngine = "aggregation",
        fieldAggregates = Map("m" -> "merge_map_with_keytime",
          "nest" -> "nested_partial_update", "who" -> "primary-key"),
        options = Map("fields.nest.nested-key" -> "id")))
    t.write(df.filter(col("who") === "first"))
    t.write(df.filter(col("who") === "second"))
    val row = t.read().selectExpr("k", "m['x'].v", "m['y'].v",
      "nest", "who").head()
    // x: t3 > t1 → 9 wins; y: t2 < t5 → 2 stays
    assert(row.getInt(1) == 9 && row.getInt(2) == 2)
    // nested row id=10 patched (a kept from v1, b from v2); id=11 appended
    val nest = row.getSeq[org.apache.spark.sql.Row](3)
      .map(r => (r.getInt(0), r.getString(1), r.getString(2)))
    assert(nest == Seq((10, "a0", "b1"), (11, "a1", null)), s"got $nest")
    // primary-key agg: last input wins
    assert(row.getString(4) == "second")
    // keytime removal: a null row deletes the entry
    val del = Seq((1L, Map("x" -> Option.empty[(Int, String)]),
      Seq.empty[(Int, Option[String], Option[String])], "third"))
      .toDF("k", "m", "nest", "who")
      .select(col("k"),
        col("m").cast("map<string,struct<v:int,ts:string>>").as("m"),
        col("nest").cast("array<struct<id:int,a:string,b:string>>").as("nest"),
        col("who"))
    t.write(del)
    val m2 = t.read().selectExpr("map_keys(m)").head().getSeq[String](0)
    assert(m2.toSet == Set("y"), s"expected x removed, got $m2")
  }

  test("nested schema evolution: rename + widen + append inside a struct") {
    val loc = tmpLoc("nested-evo")
    val df = Seq((1L, ("alice", 10)), (2L, ("bob", 20)))
      .toDF("k", "info").select(col("k"),
        col("info").cast("struct<name:string,cnt:int>").as("info"))
    val t = GraftTable.create(spark, loc, df.schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1))
    t.write(df)
    // rename name→full_name, widen cnt int→bigint, append score double
    t.renameNestedColumn("info", "name", "full_name")
    GraftTable.load(spark, loc).updateColumnType("info",
      org.apache.spark.sql.types.StructType.fromDDL(
        "full_name string, cnt bigint"))
    GraftTable.load(spark, loc).addNestedColumn("info", "score",
      org.apache.spark.sql.types.DoubleType)
    val t2 = GraftTable.load(spark, loc)
    t2.write(Seq((3L, ("carol", 30L, 9.5))).toDF("k", "info")
      .select(col("k"),
        col("info").cast("struct<full_name:string,cnt:bigint,score:double>").as("info")))
    val got = t2.read().select(col("k"), col("info.full_name"),
      col("info.cnt"), col("info.score")).as[(Long, String, Long, Option[Double])]
      .collect().toSet
    assert(got == Set((1L, "alice", 10L, None), (2L, "bob", 20L, None),
      (3L, "carol", 30L, Some(9.5))))
    // arrays of structs evolve too: null-safety of the struct remap
    assert(t2.read().filter(col("info").isNull).count() == 0)
  }

  test("nested evolution: drop, reorder, and re-add match by NESTED FIELD ID") {
    val loc = tmpLoc("nested-drop")
    val df = Seq((1L, ("a1", 10, 1.5)), (2L, ("b2", 20, 2.5)))
      .toDF("k", "info").select(col("k"),
        col("info").cast("struct<name:string,cnt:int,score:double>").as("info"))
    val t = GraftTable.create(spark, loc, df.schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1))
    t.write(df)
    // drop the MIDDLE field: old files' remaining fields must not shift
    t.dropNestedColumn("info", "cnt")
    val t2 = GraftTable.load(spark, loc)
    assert(t2.read().select(col("info.name"), col("info.score"))
      .as[(String, Double)].collect().toSet == Set(("a1", 1.5), ("b2", 2.5)))
    // reorder: ids travel with the names
    t2.reorderNestedColumns("info", Seq("score", "name"))
    val t3 = GraftTable.load(spark, loc)
    assert(t3.dataSchema.fields.find(_.name == "info").get.dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq
      == Seq("score", "name"))
    assert(t3.read().select(col("info.name"), col("info.score"))
      .as[(String, Double)].collect().toSet == Set(("a1", 1.5), ("b2", 2.5)))
    // re-add a dropped name: FRESH id — old files' cnt data must NOT resurface
    t3.addNestedColumn("info", "cnt", org.apache.spark.sql.types.IntegerType)
    val t4 = GraftTable.load(spark, loc)
    assert(t4.read().select(col("info.cnt")).as[Option[Int]]
      .collect().toSeq == Seq(None, None))
    // new writes fill all three; old rows keep nulls only for the re-added id
    t4.write(Seq((3L, (3.5, "c3", 30))).toDF("k", "info")
      .select(col("k"),
        col("info").cast("struct<score:double,name:string,cnt:int>").as("info")))
    val got = GraftTable.load(spark, loc).read()
      .select(col("k"), col("info.name"), col("info.score"), col("info.cnt"))
      .as[(Long, String, Double, Option[Int])].collect().toSet
    assert(got == Set((1L, "a1", 1.5, None), (2L, "b2", 2.5, None),
      (3L, "c3", 3.5, Some(30))))
  }

  test("nested evolution via SQL ALTER: rename/drop/add on struct fields") {
    spark.conf.set("spark.sql.catalog.gnest", "graft.dsv2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gnest.warehouse", tmpLoc("nest-wh"))
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gnest.db")
    spark.sql("""CREATE TABLE gnest.db.ne (k BIGINT,
      info STRUCT<name: STRING, cnt: INT>) TBLPROPERTIES ('primary-key'='k')""")
    spark.sql("INSERT INTO gnest.db.ne VALUES (1, named_struct('name','x','cnt',7))")
    spark.sql("ALTER TABLE gnest.db.ne RENAME COLUMN info.name TO label")
    spark.sql("ALTER TABLE gnest.db.ne DROP COLUMN info.cnt")
    spark.sql("ALTER TABLE gnest.db.ne ADD COLUMN info.w DOUBLE")
    val got = spark.sql("SELECT k, info.label, info.w FROM gnest.db.ne")
      .as[(Long, String, Option[Double])].collect().toSeq
    assert(got == Seq((1L, "x", None)))
  }

  test("row tracking: stable ids survive sort compaction; lineage by commit") {
    val loc = tmpLoc("rowtrack")
    val df = spark.range(50).select(col("id").as("k"),
      concat(lit("r"), col("id")).as("s"))
    val t = GraftTable.create(spark, loc, df.schema,
      TableConfig(options = Map("row-tracking.enabled" -> "true")))
    t.write(df)
    val ids1 = t.systemTable("row_tracking").select("k", "row_id")
      .as[(Long, Long)].collect().toMap
    assert(ids1.size == 50 && ids1.values.toSet.size == 50, "ids must be unique")
    t.write(spark.range(50, 80).select(col("id").as("k"),
      concat(lit("r"), col("id")).as("s")))
    // sort compaction rewrites every file; ids must NOT change
    t.compactSorted("order", Seq("k"))
    val after = t.systemTable("row_tracking")
      .select("k", "row_id", "commit_seq").as[(Long, Long, Long)].collect()
    assert(after.length == 80)
    val afterIds = after.map(r => r._1 -> r._2).toMap
    ids1.foreach { case (k, id) =>
      assert(afterIds(k) == id, s"row id of k=$k changed across compaction") }
    // lineage: first batch from commit 1, second from commit 2
    assert(after.filter(_._3 == 1L).map(_._1).toSet == (0L until 50L).toSet)
    assert(after.filter(_._3 == 2L).map(_._1).toSet == (50L until 80L).toSet)
  }

  test("variant shredding: extraction reads typed columns, never the binary") {
    val loc = tmpLoc("shred")
    val df = spark.range(500).select(
      col("id"),
      expr("parse_json(to_json(named_struct('lang', " +
        "CASE WHEN id % 2 = 0 THEN 'en' ELSE 'de' END, 'n', id * 3)))").as("meta"))
    val t = GraftTable.create(spark, loc, df.schema, TableConfig(
      options = Map("fields.meta.shred" -> "$.lang:string,$.n:bigint")))
    t.write(df)
    val got = t.readVariantExtracted("meta", Seq("lang", "n"))
      .select(col("id"), col("lang"), col("n"))
    // values identical to a live variant_get decode
    assertSameRows(got, t.read().select(col("id"),
      expr("variant_get(meta, '$.lang', 'string')").as("lang"),
      expr("variant_get(meta, '$.n', 'bigint')").as("n")))
    // the extraction plan touches the shredded columns only: no variant_get
    // call, and the variant binary column is pruned out of the scan
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("variant_get"), s"extraction still decodes:\n$plan")
    assert(plan.contains("__shred__meta__0"), s"shred column not read:\n$plan")
    assert(!plan.toLowerCase.contains("readschema: struct<id:bigint,meta"),
      "variant binary should be pruned from the read")
    // shred columns carry stats → manifest pruning on extracted values
    val pruned = t.planFiles(filter =
      Some(col(GraftTable.shredColName("meta", 1)) === 3L))
    assert(pruned.size <= t.planFiles().size)
    // plain reads still return exactly the declared table schema
    assert(t.read().columns.toSeq == Seq("id", "meta"))
  }

  test("variant shredding on PK tables: merged view, still decode-free") {
    val loc = tmpLoc("shred-pk")
    def mk(off: Long) = spark.range(300).select(
      col("id"),
      expr("parse_json(to_json(named_struct('lang', " +
        s"CASE WHEN id % 2 = 0 THEN 'en' ELSE 'de' END, 'n', id * 3 + $off)))")
        .as("meta"))
    val t = GraftTable.create(spark, loc, mk(0).schema, TableConfig(
      primaryKeys = Seq("id"), numBuckets = 2,
      options = Map("fields.meta.shred" -> "$.lang:string,$.n:bigint")))
    t.write(mk(0))
    // upsert half the keys with NEW variant payloads: the merged view must
    // serve the WINNER's extractions, not the stale ones
    t.write(mk(7).filter(col("id") % 3 === 0))
    val got = t.readVariantExtracted("meta", Seq("lang", "n"))
      .select(col("id"), col("lang"), col("n"))
    assertSameRows(got, t.read().select(col("id"),
      expr("variant_get(meta, '$.lang', 'string')").as("lang"),
      expr("variant_get(meta, '$.n', 'bigint')").as("n")))
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("variant_get"), s"extraction still decodes:\n$plan")
    // compaction (preMerged rewrite) keeps the shred columns intact
    t.compact()
    assertSameRows(t.readVariantExtracted("meta", Seq("lang", "n"))
      .select(col("id"), col("lang"), col("n")), got)
    // field-combining engines reject shred specs (extraction-of-merged
    // variant is undefined ahead of time)
    intercept[IllegalArgumentException] {
      GraftTable.create(spark, tmpLoc("shred-pk-bad"), mk(0).schema,
        TableConfig(primaryKeys = Seq("id"), mergeEngine = "partial-update",
          options = Map("fields.meta.shred" -> "$.n:bigint")))
    }
  }

  test("within-batch duplicate keys: last input wins, including partition") {
    val t = mkTable("xp-batchdup")
    t.write(Seq((2L, "C", 97.0), (2L, "D", 98.0)).toDF("k", "seg", "v"))
    val got = t.read().filter(col("k") === 2L).collect()
    assert(got.length == 1)
    assert(got.head.getString(1) == "D" && got.head.getDouble(2) == 98.0)
  }
}
