package graft.core

import graft.{ReadPlans, SparkJobs, SparkTestBase}
import graft.core.RowOps._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Differential check of bucket-local compaction: deduplicate and first-row
 * parquet tables merge each bucket inside its scan task
 * ([[graft.dsv2.GraftMorScan]]) and write it from there. The oracle is the
 * relational path, computed from the same table state before the
 * compaction runs: `MergeEngines.merge` over the V1 read with deletion
 * vectors applied, then the routed `writeFiles` the relational compaction
 * uses (left uncommitted). Both sides must produce the same rows, envelope
 * columns included, and the same file sizes, levels, layouts and manifest
 * stats per (partition, bucket).
 */
class CompactionInScanSpec extends SparkTestBase {
  import spark.implicits._

  private def abs(t: GraftTable, e: ManifestEntry): String =
    new Path(t.location, e.path).toString

  /** Rows of data files exactly as stored, envelope included. */
  private def stored(t: GraftTable, es: Seq[ManifestEntry]): Seq[String] =
    if (es.isEmpty) Nil
    else spark.read.parquet(es.map(abs(t, _)): _*).collect().map(_.toString).sorted.toSeq

  private def layout(es: Seq[ManifestEntry]) = {
    val keys = es.map(e => (e.partition, e.bucket))
    assert(keys.distinct.size == keys.size, s"one file per bucket expected: $keys")
    es.map(e => (e.partition, e.bucket) ->
      (e.rowCount, e.fileSize, e.level, e.totalBuckets, e.minSeq, e.maxSeq, e.stats)).toMap
  }

  /** Runs `compaction` on the table at `loc` and compares what it wrote with
    * the relational oracle over the buckets it rewrote. */
  private def compareWithOracle(loc: String)(
      compaction: GraftTable => Option[SnapshotMeta]): SparkJobs.Jobs = {
    val t = GraftTable.load(spark, loc)
    val before = t.allLiveEntries()
    val oracle = t.writeFiles(t.recordLevelExpire(MergeEngines.merge(
      t.readEntries(before, withInternal = true, t.dvFor(None)), t.config,
      t.dataSchema)), preMerged = true, level = 1)
    val jobs = SparkJobs.during(spark)(assert(compaction(t).isDefined))
    val beforePaths = before.map(_.path).toSet
    val adds = GraftTable.load(spark, loc).allLiveEntries()
      .filterNot(e => beforePaths(e.path))
    val rewritten = adds.map(e => (e.partition, e.bucket)).toSet
    val want = oracle.filter(e => rewritten((e.partition, e.bucket)))
    assert(adds.nonEmpty)
    assert(layout(adds) == layout(want))
    assert(stored(t, adds) == stored(t, want))
    jobs
  }

  /** A new manifest entry for a copy of `e` at a fresh path, so the copy
    * can be committed next to the delete of the original. */
  private def copyFile(t: GraftTable, e: ManifestEntry, tag: String): ManifestEntry = {
    val to = s"data/$tag-${new Path(e.path).getName}"
    val fs = t.sm.fs
    org.apache.hadoop.fs.FileUtil.copy(fs, new Path(abs(t, e)), fs,
      new Path(t.location, to), false, spark.sessionState.newHadoopConf())
    e.copy(path = to)
  }

  private def replaceEntries(t: GraftTable, old: Seq[ManifestEntry],
                             now: Seq[ManifestEntry]): Unit =
    t.sm.commit(old.map(_.copy(kind = 1)) ++ now, "OVERWRITE", "forge", t.schema.id)

  private val inScanFull = (1, 1, 0, 0)

  test("deduplicate: partitions, multi-file buckets, -D tombstones and deletion vectors") {
    val loc = tmpLoc("cis-dedup")
    def rows(keys: Seq[Int], v: String, rk: String = "+I"): DataFrame =
      keys.map(k => (if (k % 2 == 0) "a" else "b", k.toLong, s"$v$k", rk))
        .toDF("p", "k", "v", "rk")
    val t = GraftTable.create(spark, loc, rows(0 until 1, "").schema,
      TableConfig(primaryKeys = Seq("p", "k"), partitionKeys = Seq("p"),
        numBuckets = 2, options = Map("rowkind.field" -> "rk")))
    t.write(rows(0 until 400, "v0"))
    t.write(rows(100 until 300, "v1"))
    t.write(rows(250 until 350, "x", "-D"))
    t.write(rows(340 until 360, "v2")) // some keys come back after their tombstone
    t.deleteDv(col("k") % 7 === 0)
    val expect = t.read().as[(String, Long, String, String)].collect().toSet
    val full = compareWithOracle(loc)(_.compact())
    assert(full.shape == inScanFull && full.shuffleWriteBytes == 0, full)
    assert(GraftTable.load(spark, loc).read()
      .as[(String, Long, String, String)].collect().toSet == expect)

    // partial: one partition's buckets gain files and a vector
    t.write(rows((0 until 80).filter(_ % 2 == 1), "v3"))
    t.deleteDv(col("k") === 11L)
    val partial = compareWithOracle(loc)(_.compactWhere(_.partition("p") == "b"))
    assert(partial.shape == inScanFull, partial)
    val after = GraftTable.load(spark, loc)
    assert(after.allLiveEntries().filter(_.partition("p") == "b").forall(_.level == 1))
    assert(after.dvFor(None).isEmpty)
    assert(after.read().filter(col("k") === 13L).select("v").as[String].collect()
      .toSeq == Seq("v313"))
  }

  test("first-row: the earliest version wins, with deletion vectors") {
    val loc = tmpLoc("cis-first")
    def rows(keys: Range, v: String): DataFrame =
      keys.map(k => (k.toLong, s"$v$k", k * 0.5)).toDF("k", "v", "d")
    val t = GraftTable.create(spark, loc, rows(0 until 1, "").schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 3, mergeEngine = "first-row"))
    t.write(rows(0 until 300, "v0"))
    t.write(rows(200 until 500, "v1"))
    t.write(rows(450 until 600, "v2"))
    t.deleteDv(col("k") % 11 === 0)
    val jobs = compareWithOracle(loc)(_.compact())
    assert(jobs.shape == inScanFull && jobs.shuffleWriteBytes == 0, jobs)
    val got = GraftTable.load(spark, loc).read().select("k", "v").as[(Long, String)]
      .collect().toMap
    assert(got(250L) == "v0250" && got(470L) == "v1470" && got(599L) == "v2599")
    assert(!got.contains(220L))
  }

  test("record-level expire, two sequence fields and the full-compaction changelog") {
    val loc = tmpLoc("cis-expire")
    val old = java.sql.Timestamp.valueOf("2000-01-01 00:00:00")
    val fresh = java.sql.Timestamp.valueOf("2999-01-01 00:00:00")
    def rows(keys: Range, flag: Long, v: String): DataFrame =
      keys.map(k => (k.toLong, if (k % 5 == 0) old else fresh, flag, s"$v$k"))
        .toDF("k", "ts", "flag", "v")
    val t = GraftTable.create(spark, loc, rows(0 until 1, 0L, "").schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 2,
        sequenceField = Some("ts,flag"),
        options = Map("record-level.expire-time" -> "3650d",
          "record-level.time-field" -> "ts",
          "changelog-producer" -> "full-compaction")))
    t.write(rows(0 until 200, 1L, "a"))
    t.write(rows(0 until 100, 2L, "b"))   // same ts, larger flag: wins
    t.write(rows(50 until 150, 0L, "c"))  // smaller flag: loses
    assert(ReadPlans.inScan(t.readPlan()))
    compareWithOracle(loc)(_.compact())
    val t1 = GraftTable.load(spark, loc)
    val s1 = t1.sm.latestSnapshotId.get
    def state(tb: GraftTable, snap: Option[Long]) =
      tb.read(None, snap).select("k", "v").as[(Long, String)].collect().toMap
    val first = state(t1, None)
    assert(first.keySet == (0L until 200L).filter(_ % 5 != 0).toSet)
    assert(first(1L) == "b1" && first(121L) == "a121")

    t1.write(rows(0 until 40, 3L, "d"))
    compareWithOracle(loc)(_.compact())
    val t2 = GraftTable.load(spark, loc)
    val s2 = t2.sm.latestSnapshotId.get
    assert(t2.sm.readSnapshot(s2).changelogBaseLong.contains(s1))
    val now = state(t2, None)
    val want = (first.keySet ++ now.keySet).toSeq.flatMap { k =>
      (first.get(k), now.get(k)) match {
        case (None, Some(v)) => Seq((k, v, "+I"))
        case (Some(v), None) => Seq((k, v, "-D"))
        case (Some(a), Some(b)) if a != b => Seq((k, a, "-U"), (k, b, "+U"))
        case _ => Nil
      }
    }.toSet
    val cl = t2.changelog(s1, s2)
    assert(cl.inputFiles.forall(_.contains("/changelog/")))
    assert(cl.select("k", "v", "_row_kind").as[(Long, String, String)].collect().toSet == want)
  }

  test("a pending rescale keeps the routing exchange") {
    val loc = tmpLoc("cis-rescale")
    def rows(keys: Range, v: String): DataFrame =
      keys.map(k => (k.toLong, s"$v$k")).toDF("k", "v")
    val t = GraftTable.create(spark, loc, rows(0 until 1, "").schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 2))
    t.write(rows(0 until 300, "a"))
    t.write(rows(100 until 200, "b"))
    // the layout moves to 4 buckets; the files, routed under 2, are read
    // by the current schema (copies under fresh paths carry its id)
    val cur = t.schema
    t.sm.writeSchema(TableSchema(cur.id + 1, cur.fields,
      cur.config.copy(numBuckets = 4), System.currentTimeMillis()))
    val t4 = GraftTable.load(spark, loc)
    val live = t4.allLiveEntries()
    replaceEntries(t4, live, live.map(e => copyFile(t4, e, "l2").copy(schemaId = cur.id + 1)))
    assert(ReadPlans.inScan(GraftTable.load(spark, loc).readPlan()))
    val jobs = compareWithOracle(loc)(_.compact())
    assert(jobs.shuffleStages == 1 && jobs.shuffleWriteBytes > 0, jobs)
    val after = GraftTable.load(spark, loc)
    assert(after.allLiveEntries().map(_.bucket).toSet == Set(0, 1, 2, 3))
    assert(after.allLiveEntries().forall(_.totalBuckets == 4))
    assert(after.read(Some(col("k") === 150L)).select("v").as[String].collect()
      .toSeq == Seq("b150"))
    assert(after.read().count() == 300)
  }

  test("files written before __seq2 existed compact with __seq2 = 0") {
    val loc = tmpLoc("cis-seq2")
    def rows(keys: Range, v: String): DataFrame =
      keys.map(k => (k.toLong, s"$v$k")).toDF("k", "v")
    val t = GraftTable.create(spark, loc, rows(0 until 1, "").schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 2))
    t.write(rows(0 until 200, "a"))
    t.write(rows(50 until 100, "b"))
    // the first write's files, rewritten without the __seq2 column
    val legacy = t.allLiveEntries().filter(_.maxSeq == 1L)
    val forged = legacy.map { e =>
      val dir = s"data/legacy-${e.bucket}"
      spark.read.parquet(abs(t, e)).drop(GraftTable.SEQ2).coalesce(1)
        .write.parquet(new Path(t.location, dir).toString)
      val part = t.sm.fs.listStatus(new Path(t.location, dir))
        .find(_.getPath.getName.endsWith(".parquet")).get
      e.copy(path = s"$dir/${part.getPath.getName}", fileSize = part.getLen)
    }
    replaceEntries(t, legacy, forged)
    val jobs = compareWithOracle(loc)(_.compact())
    assert(jobs.shape == inScanFull, jobs)
    val got = GraftTable.load(spark, loc).read().select("k", "v").as[(Long, String)]
      .collect().toMap
    assert(got.size == 200 && got(60L) == "b60" && got(10L) == "a10")
  }
}
