package graft

import graft.core._
import graft.core.RowOps._
import org.apache.spark.sql.functions._

/**
 * The reference's DEFAULT postpone batch-write flow
 * (`postpone.batch-write-fixed-bucket=true`,
 * docs/primary-key-table/data-distribution.md:73-105): stage → infer
 * per-partition bucket counts from staged metadata → route to real buckets
 * → commit, immediately visible; rescale at load factor as a separate
 * overwrite commit; merge-on-read over leftover legacy staging.
 */
class PostponeFixedBucketSpec extends SparkTestBase {
  import spark.implicits._

  private def mk(loc: String, opts: Map[String, String] = Map.empty,
                 parts: Seq[String] = Nil): GraftTable =
    GraftTable.create(spark, loc,
      Seq((1L, "p0", 1.0)).toDF("k", "p", "v").schema,
      TableConfig(primaryKeys = Seq("k"), partitionKeys = parts,
        numBuckets = -2, options = opts))

  private def rows(n: Int, part: String = "p0", bump: Double = 0.0,
                   keyBase: Long = 0L) =
    (1 to n).map(i => (keyBase + i, part, i.toDouble + bump)).toDF("k", "p", "v")

  // ---- decideFixedBucketNum unit paths ----

  test("bucket inference: configured default exact; row-num > size precedence; pow2; cap; rescale") {
    val loc = tmpLoc("pp-decide")
    def dec(opts: Map[String, String])(rows: Long, bytes: Long, existing: Option[Int]) = {
      val t = GraftTable.createOrReplace(spark, loc,
        Seq((1L, "a")).toDF("k", "s").schema,
        TableConfig(primaryKeys = Seq("k"), numBuckets = -2, options = opts))
      t.decideFixedBucketNum(rows, bytes, existing)
    }
    // configured default: used EXACTLY (no pow2) for partitions without
    // real buckets; ignored for appends to existing layouts
    assert(dec(Map("postpone.default-bucket-num" -> "5"))(1000000, 1L << 40, None) == (5, false))
    assert(dec(Map("postpone.default-bucket-num" -> "5"))(10, 10, Some(3)) == (3, false))
    // row-num target takes precedence over size target
    assert(dec(Map("postpone.target-row-num-per-bucket" -> "100",
      "postpone.target-size-per-bucket" -> "1b"))(250, 1L << 30, None) == (4, false)) // ceil=3 → pow2=4
    // size target (default 1gb) when row target absent
    assert(dec(Map("postpone.target-size-per-bucket" -> "100b"))(1, 550, None) == (8, false)) // ceil=6 → 8
    // at least 1, even for an empty batch
    assert(dec(Map.empty)(0, 0, None) == (1, false))
    // max-parallelism caps the pow2 result
    assert(dec(Map("postpone.target-row-num-per-bucket" -> "1",
      "postpone.batch-write-fixed-bucket.max-parallelism" -> "6"))(1000, 0, None) == (6, false))
    // rescale: required must exceed existing × load-factor (default 32)
    // AND the capped suggestion must be larger
    val o = Map("postpone.target-row-num-per-bucket" -> "10")
    assert(dec(o)(320, 0, Some(1)) == (1, false))  // required=32 = 1×32, not >
    assert(dec(o)(330, 0, Some(1)) == (64, true))  // required=33 > 32 → pow2(33)=64
    assert(dec(o + ("postpone.batch-write-fixed-bucket.max-parallelism" -> "1"))(
      330, 0, Some(1)) == (1, false))              // capped suggestion not larger
  }

  // ---- fixed-bucket write flow ----

  test("fixed-bucket write: immediately visible, merged, real buckets only committed") {
    val loc = tmpLoc("pp-fixed")
    val t = mk(loc, Map("postpone.target-row-num-per-bucket" -> "25"))
    t.write(rows(100))
    // visible with NO compact call
    assert(t.read().count() == 100)
    // committed entries are real buckets with the inferred layout stamped
    val live = t.sm.latestSnapshot.map(t.sm.liveEntries).getOrElse(Nil)
    assert(live.nonEmpty && live.forall(_.bucket >= 0), s"staging committed: $live")
    assert(live.forall(_.totalBuckets == 4), // ceil(100/25)=4 → pow2 4
      s"expected totalBuckets=4, got ${live.map(_.totalBuckets).distinct}")
    assert(live.map(_.bucket).distinct.size > 1, "expected a multi-bucket layout")
    // second batch (updates) keeps the layout and merges by pk
    t.write(rows(50, bump = 1000.0))
    val got = t.read().select("k", "v").as[(Long, Double)].collect().toMap
    assert(got.size == 100)
    assert((1 to 50).forall(i => got(i.toLong) == i + 1000.0))
    assert((51 to 100).forall(i => got(i.toLong) == i.toDouble))
    val live2 = t.sm.latestSnapshot.map(t.sm.liveEntries).getOrElse(Nil)
    assert(live2.forall(e => e.bucket >= 0 && e.totalBuckets == 4))
    // staged leftovers were never committed: they are orphans by design
  }

  test("fixed-bucket write: per-partition bucket counts differ") {
    val loc = tmpLoc("pp-parts")
    val t = mk(loc, Map("postpone.target-row-num-per-bucket" -> "50"),
      parts = Seq("p"))
    t.write(rows(40, "small").union(rows(400, "big", keyBase = 100000L)))
    assert(t.read().count() == 440)
    val live = t.sm.latestSnapshot.map(t.sm.liveEntries).getOrElse(Nil)
    val byPart = live.groupBy(_.partition("p")).view
      .mapValues(_.map(_.totalBuckets).distinct).toMap
    assert(byPart("small") == Seq(1), s"got $byPart")   // ceil(40/50)=1
    assert(byPart("big") == Seq(8), s"got $byPart")     // ceil(400/50)=8
    // appending to both keeps each partition's layout
    t.write(rows(10, "small", 7.0).union(rows(10, "big", 7.0, keyBase = 100000L)))
    val live2 = t.sm.latestSnapshot.map(t.sm.liveEntries).getOrElse(Nil)
    val byPart2 = live2.groupBy(_.partition("p")).view
      .mapValues(_.map(_.totalBuckets).distinct).toMap
    assert(byPart2("small") == Seq(1) && byPart2("big") == Seq(8), s"got $byPart2")
    val got = t.read().filter(col("p") === "small").count()
    assert(got == 40)
  }

  test("rescale: a large batch grows the layout in a separate overwrite commit") {
    val loc = tmpLoc("pp-rescale")
    val t = mk(loc, Map("postpone.target-row-num-per-bucket" -> "10",
      "postpone.batch-write-fixed-bucket.rescale-load-factor" -> "2"))
    t.write(rows(10)) // 1 bucket
    val live1 = t.sm.latestSnapshot.map(t.sm.liveEntries).getOrElse(Nil)
    assert(live1.forall(_.totalBuckets == 1))
    val snapBefore = t.sm.latestSnapshotId.get
    t.write(rows(500, bump = 0.5)) // required=50 > 1×2 → rescale to pow2(50)=64
    // two commits: rescale (OVERWRITE) then the append
    val ids = t.sm.snapshotIds.filter(_ > snapBefore).sorted
    assert(ids.size == 2, s"expected rescale+append, got $ids")
    assert(t.sm.readSnapshot(ids.head).kind == "OVERWRITE")
    assert(t.sm.readSnapshot(ids.last).kind == "APPEND")
    val live2 = t.sm.latestSnapshot.map(t.sm.liveEntries).getOrElse(Nil)
    assert(live2.forall(e => e.bucket >= 0 && e.totalBuckets == 64),
      s"got ${live2.map(_.totalBuckets).distinct}")
    // correctness: updated keys win, all 500 present exactly once
    val got = t.read().select("k", "v").as[(Long, Double)].collect()
    assert(got.length == 500)
    assert(got.toMap.forall { case (k, v) => v == k + 0.5 })
  }

  test("overwrite with configured default routes directly and exactly") {
    val loc = tmpLoc("pp-ovw")
    val t = mk(loc, Map("postpone.default-bucket-num" -> "3",
      "postpone.target-row-num-per-bucket" -> "5"))
    t.write(rows(30))
    t.overwrite(rows(20, bump = 9.0))
    val live = t.sm.latestSnapshot.map(t.sm.liveEntries).getOrElse(Nil)
    assert(live.forall(e => e.bucket >= 0 && e.totalBuckets == 3),
      s"got ${live.map(e => (e.bucket, e.totalBuckets)).distinct}")
    val got = t.read().select("k", "v").as[(Long, Double)].collect().toMap
    assert(got.size == 20 && got.forall { case (k, v) => v == k + 9.0 })
  }

  test("mixed routing layouts force the merge path (concurrent-rescale recovery)") {
    // two optimistic writers can commit files routed with DIFFERENT moduli
    // into one partition (append with a stale count racing a rescale) — a
    // pk then spans two buckets, and serving either raw would duplicate it.
    // Forge that state: batch 1 under the inferred 1-bucket layout, then a
    // directly-committed update batch routed mod 4.
    val loc = tmpLoc("pp-mixed")
    val t = mk(loc, Map("postpone.target-row-num-per-bucket" -> "1000"))
    t.write(rows(50))
    val live1 = t.sm.latestSnapshot.map(t.sm.liveEntries).getOrElse(Nil)
    assert(live1.forall(_.totalBuckets == 1))
    val forged = t.writeFiles(rows(50, bump = 777.0),
      bucketOverride = Some(pmod(xxhash64(col("k")), lit(4L)).cast("int")),
      totalBucketsByPt = Map("-" -> 4))
    assert(forged.exists(_.bucket > 0) && forged.forall(_.totalBuckets == 4))
    t.sm.commit(forged, "APPEND", "forged-conflicting-layout", t.schema.id)
    // the read must merge across buckets: one row per key, updates win
    val got = t.read().select("k", "v").as[(Long, Double)].collect()
    assert(got.length == 50, s"duplicate pks across layouts: ${got.length}")
    assert(got.toMap.forall { case (k, v) => v == k + 777.0 })
    // dsv2 fast paths refuse the mixed state too (global merge required)
    assert(ReadPlans.relational(t.readPlan()).isDefined)
    // the next write keeps the larger layout and a compaction heals it
    t.write(rows(10, bump = 900.0))
    import graft.core.RowOps._
    t.compact()
    val live2 = t.sm.latestSnapshot.map(t.sm.liveEntries).getOrElse(Nil)
    assert(live2.map(_.totalBuckets).distinct == Seq(4),
      s"compaction should heal to one layout, got ${live2.map(_.totalBuckets).distinct}")
    val healed = t.read().select("k", "v").as[(Long, Double)].collect().toMap
    assert(healed.size == 50 && healed(5L) == 905.0 && healed(30L) == 807.0)
  }

  // ---- merge-on-read over leftover legacy staging ----

  test("postpone.merge-on-read: committed -2 staging merges with real buckets") {
    val loc = tmpLoc("pp-mor")
    val t = mk(loc, Map("postpone.batch-write-fixed-bucket" -> "false"))
    t.write(rows(100))
    t.compact() // real buckets
    t.write(rows(30, bump = 500.0)) // legacy staged (committed, invisible)
    // default: staging invisible
    val base = t.read().select("k", "v").as[(Long, Double)].collect().toMap
    assert(base.size == 100 && base(1L) == 1.0)
    // option on: staged versions win the merge
    t.setOption("postpone.merge-on-read", "true")
    val t2 = GraftTable.load(spark, loc)
    val got = t2.read().select("k", "v").as[(Long, Double)].collect().toMap
    assert(got.size == 100)
    assert((1 to 30).forall(i => got(i.toLong) == i + 500.0), s"staged lost: ${got.take(3)}")
    assert((31 to 100).forall(i => got(i.toLong) == i.toDouble))
    // a later fixed-bucket batch overlapping staged keys wins (higher seq)
    t2.setOption("postpone.batch-write-fixed-bucket", "true")
    val t3 = GraftTable.load(spark, loc)
    t3.write(rows(10, bump = 9000.0))
    val got2 = t3.read().select("k", "v").as[(Long, Double)].collect().toMap
    assert((1 to 10).forall(i => got2(i.toLong) == i + 9000.0))
    assert((11 to 30).forall(i => got2(i.toLong) == i + 500.0))
    assert((31 to 100).forall(i => got2(i.toLong) == i.toDouble))
    // filtered read prunes but stays correct
    val f = t3.read(Some(col("k") <= 5)).select("k", "v").as[(Long, Double)].collect()
    assert(f.length == 5 && f.toMap.forall { case (k, v) => v == k + 9000.0 })
  }

  test("fuzz: random fixed-bucket batches agree with a last-write-wins model (3 seeds)") {
    Seq(11L, 77L, 4242L).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val loc = tmpLoc(s"pp-fuzz-$seed")
      // random knobs: target rows per bucket, rescale factor, partitions
      val targetRows = 5 + rnd.nextInt(40)
      val loadFactor = 1 + rnd.nextInt(4)
      val parted = rnd.nextBoolean()
      val t = GraftTable.create(spark, loc,
        Seq((1L, "p0", 1.0)).toDF("k", "p", "v").schema,
        TableConfig(primaryKeys = Seq("k"),
          partitionKeys = if (parted) Seq("p") else Nil,
          numBuckets = -2,
          options = Map(
            "postpone.target-row-num-per-bucket" -> targetRows.toString,
            "postpone.batch-write-fixed-bucket.rescale-load-factor" -> loadFactor.toString)))
      val model = scala.collection.mutable.Map[Long, (String, Double)]()
      (0 until 6).foreach { b =>
        val n = 1 + rnd.nextInt(300)
        val rows = (0 until n).map { _ =>
          val k = rnd.nextInt(400).toLong
          // partition is a FUNCTION of the key (pk tables route per
          // partition; a moving key would need cross-partition mode)
          val part = if (parted) s"p${k % 3}" else "p0"
          (k, part, rnd.nextDouble())
        }
        // last-write-wins within a batch resolves by input order
        rows.foreach { case (k, p, v) => model(k) = (p, v) }
        // batch pre-merge keeps the LAST input occurrence per key
        val df = rows.toDF("k", "p", "v")
          .withColumn("__o", monotonically_increasing_id())
        import org.apache.spark.sql.expressions.Window
        val lastPer = df.withColumn("__rn", row_number().over(
            Window.partitionBy("k").orderBy(col("__o").desc)))
          .filter(col("__rn") === 1).drop("__rn", "__o")
        t.write(lastPer)
        // invariant after every batch: immediately visible + fully merged
        val got = t.read().select("k", "p", "v")
          .as[(Long, String, Double)].collect()
        assert(got.length == model.size,
          s"seed=$seed batch=$b rows=${got.length} model=${model.size}")
        got.foreach { case (k, p, v) =>
          val (mp, mv) = model(k)
          assert(p == mp && math.abs(v - mv) < 1e-12,
            s"seed=$seed batch=$b key=$k got=($p,$v) want=($mp,$mv)")
        }
        // invariant: committed entries are real buckets with a consistent
        // per-partition layout stamp
        val live = t.sm.latestSnapshot.map(t.sm.liveEntries).getOrElse(Nil)
        assert(live.forall(e => e.bucket >= 0 && e.totalBuckets >= 1))
        live.groupBy(_.partition).foreach { case (pt, es) =>
          assert(es.map(_.totalBuckets).distinct.size == 1,
            s"seed=$seed batch=$b partition $pt has mixed layouts: " +
              es.map(e => (e.bucket, e.totalBuckets)).distinct)
          assert(es.forall(e => e.bucket < e.totalBuckets))
        }
      }
    }
  }

  test("legacy compact keeps existing layouts; first compaction estimates") {
    val loc = tmpLoc("pp-compact")
    val t = mk(loc, Map("postpone.batch-write-fixed-bucket" -> "false",
      "postpone.target-row-num-per-bucket" -> "20"))
    t.write(rows(100)) // staged
    t.compact()        // first compaction: ceil(100/20)=5 (exact, no pow2)
    val live = t.sm.latestSnapshot.map(t.sm.liveEntries).getOrElse(Nil)
    assert(live.forall(e => e.bucket >= 0 && e.totalBuckets == 5),
      s"got ${live.map(_.totalBuckets).distinct}")
    t.write(rows(300, bump = 1.5)) // staged again
    t.compact()        // partition has real buckets → KEEPS 5
    val live2 = t.sm.latestSnapshot.map(t.sm.liveEntries).getOrElse(Nil)
    assert(live2.forall(e => e.bucket >= 0 && e.totalBuckets == 5),
      s"got ${live2.map(_.totalBuckets).distinct}")
    val got = t.read().select("k", "v").as[(Long, Double)].collect().toMap
    assert(got.size == 300 && got(1L) == 2.5 && got(300L) == 301.5)
  }
}
