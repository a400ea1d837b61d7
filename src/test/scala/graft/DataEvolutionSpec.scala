package graft

import graft.core._
import graft.core.RowOps._
import org.apache.spark.sql.functions._

/** Data-evolution UPDATE (paimon data evolution / `_ROW_ID` column patches):
  * on a row-tracking append table, UPDATE writes only (row id → new values
  * for the assigned columns); base files — including wide blob/embedding
  * columns — never move. Reads join patches back by row id, pruning files
  * whose row-id range no patch touches. */
class DataEvolutionSpec extends SparkTestBase {
  import spark.implicits._

  private def mkTable(name: String): GraftTable = {
    val df = (1L to 100L).map(i =>
      (i, s"doc-$i", 0.0, Seq.fill(8)(i.toFloat))).toDF("id", "title", "score", "emb")
    val t = GraftTable.create(spark, tmpLoc(name), df.schema,
      TableConfig(options = Map("row-tracking.enabled" -> "true")))
    t.write(df.filter(col("id") <= 50))
    t.write(df.filter(col("id") > 50))
    t
  }

  test("update writes a patch, base files never move; reads merge by row id") {
    val t = mkTable("de-basic")
    val before = t.planFiles(None, None).map(_.path).toSet
    t.update(Map("score" -> lit(9.5)), col("id") % 10 === 0)
    assert(t.planFiles(None, None).map(_.path).toSet == before,
      "UPDATE must not rewrite base data files")
    assert(t.sm.latestSnapshot.get.patchList.size == 1)
    assert(t.sm.latestSnapshot.get.patchList.head.cols == Seq("score"))
    val got = t.read().select("id", "score").as[(Long, Double)].collect().toMap
    (1L to 100L).foreach { i =>
      assert(got(i) == (if (i % 10 == 0) 9.5 else 0.0), s"row $i")
    }
    // wide column untouched and still correct through the patch join
    assert(t.read(Some(col("id") === 20L)).select("emb").head()
      .getSeq[Float](0) == Seq.fill(8)(20.0f))
  }

  test("patch generations compose; explicit NULL assignment survives") {
    val t = mkTable("de-gen")
    t.update(Map("score" -> lit(1.0)), col("id") <= 10)
    // second generation reads the PATCHED value (score + 1 over patched 1.0)
    t.update(Map("score" -> (col("score") + 1.0)), col("id") <= 5)
    t.update(Map("title" -> lit(null)), col("id") === 3L)
    val got = t.read().select("id", "score", "title").collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.isNullAt(2)))).toMap
    assert(got(3L) == ((2.0, true)), "null patch must stick")
    assert(got(5L)._1 == 2.0 && got(7L)._1 == 1.0 && got(50L)._1 == 0.0)
    assert(t.sm.latestSnapshot.get.patchList.size == 3)
  }

  test("filters over patched columns find patched rows despite stale stats") {
    val t = mkTable("de-stale")
    // base stats say score ∈ [0,0] everywhere: a naive prune would drop all
    t.update(Map("score" -> lit(100.0)), col("id").isin(7L, 77L))
    val hits = t.read(Some(col("score") > 50.0)).select("id")
      .as[Long].collect().sorted
    assert(hits.toSeq == Seq(7L, 77L))
    // and a filter on an unpatched column still prunes + returns patched vals
    assert(t.read(Some(col("id") === 7L)).select("score").head().getDouble(0) == 100.0)
  }

  test("time travel, rollback, and compaction materialization") {
    val t = mkTable("de-tt")
    val preUpdate = t.sm.latestSnapshotId.get
    t.update(Map("score" -> lit(5.0)), col("id") === 1L)
    assert(t.read(None, Some(preUpdate)).filter(col("score") =!= 0.0).count() == 0)
    // compaction folds patches into the rewrite and clears them
    t.compact()
    assert(t.sm.latestSnapshot.get.patchList.isEmpty)
    assert(ReadPlans.rawEntries(t.readPlan()).isDefined, "no patches → raw plan again")
    assert(t.read(Some(col("id") === 1L)).select("score").head().getDouble(0) == 5.0)
    // rollback to the pre-update snapshot clears post-target patches
    t.update(Map("score" -> lit(7.0)), col("id") === 2L)
    t.rollback(preUpdate)
    assert(t.sm.latestSnapshot.get.patchList.isEmpty)
    assert(t.read().filter(col("score") =!= 0.0).count() == 0)
  }

  test("delete on a patched table keeps row ids and patched values") {
    val t = mkTable("de-del")
    t.update(Map("score" -> lit(3.0)), col("id") <= 20)
    // delete ON the patched column: victims chosen from the patched view
    t.delete(col("score") === 3.0 && col("id") <= 10)
    val got = t.read().select("id", "score").as[(Long, Double)].collect().toMap
    assert(!got.keySet.exists(_ <= 10L))
    (11L to 20L).foreach(i => assert(got(i) == 3.0, s"row $i lost its patch"))
    assert(got(30L) == 0.0)
    assert(t.read().count() == 90)
  }

  test("SQL UPDATE routes row-tracking append tables to the patch path") {
    val wh = java.nio.file.Files.createTempDirectory("graft-de-wh").toString
    spark.conf.set("spark.sql.catalog.graft_de", "graft.dsv2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_de.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_de.db")
    spark.sql("""CREATE TABLE graft_de.db.docs (id BIGINT, score DOUBLE)
                 TBLPROPERTIES ('row-tracking.enabled'='true')""")
    spark.sql("INSERT INTO graft_de.db.docs VALUES (1, 0.0), (13, 0.0), (20, 0.0)")
    spark.sql("UPDATE graft_de.db.docs SET score = 42.0 WHERE id = 13")
    val t2 = GraftTable.load(spark, s"$wh/db.db/docs")
    assert(t2.sm.latestSnapshot.get.patchList.size == 1)
    assert(t2.read(Some(col("id") === 13L)).select("score").head().getDouble(0) == 42.0)
    assert(spark.sql("SELECT sum(score) FROM graft_de.db.docs").head().getDouble(0) == 42.0)
    // SQL MERGE INTO routes to the data-evolution commit too
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW de_src AS SELECT * FROM VALUES " +
      "(13, 1.0), (20, -1.0), (99, 9.0) AS v(id, score)")
    spark.sql("""
      MERGE INTO graft_de.db.docs t USING de_src s ON t.id = s.id
      WHEN MATCHED AND s.score < 0 THEN DELETE
      WHEN MATCHED THEN UPDATE SET score = s.score
      WHEN NOT MATCHED THEN INSERT (id, score) VALUES (s.id, s.score)
    """)
    val rows = spark.sql("SELECT id, score FROM graft_de.db.docs ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rows == Seq((1L, 0.0), (13L, 1.0), (99L, 9.0)), s"got $rows")
    assert(GraftTable.load(spark, s"$wh/db.db/docs")
      .sm.latestSnapshot.get.patchList.exists(_.cols == Seq("score")))
  }

  test("MERGE INTO data-evolution: updates patch, deletes rewrite by id, inserts append") {
    val t = mkTable("de-merge")
    val baseFiles = t.planFiles(None, None).map(_.path).toSet
    val src = Seq(
      (10L, 1.5, "upd"),   // matched → update (patch)
      (20L, -1.0, "del"),  // matched → delete
      (200L, 7.0, "new")   // not matched → insert
    ).toDF("sid", "sscore", "tag")
    t.mergeInto(src, col("t.id") === col("s.sid"))
      .whenMatchedDelete(Some(col("s.tag") === "del"))
      .whenMatchedUpdate(set = Map("score" -> col("s.sscore")))
      .whenNotMatchedInsert(values = Map(
        "id" -> col("s.sid"), "title" -> lit("inserted"),
        "score" -> col("s.sscore"), "emb" -> lit(null)))
      .execute()
    val got = t.read().select("id", "score").as[(Long, Double)].collect().toMap
    assert(!got.contains(20L), "matched-delete row must vanish")
    assert(got(10L) == 1.5, "matched-update must see the source value")
    assert(got(200L) == 7.0, "not-matched insert must land")
    assert(got.size == 100, "99 survivors + 1 insert")
    // the update arrived as a PATCH: only the delete rewrote base files
    val patches = t.sm.latestSnapshot.get.patchList
    assert(patches.nonEmpty && patches.last.cols == Seq("score"))
    val after = t.planFiles(None, None).map(_.path).toSet
    assert((baseFiles -- after).size == 1,
      s"exactly the id=20 file rewrites, got removed=${(baseFiles -- after).size}")
    // untouched wide column still correct through the patch join
    assert(t.read(Some(col("id") === 10L)).select("emb").head()
      .getSeq[Float](0) == Seq.fill(8)(10.0f))
    // prior patches survive a later merge's delete (row ids stable)
    t.update(Map("score" -> lit(3.25)), col("id") === 30L)
    t.mergeInto(Seq((40L, "x")).toDF("sid", "tag"), col("t.id") === col("s.sid"))
      .whenMatchedDelete(None).execute()
    val got2 = t.read().select("id", "score").as[(Long, Double)].collect().toMap
    assert(!got2.contains(40L) && got2(30L) == 3.25 && got2(10L) == 1.5)
  }

  test("randomized data-evolution ops agree with an in-memory model (2 seeds)") {
    def run(seed: Long, ops: Int): Unit = {
      val rnd = new scala.util.Random(seed)
      val loc = tmpLoc(s"de-fuzz-$seed")
      val init = (1L to 40L).map(i => (i, s"t$i", 0.0)).toDF("id", "title", "score")
      val t = GraftTable.create(spark, loc, init.schema,
        TableConfig(options = Map("row-tracking.enabled" -> "true")))
      t.write(init)
      var model: Map[Long, (String, Double)] =
        (1L to 40L).map(i => i -> (s"t$i", 0.0)).toMap
      var nextId = 41L
      def check(): Unit = {
        val got = t.read().as[(Long, String, Double)].collect()
          .map(r => r._1 -> (r._2, r._3)).toMap
        assert(got == model, s"seed=$seed " +
          s"missing=${(model.keySet -- got.keySet).take(5)} " +
          s"extra=${(got.keySet -- model.keySet).take(5)} " +
          s"diff=${model.keySet.intersect(got.keySet).filter(k => model(k) != got(k)).take(5)}")
      }
      for (i <- 0 until ops) {
        rnd.nextInt(5) match {
          case 0 => // patch update of a random id range
            val lo = 1L + rnd.nextInt(45); val hi = lo + rnd.nextInt(8)
            t.update(Map("score" -> lit(i.toDouble)),
              col("id").between(lo, hi))
            model = model.map { case (k, (s0, p)) =>
              k -> (if (k >= lo && k <= hi) (s0, i.toDouble) else (s0, p)) }
          case 1 => // append new rows
            val rows = (0 until 3).map(_ => (nextId, s"n$nextId", -1.0))
              .map { r => nextId += 1; r }
            t.write(rows.toDF("id", "title", "score"))
            rows.foreach { case (k, s0, p) => model += k -> (s0, p) }
          case 2 if model.nonEmpty => // delete a random existing id
            val k = model.keySet.toSeq(rnd.nextInt(model.size))
            t.delete(col("id") === k)
            model -= k
          case 3 if model.nonEmpty => // MERGE: update half, insert one
            val ks = model.keySet.toSeq.sorted.take(5)
            val srcRows = ks.map(k => (k, i * 10.0)) :+ (nextId, -5.0)
            val srcDf = srcRows.toDF("sid", "sscore")
            t.mergeInto(srcDf, col("t.id") === col("s.sid"))
              .whenMatchedUpdate(set = Map("score" -> col("s.sscore")))
              .whenNotMatchedInsert(values = Map("id" -> col("s.sid"),
                "title" -> lit("m"), "score" -> col("s.sscore")))
              .execute()
            ks.foreach(k => model += k -> (model(k)._1, i * 10.0))
            model += nextId -> ("m", -5.0)
            nextId += 1
          case _ => // compaction materializes patches
            t.compact()
        }
        if (i % 3 == 2) check()
      }
      t.compact()
      check()
    }
    run(seed = 11L, ops = 10)
    run(seed = 77L, ops = 10)
  }

  test("MERGE INTO data-evolution: not-matched-by-source update patches") {
    val t = mkTable("de-merge-nmbs")
    val src = (1L to 90L).toDF("sid")
    t.mergeInto(src, col("t.id") === col("s.sid"))
      .whenNotMatchedBySourceUpdate(set = Map("score" -> lit(-5.0)))
      .execute()
    val got = t.read().select("id", "score").as[(Long, Double)].collect().toMap
    (1L to 100L).foreach { i =>
      assert(got(i) == (if (i > 90) -5.0 else 0.0), s"row $i -> ${got(i)}")
    }
  }
}
