package graft

import graft.core._
import org.apache.spark.sql.functions._

/**
 * SQL LATERAL vector search (GraftLateralSearch): a correlated
 * graft_vector_search collapses into ONE batched top-k corpus pass.
 */
class LateralSearchSpec extends SparkTestBase {
  import spark.implicits._

  private def mkCorpus(loc: String, n: Int = 60): GraftTable = {
    val df = (0 until n).map { i =>
      (i.toLong, Array(i.toFloat, (i % 7).toFloat, 1.0f), s"lab${i % 3}")
    }.toDF("vec_id", "embedding", "label")
    val t = GraftTable.create(spark, loc, df.schema,
      TableConfig(primaryKeys = Seq("vec_id"), numBuckets = 2))
    t.write(df)
    t
  }

  test("lateral vector search equals the batched DataFrame API") {
    val loc = tmpLoc("lat-eq")
    val t = mkCorpus(loc)
    val corpus = t.read()
    corpus.filter(col("vec_id") < 4).select("vec_id", "embedding")
      .createOrReplaceTempView("lat_q")
    val sqlRes = spark.sql(
      s"""SELECT q.vec_id AS qid, r.vec_id, round(r.score, 6) AS s
         |FROM lat_q q,
         |LATERAL (SELECT * FROM graft_vector_search('$loc', 'embedding',
         |                                           q.embedding, 4)) r""".stripMargin)
    // the plan is the batched exec, not a cartesian/nested-loop join
    val plan = sqlRes.queryExecution.executedPlan.toString
    assert(plan.contains("GraftLateralVectorSearch"), plan)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
    val qs = corpus.filter(col("vec_id") < 4).select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq.sortBy(_._1)
    val apiRes = graft.pipeline.Similarity
      .batchTopK(corpus, "vec_id", "embedding", qs, 4)
      .select(col("qid"), col("vec_id"), round(col("__score"), 6).as("s"))
    assert(rowsOf(sqlRes) == rowsOf(apiRes))
    assert(sqlRes.count() == 16) // 4 queries × k=4
    // exactly ONE corpus scan: the hit columns ride the top-k heaps — there
    // is no second scan re-attaching columns to the |q|·k hit ids
    val inner = graft.dsv2.GraftLateralVectorSearchExec.lastInnerPlan.get()
    val scans = """\b(BatchScan|FileScan)\b""".r.findAllIn(inner).length
    assert(scans == 1, s"expected exactly 1 corpus scan, got $scans:\n$inner")
  }

  test("inner WHERE pushes into the corpus read and masks candidates") {
    val loc = tmpLoc("lat-filter")
    mkCorpus(loc)
    spark.sql("SELECT 0L AS vec_id, array(1.0f, 1.0f, 1.0f) AS embedding")
      .createOrReplaceTempView("lat_q1")
    val res = spark.sql(
      s"""SELECT r.vec_id, r.label FROM lat_q1 q,
         |LATERAL (SELECT vec_id, label, score FROM graft_vector_search(
         |  '$loc', 'embedding', q.embedding, 3) WHERE label = 'lab1') r""".stripMargin)
      .as[(Long, String)].collect()
    assert(res.length == 3 && res.forall(_._2 == "lab1"), res.toSeq)
  }

  test("projected column subset and aliases resolve") {
    val loc = tmpLoc("lat-proj")
    mkCorpus(loc, 20)
    spark.sql("SELECT 9L AS qk, array(0.0f, 0.0f, 1.0f) AS v")
      .createOrReplaceTempView("lat_q2")
    val res = spark.sql(
      s"""SELECT q.qk, r.hit, r.sc FROM lat_q2 q,
         |LATERAL (SELECT vec_id AS hit, score AS sc FROM
         |  graft_vector_search('$loc', 'embedding', q.v, 2)) r
         |ORDER BY r.sc DESC""".stripMargin)
      .as[(Long, Long, Double)].collect()
    assert(res.length == 2 && res.head._2 == 0L, res.toSeq) // (0,0,1) is the exact hit
  }

  test("empty query side yields an empty result (no crash, no corpus work)") {
    val loc = tmpLoc("lat-empty")
    mkCorpus(loc, 10)
    spark.range(0).select(col("id"),
      array(lit(1.0f), lit(1.0f), lit(1.0f)).as("v"))
      .createOrReplaceTempView("lat_q0")
    val res = spark.sql(
      s"""SELECT q.id, r.vec_id FROM lat_q0 q,
         |LATERAL (SELECT * FROM graft_vector_search('$loc', 'embedding',
         |                                           q.v, 3)) r""".stripMargin)
    assert(res.count() == 0)
  }

  test("query side over max-queries degrades to chunked passes, same result") {
    val loc = tmpLoc("lat-chunk")
    val t = mkCorpus(loc, 40)
    val corpus = t.read()
    corpus.filter(col("vec_id") < 5).select("vec_id", "embedding")
      .createOrReplaceTempView("lat_qc")
    val sql =
      s"""SELECT q.vec_id AS qid, r.vec_id, round(r.score, 6) AS s
         |FROM lat_qc q,
         |LATERAL (SELECT * FROM graft_vector_search('$loc', 'embedding',
         |                                           q.embedding, 3)) r""".stripMargin
    val qs = corpus.filter(col("vec_id") < 5).select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq.sortBy(_._1)
    val apiRows = rowsOf(graft.pipeline.Similarity
      .batchTopK(corpus, "vec_id", "embedding", qs, 3)
      .select(col("qid"), col("vec_id"), round(col("__score"), 6).as("s")))
    withSQLConf("graft.vector-search.lateral.max-queries" -> "2") {
      val res = spark.sql(sql)
      assert(rowsOf(res) == apiRows) // 5 queries → 3 chunks, identical rows
      val inner = graft.dsv2.GraftLateralVectorSearchExec.lastInnerPlan.get()
      val scans = """\b(BatchScan|FileScan)\b""".r.findAllIn(inner).length
      assert(scans == 3, s"expected ceil(5/2)=3 chunked scans, got $scans")
    }
  }

  test("unsupported shapes and bounds reject loudly") {
    val loc = tmpLoc("lat-err")
    mkCorpus(loc, 10)
    spark.range(3).select(col("id"),
      array(lit(1.0f), lit(1.0f), lit(1.0f)).as("v"))
      .createOrReplaceTempView("lat_q3")
    // correlated predicate inside the subquery: not a searched-table filter
    val e1 = intercept[Exception](spark.sql(
      s"""SELECT * FROM lat_q3 q, LATERAL (
         |  SELECT * FROM graft_vector_search('$loc', 'embedding', q.v, 2)
         |  WHERE vec_id > q.id) r""".stripMargin).collect())
    assert(e1.getMessage.contains("LATERAL graft_vector_search supports only"),
      e1.getMessage)
    // static (literal-vector) spelling keeps its existing contract: it
    // routes through a persisted index and rejects an unindexed table
    // (the lateral form brute-forces by design — one batched corpus pass)
    val e3 = intercept[Exception](spark.sql(
      s"""SELECT vec_id FROM graft_vector_search('$loc', 'embedding',
         |  array(1.0f, 1.0f, 1.0f), 2)""".stripMargin).collect())
    assert(e3.getMessage.contains("ivf-centroids") ||
      e3.getMessage.contains("index"), e3.getMessage)
  }
}
