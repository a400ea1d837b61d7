package graft

import graft.core._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import java.nio.file.Files

class Dsv2Spec extends SparkTestBase {

  private lazy val wh = Files.createTempDirectory("graft-wh").toString

  override lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-dsv2-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.catalog.graft", "graft.dsv2.GraftCatalog")
    .config("spark.sql.catalog.graft.warehouse", wh)
    .config("spark.sql.extensions", "graft.dsv2.GraftSparkExtensions")
    .config("spark.hadoop.fs.file.impl", classOf[NoForkLocalFileSystem].getName)
    .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
      classOf[NoForkLocalFs].getName)
    .getOrCreate()

  import spark.implicits._

  test("SQL postpone table: INSERT is immediately visible (fixed-bucket default)") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("""CREATE TABLE graft.db.pp_sql (k BIGINT, v DOUBLE)
                 TBLPROPERTIES ('primary-key'='k', 'bucket'='-2',
                   'postpone.target-row-num-per-bucket'='50')""")
    spark.sql("INSERT INTO graft.db.pp_sql SELECT id, id * 1.0 FROM range(200)")
    // reference default flow: no compact call, the batch is visible
    assert(spark.sql("SELECT count(*) FROM graft.db.pp_sql").head().getLong(0) == 200)
    spark.sql("INSERT INTO graft.db.pp_sql SELECT id, id + 1000.0 FROM range(50)")
    val got = spark.sql("SELECT k, v FROM graft.db.pp_sql")
      .as[(Long, Double)].collect().toMap
    assert(got.size == 200)
    assert((0 until 50).forall(i => got(i.toLong) == i + 1000.0))
    assert((50 until 200).forall(i => got(i.toLong) == i.toDouble))
    // the committed layout is real buckets (pow2(ceil(200/50)) = 4)
    import graft.core.GraftTable
    val live = GraftTable.load(spark, s"$wh/db.db/pp_sql").sm
      .latestSnapshot.map(s => GraftTable.load(spark, s"$wh/db.db/pp_sql").sm.liveEntries(s))
      .getOrElse(Nil)
    assert(live.nonEmpty && live.forall(e => e.bucket >= 0 && e.totalBuckets == 4),
      s"got ${live.map(e => (e.bucket, e.totalBuckets)).distinct}")
    spark.sql("DROP TABLE graft.db.pp_sql")
  }

  test("SQL end-to-end: DDL, INSERT, dedup SELECT, time travel, tag") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("""CREATE TABLE graft.db.t1 (k BIGINT, s STRING, p DOUBLE)
                 TBLPROPERTIES ('primary-key'='k', 'bucket'='2')""")
    spark.sql("INSERT INTO graft.db.t1 VALUES (1,'a',10.0),(2,'b',20.0)")
    spark.sql("INSERT INTO graft.db.t1 VALUES (2,'b2',99.0),(3,'c',30.0)")
    val rows = spark.sql("SELECT k, s, p FROM graft.db.t1 ORDER BY k")
      .as[(Long, String, Double)].collect().toSeq
    assert(rows == Seq((1L, "a", 10.0), (2L, "b2", 99.0), (3L, "c", 30.0)))
    // filter through the pushdown path
    assert(spark.sql("SELECT s FROM graft.db.t1 WHERE k = 2").as[String].head() == "b2")
    // time travel: snapshot 1
    val v1 = spark.sql("SELECT k, s FROM graft.db.t1 VERSION AS OF 1 ORDER BY k")
      .as[(Long, String)].collect().toSeq
    assert(v1 == Seq((1L, "a"), (2L, "b")))
    // tag + VERSION AS OF tag
    val loc = s"$wh/db.db/t1"
    GraftTable.load(spark, loc).sm.createTag("rel1", 1)
    assert(spark.sql("SELECT count(*) FROM graft.db.t1 VERSION AS OF 'rel1'")
      .head().getLong(0) == 2)
    // TIMESTAMP AS OF now → latest
    assert(spark.sql(
      "SELECT count(*) FROM graft.db.t1 TIMESTAMP AS OF '2099-01-01'")
      .head().getLong(0) == 3)
  }

  test("SQL partitioned table: dynamic overwrite + pruning") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("""CREATE TABLE graft.db.pt (k BIGINT, v DOUBLE, dt STRING)
                 PARTITIONED BY (dt)""")
    spark.sql("INSERT INTO graft.db.pt VALUES (1,1.0,'d1'),(2,2.0,'d2')")
    // partition-scoped overwrite through OverwriteByExpression (V1 fallback)
    spark.sql("INSERT OVERWRITE graft.db.pt PARTITION (dt='d1') VALUES (9,9.0)")
    val got = spark.sql("SELECT k, dt FROM graft.db.pt ORDER BY k")
      .as[(Long, String)].collect().toSeq
    assert(got == Seq((2L, "d2"), (9L, "d1")))
    assert(spark.sql("SELECT count(*) FROM graft.db.pt WHERE dt='d1'").head().getLong(0) == 1)
  }

  test("DataFrame API: format(graft) load + save, ALTER ADD COLUMN") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.t2 (k BIGINT, s STRING)")
    spark.sql("INSERT INTO graft.db.t2 VALUES (1,'x')")
    val loc = s"$wh/db.db/t2"
    val df = spark.read.format("graft").load(loc)
    assert(df.count() == 1)
    spark.sql("ALTER TABLE graft.db.t2 ADD COLUMN note STRING")
    spark.sql("INSERT INTO graft.db.t2 VALUES (2,'y','hello')")
    val got = spark.sql("SELECT k, note FROM graft.db.t2 ORDER BY k")
      .as[(Long, Option[String])].collect().toSeq
    assert(got == Seq((1L, None), (2L, Some("hello"))))
  }

  test("DataFrame API create-on-write: save/append/overwrite modes") {
    // reference docs/spark/dataframe.md "Create Table": a fresh path +
    // primary-key option + partitionBy creates the table, then appends
    val loc = Files.createTempDirectory("graft-dfw").toString + "/default.db/dfw"
    Seq((1L, "x1", "p1"), (2L, "x2", "p2")).toDF("a", "b", "pt")
      .write.format("graft")
      .option("primary-key", "a,pt").option("bucket", "2")
      .option("k1", "v1")
      .partitionBy("pt")
      .save(loc)
    val t = GraftTable.load(spark, loc)
    assert(t.config.primaryKeys == Seq("a", "pt"))
    assert(t.config.partitionKeys == Seq("pt"))
    assert(t.config.numBuckets == 2)
    assert(t.config.options.get("k1").contains("v1"))
    // default ErrorIfExists on the now-existing table fails loudly
    intercept[Exception] {
      Seq((9L, "z", "p1")).toDF("a", "b", "pt").write.format("graft").save(loc)
    }
    assert(spark.read.format("graft").load(loc).count() == 2)
    // Ignore on a FRESH path creates (create-if-missing semantics)
    val locIgn = Files.createTempDirectory("graft-dfwi").toString + "/t"
    Seq((1L, "a")).toDF("k", "v").write.format("graft").mode("ignore").save(locIgn)
    assert(spark.read.format("graft").load(locIgn).count() == 1)
    // Ignore on the EXISTING table is a silent no-op (Spark SaveMode.Ignore
    // contract): no error, data unchanged
    Seq((99L, "zz")).toDF("k", "v").write.format("graft").mode("ignore").save(locIgn)
    assert(spark.read.format("graft").load(locIgn)
      .as[(Long, String)].collect().toSeq == Seq((1L, "a")))
    // append (DSv2 path) — PK upsert on (a, pt)
    Seq((1L, "x1b", "p1"), (3L, "x3", "p1")).toDF("a", "b", "pt")
      .write.format("graft").mode("append").save(loc)
    val afterAppend = spark.read.format("graft").load(loc)
      .orderBy("a").select("a", "b").as[(Long, String)].collect().toSeq
    assert(afterAppend == Seq((1L, "x1b"), (2L, "x2"), (3L, "x3")))
    // dynamic partition overwrite replaces only pt=p1
    withSQLConf("spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
      Seq((7L, "seven", "p1")).toDF("a", "b", "pt")
        .write.format("graft").mode("overwrite").save(loc)
    }
    val afterDyn = spark.read.format("graft").load(loc)
      .orderBy("a").select("a", "b").as[(Long, String)].collect().toSeq
    assert(afterDyn == Seq((2L, "x2"), (7L, "seven")))
    // static overwrite replaces the whole table
    Seq((5L, "five", "p9")).toDF("a", "b", "pt")
      .write.format("graft").mode("overwrite").save(loc)
    assert(spark.read.format("graft").load(loc)
      .select("a", "b").as[(Long, String)].collect().toSeq == Seq((5L, "five")))
    // overwrite straight onto a fresh path also creates first
    val loc2 = Files.createTempDirectory("graft-dfw2").toString + "/t"
    Seq((1L, "a")).toDF("k", "v").write.format("graft").mode("overwrite").save(loc2)
    assert(spark.read.format("graft").load(loc2).count() == 1)
  }

  test("CREATE TABLE LIKE copies schema/partitioning/properties") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("""CREATE TABLE graft.db.like_src (
        id INT, name STRING, pt STRING)
        PARTITIONED BY (pt)
        TBLPROPERTIES ('primary-key'='id,pt', 'bucket'='5', 'k1'='v1')""")
    spark.sql("INSERT INTO graft.db.like_src VALUES (1,'a','p1')")
    spark.sql("CREATE TABLE graft.db.like_tgt LIKE graft.db.like_src")
    val tgt = GraftTable.load(spark, s"$wh/db.db/like_tgt")
    assert(tgt.config.primaryKeys == Seq("id", "pt"))
    assert(tgt.config.partitionKeys == Seq("pt"))
    assert(tgt.config.numBuckets == 5)
    assert(tgt.config.options.get("k1").contains("v1"))
    // data is NOT copied; schema is
    assert(spark.sql("SELECT count(*) FROM graft.db.like_tgt").head().getLong(0) == 0)
    assert(spark.table("graft.db.like_tgt").columns.toSeq == Seq("id", "name", "pt"))
    spark.sql("INSERT INTO graft.db.like_tgt VALUES (1,'b','p1'),(1,'c','p1')")
    assert(spark.sql("SELECT count(*) FROM graft.db.like_tgt").head().getLong(0) == 1)
    // user TBLPROPERTIES override the inherited ones
    spark.sql("""CREATE TABLE graft.db.like_tgt2 LIKE graft.db.like_src
                 TBLPROPERTIES ('bucket'='2', 'k1'='v2')""")
    val tgt2 = GraftTable.load(spark, s"$wh/db.db/like_tgt2")
    assert(tgt2.config.numBuckets == 2)
    assert(tgt2.config.options.get("k1").contains("v2"))
    // IF NOT EXISTS short-circuits
    spark.sql("CREATE TABLE IF NOT EXISTS graft.db.like_tgt LIKE graft.db.like_src")
    intercept[Exception] {
      spark.sql("CREATE TABLE graft.db.like_tgt LIKE graft.db.like_src")
    }
  }

  test("CREATE TABLE ... LOCATION: external tables adopt and survive DROP") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    val extLoc = Files.createTempDirectory("graft-ext").toString + "/t"
    // fresh location: create-at-location, catalog slot is only a pointer
    spark.sql(s"""CREATE TABLE graft.db.ext1 (k BIGINT, v STRING)
                  TBLPROPERTIES ('primary-key'='k', 'bucket'='2')
                  LOCATION '$extLoc'""")
    spark.sql("INSERT INTO graft.db.ext1 VALUES (1,'a'),(2,'b')")
    assert(GraftTable.exists(spark, extLoc))
    assert(spark.sql("SELECT count(*) FROM graft.db.ext1").head().getLong(0) == 2)
    // DROP removes only the pointer; the data stays
    spark.sql("DROP TABLE graft.db.ext1")
    assert(GraftTable.exists(spark, extLoc))
    assert(GraftTable.load(spark, extLoc).read().count() == 2)
    // re-register WITHOUT schema: everything inherited from the location
    spark.sql(s"CREATE TABLE graft.db.ext2 LOCATION '$extLoc'")
    assert(spark.sql("SELECT count(*) FROM graft.db.ext2").head().getLong(0) == 2)
    assert(spark.table("graft.db.ext2").columns.toSeq == Seq("k", "v"))
    // PK semantics came along: upsert on k
    spark.sql("INSERT INTO graft.db.ext2 VALUES (2,'b2')")
    assert(spark.sql("SELECT count(*) FROM graft.db.ext2").head().getLong(0) == 2)
    // re-register WITH a matching schema is fine; a conflicting one is not
    spark.sql(s"""CREATE TABLE graft.db.ext3 (k BIGINT, v STRING)
                  LOCATION '$extLoc'""")
    assert(spark.sql("SELECT count(*) FROM graft.db.ext3").head().getLong(0) == 2)
    intercept[Exception] {
      spark.sql(s"CREATE TABLE graft.db.ext4 (wrong DOUBLE) LOCATION '$extLoc'")
    }
    // external tables appear in SHOW TABLES (the slot holds only a pointer)
    assert(spark.sql("SHOW TABLES IN graft.db").collect()
      .map(_.getString(1)).contains("ext2"))
    spark.sql("DROP TABLE graft.db.ext2")
    spark.sql("DROP TABLE graft.db.ext3")
  }

  test("ALTER DATABASE properties persist; SET LOCATION rejected loudly") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.dbp")
    spark.sql("ALTER DATABASE graft.dbp SET DBPROPERTIES ('team'='ml', 'tier'='gold')")
    val props = spark.sql("DESCRIBE DATABASE EXTENDED graft.dbp")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("Properties").exists(p => p.contains("team") && p.contains("ml")))
    spark.sql("ALTER DATABASE graft.dbp UNSET DBPROPERTIES ('tier')")
    val after = spark.sql("DESCRIBE DATABASE EXTENDED graft.dbp")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(after.get("Properties").exists(p => !p.contains("tier")))
    intercept[Exception] {
      spark.sql("ALTER DATABASE graft.dbp SET LOCATION '/tmp/elsewhere'")
    }
  }

  test("ALTER TABLE column position: ADD AFTER, ALTER FIRST/AFTER") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.cpos (a BIGINT, b STRING, c DOUBLE)")
    spark.sql("INSERT INTO graft.db.cpos VALUES (1, 'x', 2.5)")
    // ADD COLUMN ... AFTER: new column lands mid-schema, old rows read null
    spark.sql("ALTER TABLE graft.db.cpos ADD COLUMN n INT AFTER a")
    assert(spark.table("graft.db.cpos").columns.toSeq == Seq("a", "n", "b", "c"))
    // reorder an existing column to FIRST and AFTER — metadata-only, data
    // written under the old order still reads correctly by field id
    spark.sql("ALTER TABLE graft.db.cpos ALTER COLUMN c FIRST")
    assert(spark.table("graft.db.cpos").columns.toSeq == Seq("c", "a", "n", "b"))
    spark.sql("ALTER TABLE graft.db.cpos ALTER COLUMN c AFTER b")
    assert(spark.table("graft.db.cpos").columns.toSeq == Seq("a", "n", "b", "c"))
    spark.sql("INSERT INTO graft.db.cpos VALUES (2, 7, 'y', 9.5)")
    val rows = spark.sql(
      "SELECT a, n, b, c FROM graft.db.cpos ORDER BY a")
      .collect().map(r => (r.getLong(0), Option(r.get(1)), r.getString(2), r.getDouble(3))).toSeq
    assert(rows == Seq((1L, None, "x", 2.5), (2L, Some(7), "y", 9.5)))
  }

  test("__VECTOR_FIELD comment directive declares vector columns") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("""CREATE TABLE graft.db.vdir (
        id BIGINT,
        emb ARRAY<FLOAT> COMMENT '__VECTOR_FIELD;4; product embedding',
        emb2 ARRAY<FLOAT> COMMENT '__VECTOR_FIELD;2')""")
    val t = GraftTable.load(spark, s"$wh/db.db/vdir")
    assert(t.config.options.get("fields.emb.dimension").contains("4"))
    assert(t.config.options.get("fields.emb2.dimension").contains("2"))
    assert(t.config.options.get("vector-field").contains("emb,emb2"))
    // directive stripped; the trailing human comment survives
    val emb = t.schema.sparkSchema.fields.find(_.name == "emb").get
    assert(emb.getComment().contains("product embedding"))
    assert(t.schema.sparkSchema.fields.find(_.name == "emb2").get.getComment().isEmpty)
    // declared dimension is enforced at write
    spark.sql("INSERT INTO graft.db.vdir VALUES " +
      "(1, array(1.0f, 0.0f, 0.0f, 0.0f), array(1.0f, 0.0f))")
    intercept[Exception] {
      spark.sql("INSERT INTO graft.db.vdir VALUES " +
        "(2, array(1.0f, 0.0f), array(1.0f, 0.0f))")
    }
    assert(spark.sql("SELECT count(*) FROM graft.db.vdir").head().getLong(0) == 1)
    // directive on a non-array column is rejected at CREATE
    intercept[Exception] {
      spark.sql("""CREATE TABLE graft.db.vdir_bad (
          id BIGINT COMMENT '__VECTOR_FIELD;4')""")
    }
  }

  test("DataFrame API read routing: catalog/database/table options") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE IF NOT EXISTS graft.db.routed (k BIGINT, s STRING)")
    spark.sql("INSERT INTO graft.db.routed VALUES (41,'r')")
    // explicit catalog+database+table options, no path (reference
    // docs/spark/dataframe.md "Query")
    val viaOpts = spark.read.format("graft")
      .option("catalog", "graft").option("database", "db").option("table", "routed")
      .load()
    assert(viaOpts.where($"k" === 41L).count() == 1)
    // catalog + path: db/table inferred from the <db>.db/<table> layout
    val viaPath = spark.read.format("graft")
      .option("catalog", "graft").load(s"$wh/db.db/routed")
    assert(viaPath.where($"k" === 41L).count() == 1)
  }

  test("SQL DELETE / UPDATE on pk and append tables") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("""CREATE TABLE graft.db.rl (k BIGINT, s STRING, p DOUBLE)
                 TBLPROPERTIES ('primary-key'='k', 'bucket'='2')""")
    spark.sql("INSERT INTO graft.db.rl VALUES (1,'a',10.0),(2,'b',20.0),(3,'c',30.0),(4,'d',40.0)")
    spark.sql("DELETE FROM graft.db.rl WHERE p > 35.0")
    assert(spark.sql("SELECT count(*) FROM graft.db.rl").head().getLong(0) == 3)
    spark.sql("UPDATE graft.db.rl SET p = p * 2, s = concat(s, '!') WHERE k <= 2")
    val rows = spark.sql("SELECT k, s, p FROM graft.db.rl ORDER BY k")
      .as[(Long, String, Double)].collect().toSeq
    assert(rows == Seq((1L, "a!", 20.0), (2L, "b!", 40.0), (3L, "c", 30.0)))
    // append table + deletion-vectors mode
    spark.sql("""CREATE TABLE graft.db.rla (k BIGINT, v DOUBLE)
                 TBLPROPERTIES ('deletion-vectors.enabled'='true')""")
    spark.sql("INSERT INTO graft.db.rla VALUES (1,1.0),(2,2.0),(3,3.0)")
    spark.sql("DELETE FROM graft.db.rla WHERE k = 2")
    assert(spark.sql("SELECT sum(k) FROM graft.db.rla").head().getLong(0) == 4)
    assert(GraftTable.load(spark, s"$wh/db.db/rla").sm.latestSnapshot.get.dvIndex.isDefined)
  }

  test("SQL MERGE INTO: update/delete/insert + not matched by source") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("""CREATE TABLE graft.db.m (k BIGINT, s STRING, p DOUBLE)
                 TBLPROPERTIES ('primary-key'='k', 'bucket'='2')""")
    spark.sql("INSERT INTO graft.db.m VALUES (1,'a',10.0),(2,'b',20.0),(3,'c',30.0)")
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW msrc AS SELECT * FROM VALUES " +
      "(2, 'B', 200.0), (3, 'C', -1.0), (4, 'D', 400.0) AS v(k, s, p)")
    spark.sql("""
      MERGE INTO graft.db.m t USING msrc s ON t.k = s.k
      WHEN MATCHED AND s.p < 0 THEN DELETE
      WHEN MATCHED THEN UPDATE SET s = s.s, p = s.p + t.p
      WHEN NOT MATCHED THEN INSERT (k, s, p) VALUES (s.k, s.s, s.p)
    """)
    val rows = spark.sql("SELECT k, s, p FROM graft.db.m ORDER BY k")
      .as[(Long, String, Double)].collect().toSeq
    assert(rows == Seq((1L, "a", 10.0), (2L, "B", 220.0), (4L, "D", 400.0)))
    // star shorthand + not-matched-by-source
    spark.sql("""
      MERGE INTO graft.db.m t USING msrc s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *
      WHEN NOT MATCHED BY SOURCE THEN UPDATE SET p = 0.0
    """)
    val rows2 = spark.sql("SELECT k, s, p FROM graft.db.m ORDER BY k")
      .as[(Long, String, Double)].collect().toSeq
    assert(rows2 == Seq((1L, "a", 0.0), (2L, "B", 200.0), (3L, "C", -1.0), (4L, "D", 400.0)))
  }

  test("native columnar scan: BatchScan (no RDD fallback) after compaction, stats reported") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("""CREATE TABLE graft.db.nat (k BIGINT, s STRING, p DOUBLE)
                 TBLPROPERTIES ('primary-key'='k', 'bucket'='2')""")
    spark.sql("INSERT INTO graft.db.nat VALUES (1,'a',10.0),(2,'b',20.0),(3,'c',30.0)")
    spark.sql("INSERT INTO graft.db.nat VALUES (2,'b2',99.0)")
    // uncompacted PK table → merge needed → V1 path still correct
    val merged = spark.sql("SELECT k, s FROM graft.db.nat ORDER BY k")
      .as[(Long, String)].collect().toSeq
    assert(merged == Seq((1L, "a"), (2L, "b2"), (3L, "c")))
    import graft.core.RowOps._
    GraftTable.load(spark, s"$wh/db.db/nat").compact()
    val df = spark.sql("SELECT k, s FROM graft.db.nat WHERE p > 15.0")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BatchScan"), s"expected native BatchScan, got:\n$plan")
    assert(!plan.contains("RDDScan"), s"RDD fallback still present:\n$plan")
    assert(df.as[(Long, String)].collect().toSet == Set((2L, "b2"), (3L, "c")))
    // manifest statistics reach the optimizer
    val stats = spark.sql("SELECT * FROM graft.db.nat").queryExecution
      .optimizedPlan.stats
    assert(stats.rowCount.contains(BigInt(3)), s"stats: $stats")
  }

  test("AQE disables the bucketed scan layout when nothing downstream uses it") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import graft.dsv2.GraftBatchScan
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("""CREATE TABLE graft.db.buckdis (k BIGINT, v DOUBLE)
                 TBLPROPERTIES ('primary-key'='k', 'bucket'='8')""")
    spark.sql("INSERT INTO graft.db.buckdis SELECT id, id * 1.0 FROM range(400)")
    import graft.core.RowOps._
    GraftTable.load(spark, s"$wh/db.db/buckdis").compact()
    // query stages are leaf wrappers: flatten through them to the scans
    def scansIn(p: org.apache.spark.sql.execution.SparkPlan): Seq[GraftBatchScan] =
      p.collect {
        case a: AdaptiveSparkPlanExec => scansIn(a.executedPlan)
        case st: org.apache.spark.sql.execution.adaptive.QueryStageExec => scansIn(st.plan)
        case b: BatchScanExec => b.scan match {
          case g: GraftBatchScan => Seq(g)
          case _ => Nil
        }
      }.flatten
    def scanOf(df: org.apache.spark.sql.DataFrame): GraftBatchScan = {
      df.collect()
      val scans = scansIn(df.queryExecution.executedPlan)
      assert(scans.nonEmpty, s"no GraftBatchScan in:\n${df.queryExecution.executedPlan}")
      scans.head
    }
    withSQLConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.adaptive.enabled" -> "true") {
      // plain scan-side aggregate with a shuffle above: layout is useless —
      // the rule must turn it off and pack the 8 per-bucket files together.
      // (agg pushdown would swallow a bare count(*), so aggregate over an
      // expression it can't serve from stats)
      val agg = spark.sql("SELECT sum(v + 1.0) FROM graft.db.buckdis")
      val s1 = scanOf(agg)
      assert(s1.bucketedScanDisabled, "expected bucketed scan disabled")
      assert(s1.planInputPartitions().length < 8,
        s"expected cross-bucket packing, got ${s1.planInputPartitions().length}")
      // a join on the bucket key exploits the layout: it must survive
      withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val j = spark.sql(
          """SELECT a.k FROM graft.db.buckdis a
             JOIN graft.db.buckdis b ON a.k = b.k""")
        j.collect()
        val scans = scansIn(j.queryExecution.executedPlan)
        assert(scans.nonEmpty && scans.forall(!_.bucketedScanDisabled),
          "SPJ-eligible scans must keep the bucketed layout")
      }
    }
    spark.sql("DROP TABLE graft.db.buckdis")
  }

  test("AQE keeps the layout through an unknown partitioning-preserving op (Generate)") {
    // ADVICE r11 (high): an exchange-free aggregate whose clustering flows
    // through GenerateExec — an operator the rule can't classify — must NOT
    // have the scan below it disabled: EnsureRequirements already elided the
    // exchange based on that layout, so disabling it silently drops the
    // clustering and each packed partition would aggregate independently
    // (duplicate groups). Mirrors Spark's DisableUnnecessaryBucketedScan:
    // ancestorWants survives unknown operators; only allowedNode degrades.
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import graft.dsv2.GraftBatchScan
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("""CREATE TABLE graft.db.buckgen (k BIGINT, arr ARRAY<DOUBLE>)
                 TBLPROPERTIES ('primary-key'='k', 'bucket'='4')""")
    spark.sql(
      "INSERT INTO graft.db.buckgen SELECT id, array(id*1.0, id*2.0) FROM range(100)")
    import graft.core.RowOps._
    GraftTable.load(spark, s"$wh/db.db/buckgen").compact()
    def scansIn(p: org.apache.spark.sql.execution.SparkPlan): Seq[GraftBatchScan] =
      p.collect {
        case a: AdaptiveSparkPlanExec => scansIn(a.executedPlan)
        case st: org.apache.spark.sql.execution.adaptive.QueryStageExec => scansIn(st.plan)
        case b: BatchScanExec => b.scan match {
          case g: GraftBatchScan => Seq(g)
          case _ => Nil
        }
      }.flatten
    withSQLConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.adaptive.enabled" -> "true") {
      val df = spark.sql(
        """SELECT k, sum(x) AS s FROM
             (SELECT k, explode(arr) AS x FROM graft.db.buckgen)
           GROUP BY k""")
      val rows = df.as[(Long, Double)].collect()
      // correctness first: exactly one group per key, sum = k + 2k
      assert(rows.length == 100, s"expected 100 groups, got ${rows.length}")
      assert(rows.forall { case (k, s) => math.abs(s - 3.0 * k) < 1e-9 },
        s"wrong sums: ${rows.filterNot { case (k, s) => math.abs(s - 3.0 * k) < 1e-9 }.take(5).toSeq}")
      val plan = df.queryExecution.executedPlan
      val scans = scansIn(plan)
      // if the plan is exchange-free (clustering flowed through Generate),
      // the scan MUST keep its bucketed layout
      val hasShuffle = plan.toString.contains("Exchange")
      if (!hasShuffle) {
        assert(scans.nonEmpty && scans.forall(!_.bucketedScanDisabled),
          s"scan below an elided exchange was disabled:\n$plan")
      }
    }
    spark.sql("DROP TABLE graft.db.buckgen")
  }

  test("storage-partitioned join: co-bucketed pk tables join without exchange") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    for (n <- Seq("spj_a", "spj_b")) {
      spark.sql(s"""CREATE TABLE graft.db.$n (k BIGINT, v DOUBLE)
                   TBLPROPERTIES ('primary-key'='k', 'bucket'='4')""")
      spark.sql(s"INSERT INTO graft.db.$n SELECT id AS k, id * 1.0 AS v FROM range(100)")
      import graft.core.RowOps._
      GraftTable.load(spark, s"$wh/db.db/$n").compact()
    }
    withSQLConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val j = spark.sql(
        """SELECT a.k, a.v + b.v AS s FROM graft.db.spj_a a
           JOIN graft.db.spj_b b ON a.k = b.k""")
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"SPJ should have no exchange:\n$plan")
      assert(j.count() == 100)
      assert(j.agg(sum("s")).head().getDouble(0) == (0 until 100).map(_ * 2.0).sum)
    }
  }

  test("native text expressions exposed as SQL scalars") {
    assert(spark.sql("SELECT graft_simhash('the quick brown fox')").head().getLong(0) != 0L)
    assert(spark.sql("SELECT graft_simhash(CAST(NULL AS STRING))").head().getLong(0) == 0L)
    assert(spark.sql(
      "SELECT size(graft_shingle_hashes('a b c d', 3))").head().getInt(0) == 2)
    assert(spark.sql(
      "SELECT graft_lang_scores('the der le el and').s_en").head().getLong(0) == 2L)
    // non-string input fails at ANALYSIS, not inside codegen
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_simhash(42)").collect()
    }
  }

  test("window over a bucket-keyed table satisfies clustering from storage: no exchange") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("""CREATE TABLE IF NOT EXISTS graft.db.winb (k BIGINT, grp BIGINT, v DOUBLE)
                 TBLPROPERTIES ('bucket-key'='grp', 'bucket'='4')""")
    spark.sql("INSERT INTO graft.db.winb SELECT id, id % 37, id * 1.0 FROM range(500)")
    withSQLConf("spark.sql.sources.v2.bucketing.enabled" -> "true") {
      val df = spark.sql(
        """SELECT grp, k, rn FROM (
          |  SELECT grp, k, row_number() OVER (PARTITION BY grp ORDER BY v DESC, k) AS rn
          |  FROM graft.db.winb) WHERE rn <= 2""".stripMargin)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed window should run exchange-free:\n$plan")
      assert(df.count() == 74) // 37 groups x top-2
      // same result as the shuffled plan over raw data
      val expected = spark.sql(
        """SELECT grp, k, rn FROM (
          |  SELECT id % 37 AS grp, id AS k,
          |    row_number() OVER (PARTITION BY id % 37 ORDER BY id * 1.0 DESC, id) AS rn
          |  FROM range(500)) WHERE rn <= 2""".stripMargin)
      assertSameRows(df, expected)
      // the sessionization SHAPE: a groupBy whose keys INCLUDE the bucket
      // key, stacked on the window — still zero exchange (the rollup's
      // clustering is satisfied by the same storage partitioning)
      val sess = spark.sql(
        """SELECT grp, rn, count(*) AS cnt FROM (
          |  SELECT grp, row_number() OVER (PARTITION BY grp ORDER BY v, k) AS rn
          |  FROM graft.db.winb) GROUP BY grp, rn""".stripMargin)
      val sessPlan = sess.queryExecution.executedPlan.toString
      assert(!sessPlan.contains("Exchange"),
        s"window + keyed rollup should stay exchange-free:\n$sessPlan")
      assert(sess.count() == 500)
    }
  }

  test("compacted PK read reports PK ordering: sort-merge SPJ plans with no exchange AND no sort") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    for (n <- Seq("sord_a", "sord_b")) {
      spark.sql(s"""CREATE TABLE graft.db.$n (k BIGINT, v DOUBLE)
                   TBLPROPERTIES ('primary-key'='k', 'bucket'='4')""")
      spark.sql(s"INSERT INTO graft.db.$n SELECT id AS k, id * 1.0 AS v FROM range(120)")
      import graft.core.RowOps._
      GraftTable.load(spark, s"$wh/db.db/$n").compact()
    }
    val joinSql =
      """SELECT a.k, a.v + b.v AS s FROM graft.db.sord_a a
         JOIN graft.db.sord_b b ON a.k = b.k"""
    withSQLConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      // fully compacted → each bucket is ONE PK-sorted file: the scan
      // reports the PK ordering (SupportsReportOrdering — reference
      // PaimonScan.outputOrdering), so the sort-merge join plans with
      // neither Exchange (clustering from storage) nor Sort (ordering
      // from storage)
      val j = spark.sql(joinSql)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"), s"SPJ should have no exchange:\n$plan")
      assert(!plan.contains("Sort "), s"expected sort-free SMJ:\n$plan")
      assert(j.count() == 120)
      // an overlapping second write puts one side into the merge-on-read
      // state — which now ALSO reports ordering (the k-way merge emits
      // PK-sorted), so the join stays sort-free and exact
      spark.sql("INSERT INTO graft.db.sord_a SELECT id AS k, id * 2.0 AS v FROM range(30)")
      val j2 = spark.sql(joinSql)
      val plan2 = j2.queryExecution.executedPlan.toString
      assert(plan2.contains("GraftMorScan"), plan2)
      assert(!plan2.contains("Sort "),
        s"merge-in-scan reads serve sorted — expected sort-free SMJ:\n$plan2")
      assert(j2.count() == 120)
      assert(spark.sql("SELECT v FROM graft.db.sord_a WHERE k = 5").head().getDouble(0) == 10.0)
      // PK stats are STRUCTURAL (always collected, even under
      // metadata.stats-mode none — statsModeFor's early return), so the
      // multi-file disjointness proof and the ordering report survive a
      // stats-degraded table; the sort-free plan holds
      spark.sql("""CREATE TABLE graft.db.sord_ns (k BIGINT, v DOUBLE)
                   TBLPROPERTIES ('primary-key'='k', 'bucket'='4',
                     'metadata.stats-mode'='none',
                     'write.max-records-per-file'='10')""")
      spark.sql("INSERT INTO graft.db.sord_ns SELECT id AS k, id * 1.0 AS v FROM range(120)")
      import graft.core.RowOps._
      GraftTable.load(spark, s"$wh/db.db/sord_ns").compact()
      val j3 = spark.sql(
        """SELECT a.k, a.v + b.v AS s FROM graft.db.sord_ns a
           JOIN graft.db.sord_b b ON a.k = b.k""")
      val plan3 = j3.queryExecution.executedPlan.toString
      assert(!plan3.contains("Sort "),
        s"structural pk stats must keep the report under stats-mode none:\n$plan3")
      assert(j3.count() == 120)
    }
  }

  test("size-rolled compaction keeps the ordering report: multi-file disjoint buckets, no sort") {
    // the at-scale shape: a 1 GB-target compaction rolls one bucket into
    // SEVERAL key-disjoint pk-sorted files — the report must survive it,
    // not just the single-file-per-bucket demo case
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    for (n <- Seq("sroll_a", "sroll_b")) {
      spark.sql(s"""CREATE TABLE graft.db.$n (k BIGINT, v DOUBLE)
                   TBLPROPERTIES ('primary-key'='k', 'bucket'='2',
                                  'write.max-records-per-file'='20')""")
      spark.sql(s"INSERT INTO graft.db.$n SELECT id AS k, id * 1.0 AS v FROM range(120)")
      import graft.core.RowOps._
      GraftTable.load(spark, s"$wh/db.db/$n").compact()
      // the premise: at least one (partition, bucket) group really is
      // multi-file after compaction (rolled at 20 records)
      val groups = GraftTable.load(spark, s"$wh/db.db/$n").planFiles()
        .groupBy(_.bucket).values
      assert(groups.exists(_.size > 1),
        s"fixture defeated: compaction did not roll multiple files per bucket")
    }
    val joinSql =
      """SELECT a.k, a.v + b.v AS s FROM graft.db.sroll_a a
         JOIN graft.db.sroll_b b ON a.k = b.k"""
    withSQLConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val j = spark.sql(joinSql)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"), s"SPJ should have no exchange:\n$plan")
      assert(!plan.contains("Sort "),
        s"disjoint rolled files must keep the sort-free SMJ:\n$plan")
      // the report is a promise about DATA, not just plan shape: the join
      // result is exact (an unsorted stream under a sort-free SMJ would
      // silently drop matches), and every scan task streams k ascending
      assert(j.count() == 120)
      assert(j.agg(sum(col("s"))).head().getDouble(0) == (0 until 120).map(_ * 2.0).sum)
      val unsortedTasks = spark.sql("SELECT k FROM graft.db.sroll_a")
        .rdd.mapPartitions { it =>
          var prev = Long.MinValue; var bad = 0
          it.foreach { r =>
            val k = r.getLong(0)
            if (k <= prev) bad += 1
            prev = k
          }
          Iterator.single(bad)
        }.collect().sum
      assert(unsortedTasks == 0,
        s"$unsortedTasks out-of-order rows inside scan tasks")
    }
    // without v2 bucketing the key grouping is not in force (a group may
    // split across tasks), so multi-file groups must RETRACT the report
    withSQLConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val plan3 = spark.sql(joinSql).queryExecution.executedPlan.toString
      assert(plan3.contains("Sort "),
        s"multi-file groups without v2 bucketing must not report ordering:\n$plan3")
    }
  }

  test("UNCOMPACTED merge reads report layout + ordering: exchange-free sort-free SMJ through the k-way merge") {
    // the merge-in-scan serves one key group per task and the k-way merge
    // emits PK-sorted, so keyed plans over tables with PENDING merges —
    // the common live state — need neither Exchange nor Sort
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    for (n <- Seq("smor_a", "smor_b")) {
      spark.sql(s"""CREATE TABLE graft.db.$n (k BIGINT, v DOUBLE)
                   TBLPROPERTIES ('primary-key'='k', 'bucket'='4')""")
      spark.sql(s"INSERT INTO graft.db.$n SELECT id AS k, id * 1.0 AS v FROM range(120)")
      // overlapping second write → level-0 versions pending merge
      spark.sql(s"INSERT INTO graft.db.$n SELECT id AS k, id * 10.0 AS v FROM range(40)")
    }
    val joinSql =
      """SELECT a.k, a.v + b.v AS s FROM graft.db.smor_a a
         JOIN graft.db.smor_b b ON a.k = b.k"""
    withSQLConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val j = spark.sql(joinSql)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("GraftMorScan"), s"expected merge-in-scan reads:\n$plan")
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"),
        s"uncompacted SPJ should have no exchange:\n$plan")
      assert(!plan.contains("Sort "),
        s"k-way merged reads serve sorted — expected sort-free SMJ:\n$plan")
      // exactness: latest version per key on both sides
      assert(j.count() == 120)
      val expect = (0 until 120).map(k => if (k < 40) k * 20.0 else k * 2.0).sum
      assert(j.agg(sum(col("s"))).head().getDouble(0) == expect)
      // and every scan task streams k ascending through the merge
      val bad = spark.sql("SELECT k FROM graft.db.smor_a")
        .rdd.mapPartitions { it =>
          var prev = Long.MinValue; var n = 0
          it.foreach { r => if (r.getLong(0) <= prev) n += 1; prev = r.getLong(0) }
          Iterator.single(n)
        }.collect().sum
      assert(bad == 0, s"$bad out-of-order rows inside merge-scan tasks")
    }
  }

  test("storage-partitioned join: co-bucketed APPEND tables (bucket-key) skip exchanges") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    for (n <- Seq("spjap_a", "spjap_b")) {
      spark.sql(s"""CREATE TABLE graft.db.$n (k BIGINT, v DOUBLE)
                   TBLPROPERTIES ('bucket-key'='k', 'bucket'='4')""")
      spark.sql(s"INSERT INTO graft.db.$n SELECT id AS k, id * 1.0 AS v FROM range(80)")
    }
    withSQLConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val j = spark.sql(
        """SELECT a.k, a.v + b.v AS s FROM graft.db.spjap_a a
           JOIN graft.db.spjap_b b ON a.k = b.k""")
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"SPJ should have no exchange:\n$plan")
      assert(j.count() == 80)
    }
    // SQL equality on the bucket key bucket-prunes the native scan
    val scan = spark.sql("SELECT * FROM graft.db.spjap_a WHERE k = 7")
    assert(scan.count() == 1)
    import graft.core.RowOps._
    val t = GraftTable.load(spark, s"$wh/db.db/spjap_a")
    val pruned = t.planFiles(filter = Some(col("k") === 7L))
    assert(pruned.map(_.bucket).distinct == Seq(pruned.head.bucket) &&
      pruned.size < t.planFiles().size)
  }

  test("iceberg hadoop-catalog storage: SQL table exports under <warehouse>/iceberg/db/t") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("""CREATE TABLE graft.db.icb_hc (k BIGINT, s STRING)
      TBLPROPERTIES ('metadata.iceberg.storage'='hadoop-catalog')""")
    spark.sql("INSERT INTO graft.db.icb_hc VALUES (1,'a'),(2,'b')")
    val metaDir = new org.apache.hadoop.fs.Path(s"$wh/iceberg/db/icb_hc/metadata")
    val fs = metaDir.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(new org.apache.hadoop.fs.Path(metaDir, "version-hint.text")),
      s"no iceberg metadata under $metaDir")
    val v = scala.io.Source.fromInputStream(fs.open(
      new org.apache.hadoop.fs.Path(metaDir, "version-hint.text"))).mkString.trim
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      fs.open(new org.apache.hadoop.fs.Path(metaDir, s"v$v.metadata.json")))
    assert(root.get("current-snapshot-id").asLong >= 1L)
    spark.sql("DROP TABLE graft.db.icb_hc")
  }

  test("streaming: admission control bounds batches; scan.mode latest skips history") {
    import graft.core.RowOps._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.adm (k BIGINT, s STRING) TBLPROPERTIES ('primary-key'='k','bucket'='1')")
    (1 to 4).foreach(i =>
      spark.sql(s"INSERT INTO graft.db.adm VALUES ($i,'v$i'),(${i + 100},'w$i')"))
    val loc = s"$wh/db.db/adm"
    // maxRows=2 per trigger → 4 snapshots can't fit in one batch
    val ckpt = Files.createTempDirectory("graft-adm-ckpt").toString
    val outName = "adm_sink_" + System.nanoTime()
    val q = spark.readStream.format("graft")
      .option("scan.mode", "from-snapshot").option("scan.snapshot-id", "1")
      .option("scan.max-rows-per-trigger", "2")
      .load(loc)
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .format("memory").queryName(outName).start()
    q.awaitTermination(60000)
    assert(spark.table(outName).count() == 8)
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length >= 3, s"expected bounded batches, got ${batches.length}")
    assert(batches.forall(_.numInputRows <= 2))
    // scan.mode=latest: no history replay → zero rows from AvailableNow
    val ckpt2 = Files.createTempDirectory("graft-latest-ckpt").toString
    val outName2 = "latest_sink_" + System.nanoTime()
    val q2 = spark.readStream.format("graft")
      .option("scan.mode", "latest").load(loc)
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt2)
      .format("memory").queryName(outName2).start()
    q2.awaitTermination(60000)
    assert(spark.table(outName2).count() == 0)
  }

  test("streaming: max-bytes and min-rows admission (paimon read limits)") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.adm2 (k BIGINT, s STRING) TBLPROPERTIES ('primary-key'='k','bucket'='1')")
    (1 to 4).foreach(i =>
      spark.sql(s"INSERT INTO graft.db.adm2 VALUES ($i,'v$i'),(${i + 100},'w$i')"))
    val loc = s"$wh/db.db/adm2"
    // deltaBytes is manifest-resident on every commit
    val t = graft.core.GraftTable.load(spark, loc)
    assert(t.sm.readSnapshot(2L).deltaBytesLong.exists(_ > 0L))
    // max-bytes = 1 → every batch carries exactly one snapshot (always
    // admit at least one so the stream advances)
    val ckpt = Files.createTempDirectory("graft-adm2-ckpt").toString
    val outName = "adm2_sink_" + System.nanoTime()
    val q = spark.readStream.format("graft")
      .option("scan.mode", "from-snapshot").option("scan.snapshot-id", "1")
      .option("scan.max-bytes-per-trigger", "1")
      .load(loc)
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .format("memory").queryName(outName).start()
    q.awaitTermination(60000)
    assert(spark.table(outName).count() == 8)
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length == 4, s"expected 4 byte-bounded batches, got ${batches.length}")
    assert(batches.forall(_.numInputRows == 2))
    // min-rows NEVER withholds under Trigger.AvailableNow (its contract is
    // drain-everything-and-stop, the Kafka posture for minOffsetsPerTrigger)
    // — even a minimum far above the available rows delivers them all
    val ckpt2 = Files.createTempDirectory("graft-minr-ckpt").toString
    val outName2 = "minr_sink_" + System.nanoTime()
    val q2 = spark.readStream.format("graft")
      .option("scan.mode", "from-snapshot").option("scan.snapshot-id", "1")
      .option("scan.min-rows-per-trigger", "1000")
      .option("scan.max-trigger-delay-ms", "3600000")
      .load(loc)
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt2)
      .format("memory").queryName(outName2).start()
    q2.awaitTermination(60000)
    assert(spark.table(outName2).count() == 8)
  }

  test("streaming startup: from-creation-timestamp and from-file-creation-time") {
    import graft.core.RowOps._
    val loc = Files.createTempDirectory("graft-fct").resolve("t").toString
    val df = Seq((1L, "a")).toDF("k", "v")
    val t = graft.core.GraftTable.create(spark, loc, df.schema,
      graft.core.TableConfig(primaryKeys = Seq("k"), numBuckets = 1))
    t.write(df)
    Thread.sleep(1200)
    val cutoff = System.currentTimeMillis()
    t.write(Seq((2L, "b")).toDF("k", "v"))
    def run(opts: Map[String, String]): Set[Long] = {
      val ckpt = Files.createTempDirectory("graft-fct-ckpt").toString
      val outName = "fct_sink_" + System.nanoTime()
      var r = spark.readStream.format("graft")
      opts.foreach { case (k, v) => r = r.option(k, v) }
      val q = r.load(loc).writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .format("memory").queryName(outName).start()
      q.awaitTermination(60000)
      spark.table(outName).select("k").as[Long].collect().toSet
    }
    assert(run(Map("scan.mode" -> "from-creation-timestamp")) == Set(1L, 2L))
    assert(run(Map("scan.mode" -> "from-file-creation-time",
      "scan.file-creation-time-millis" -> cutoff.toString)) == Set(2L),
      "only the file created after the cutoff should stream")
  }

  test("streaming-read-overwrite: COW rewrites skipped by default, streamed on opt-in") {
    import graft.core.RowOps._
    val loc = Files.createTempDirectory("graft-sro").resolve("t").toString
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val t = graft.core.GraftTable.create(spark, loc, df.schema,
      graft.core.TableConfig(primaryKeys = Seq("k"), numBuckets = 1))
    t.write(df)                      // snap 1 (APPEND)
    t.delete(col("k") === 1L)        // snap 2 (OVERWRITE rewrite of the bucket)
    def run(opts: Map[String, String]): Long = {
      val ckpt = Files.createTempDirectory("graft-sro-ckpt").toString
      val outName = "sro_sink_" + System.nanoTime()
      var r = spark.readStream.format("graft")
        .option("scan.mode", "from-snapshot").option("scan.snapshot-id", "1")
      opts.foreach { case (k, v) => r = r.option(k, v) }
      val q = r.load(loc)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .format("memory").queryName(outName).start()
      q.awaitTermination(60000)
      spark.table(outName).count()
    }
    assert(run(Map.empty) == 2L, "default: only the APPEND streams")
    assert(run(Map("streaming-read-overwrite" -> "true")) == 3L,
      "opt-in: the rewrite's surviving row streams too")
  }

  test("streaming: scan.bounded.watermark stops before higher-watermark snapshots") {
    import graft.core.RowOps._
    val loc = Files.createTempDirectory("graft-bw").resolve("t").toString
    val df = Seq((1L, "a")).toDF("k", "v")
    val t = graft.core.GraftTable.create(spark, loc, df.schema,
      graft.core.TableConfig(primaryKeys = Seq("k"), numBuckets = 1))
    t.write(Seq((1L, "a")).toDF("k", "v"), watermark = Some(100L))
    t.write(Seq((2L, "b")).toDF("k", "v"), watermark = Some(200L))
    t.write(Seq((3L, "c")).toDF("k", "v"), watermark = Some(300L)) // beyond bound
    val ckpt = Files.createTempDirectory("graft-bw-ckpt").toString
    val outName = "bw_sink_" + System.nanoTime()
    val q = spark.readStream.format("graft")
      .option("scan.mode", "from-snapshot").option("scan.snapshot-id", "1")
      .option("scan.bounded.watermark", "250")
      .load(loc)
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .format("memory").queryName(outName).start()
    q.awaitTermination(60000)
    assert(spark.table(outName).select("k").as[Long].collect().toSet ==
      Set(1L, 2L), "snapshot with watermark 300 must not be admitted")
  }

  test("streaming changelog: -U/+U rows from write-time lookup producer") {
    import graft.core.RowOps._
    val loc = Files.createTempDirectory("graft-cl").resolve("t").toString
    val df = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "v")
    val t = GraftTable.create(spark, loc, df.schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1,
        options = Map("changelog-producer" -> "lookup")))
    t.write(df) // +I x3
    t.write(Seq((2L, 99.0), (4L, 40.0)).toDF("k", "v")) // -U/+U for 2, +I for 4
    val ckpt = Files.createTempDirectory("graft-clk-ckpt").toString
    val outName = "cl_sink_" + System.nanoTime()
    val q = spark.readStream.format("graft")
      .option("read-changelog", "true")
      .option("scan.mode", "from-snapshot").option("scan.snapshot-id", "1")
      .load(loc)
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .format("memory").queryName(outName).start()
    q.awaitTermination(60000)
    val rows = spark.table(outName).orderBy("k", "_row_kind")
      .select("k", "v", "_row_kind").as[(Long, Double, String)].collect().toSet
    assert(rows == Set(
      (1L, 10.0, "+I"), (2L, 20.0, "+I"), (3L, 30.0, "+I"),
      (2L, 20.0, "-U"), (2L, 99.0, "+U"), (4L, 40.0, "+I")), s"got $rows")
    // batch changelog() also serves from the persisted files (no diff join)
    val cl = t.changelog(1, 2).select("k", "v", "_row_kind")
      .as[(Long, Double, String)].collect().toSet
    assert(cl == Set((2L, 20.0, "-U"), (2L, 99.0, "+U"), (4L, 40.0, "+I")), s"got $cl")
  }

  test("dynamic bucket (bucket = -1): buckets grow, keys stay routed, merge correct") {
    import graft.core.RowOps._
    val loc = Files.createTempDirectory("graft-dyn").resolve("t").toString
    val schema = Seq((1L, "a")).toDF("k", "v").schema
    val t = GraftTable.create(spark, loc, schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = -1,
        options = Map("dynamic-bucket.target-row-count" -> "100")))
    // 250 keys → 3 buckets (100/100/50)
    t.write(spark.range(250).select(col("id").as("k"), concat(lit("v"), col("id")).as("v")))
    val buckets1 = t.planFiles().map(_.bucket).distinct.sorted
    assert(buckets1 == Seq(0, 1, 2), s"got $buckets1")
    // update a subset: must land in ORIGINAL buckets (no growth)
    t.write(spark.range(50).select(col("id").as("k"), lit("upd").as("v")))
    assert(t.read().count() == 250)
    assert(t.read().filter(col("v") === "upd").count() == 50)
    // new keys continue filling: +150 keys → bucket 3 appears
    t.write(spark.range(250, 400).select(col("id").as("k"), concat(lit("n"), col("id")).as("v")))
    val buckets3 = t.planFiles().map(_.bucket).distinct.sorted
    assert(buckets3 == Seq(0, 1, 2, 3), s"got $buckets3")
    assert(t.read().count() == 400)
    // compaction preserves routing and results
    t.compact()
    assert(t.read().count() == 400)
    assert(t.read().filter(col("v") === "upd").count() == 50)
    // delete + merge-into paths still work on dynamic tables
    t.delete(col("k") < 10)
    assert(t.read().count() == 390)
  }

  test("schema evolution by field id: rename/retype/drop via SQL ALTER") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.evo (k BIGINT, a INT, b STRING)")
    spark.sql("INSERT INTO graft.db.evo VALUES (1, 10, 'x'), (2, 20, 'y')")
    // rename: old files keep serving the data under the new name
    spark.sql("ALTER TABLE graft.db.evo RENAME COLUMN a TO a2")
    assert(spark.sql("SELECT sum(a2) FROM graft.db.evo").head().getLong(0) == 30)
    spark.sql("INSERT INTO graft.db.evo VALUES (3, 30, 'z')")
    assert(spark.sql("SELECT sum(a2) FROM graft.db.evo").head().getLong(0) == 60)
    // retype: widen int → bigint, old files cast on read
    spark.sql("ALTER TABLE graft.db.evo ALTER COLUMN a2 TYPE BIGINT")
    val rows = spark.sql("SELECT k, a2 FROM graft.db.evo ORDER BY k")
      .as[(Long, Long)].collect().toSeq
    assert(rows == Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    // drop: column vanishes, other data unaffected
    spark.sql("ALTER TABLE graft.db.evo DROP COLUMN b")
    assert(spark.sql("SELECT * FROM graft.db.evo").columns.toSeq == Seq("k", "a2"))
    assert(spark.sql("SELECT count(*) FROM graft.db.evo").head().getLong(0) == 3)
    // a column added AFTER a drop must not resurrect the dropped id's data
    spark.sql("ALTER TABLE graft.db.evo ADD COLUMN b STRING")
    assert(spark.sql("SELECT count(b) FROM graft.db.evo").head().getLong(0) == 0)
  }

  test("system tables via t$suffix; TVFs: incremental_query, system, call") {
    import graft.core.RowOps._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.tvf (k BIGINT, v DOUBLE) TBLPROPERTIES ('primary-key'='k','bucket'='2')")
    spark.sql("INSERT INTO graft.db.tvf VALUES (1,1.0),(2,2.0)")
    spark.sql("INSERT INTO graft.db.tvf VALUES (2,22.0),(3,3.0)")
    // t$snapshots through the catalog
    val snaps = spark.sql("SELECT snapshot_id, commit_kind FROM graft.db.`tvf$snapshots` ORDER BY snapshot_id")
      .as[(Long, String)].collect().toSeq
    assert(snaps == Seq((1L, "APPEND"), (2L, "APPEND")))
    assert(spark.sql("SELECT * FROM graft.db.`tvf$files`").count() >= 2)
    // TVF: incremental between snapshots
    val inc = spark.sql("SELECT k, v FROM graft_incremental_query('graft.db.tvf', 1, 2) ORDER BY k")
      .as[(Long, Double)].collect().toSeq
    assert(inc == Seq((2L, 22.0), (3L, 3.0)))
    // TVF: system
    assert(spark.sql("SELECT * FROM graft_system('graft.db.tvf', 'snapshots')").count() == 2)
    // TVF: call compact, then the table is fully compacted
    val msg = spark.sql("SELECT * FROM graft_call('graft.db.tvf', 'compact')").head().getString(0)
    assert(msg.contains("compacted"))
    val t = GraftTable.load(spark, s"$wh/db.db/tvf")
    assert(t.planFiles().forall(_.level > 0))
    // TVF: full-text search over a persisted index
    val docs = Seq((1L, "spark table formats"), (2L, "vector search engines"))
      .toDF("doc_id", "text")
    val idxLoc = Files.createTempDirectory("graft-tvf-ft").resolve("idx").toString
    graft.pipeline.Indexes.buildFullText(spark, docs, "doc_id", "text", idxLoc)
    val hit = spark.sql(s"SELECT doc_id FROM graft_full_text_search('$idxLoc', 'vector engines', 1)")
      .as[Long].head()
    assert(hit == 2L)
    // TVF: composite es-index search (text + keyword filter, no vector)
    val esDocs = Seq((1L, "spark table formats", "en"),
      (2L, "vector search engines", "en"),
      (3L, "vector search engines", "de")).toDF("doc_id", "text", "lang")
    val esLoc = Files.createTempDirectory("graft-tvf-es").resolve("idx").toString
    graft.pipeline.EsIndex.build(spark, esDocs, "doc_id", esLoc,
      textCol = Some("text"), keywordCols = Seq("lang"))
    val esHits = spark.sql(
      s"SELECT doc_id FROM graft_es_search('$esLoc', 5, 'vector engines', NULL, 1, \"lang = 'de'\")")
      .as[Long].collect().toSeq
    assert(esHits == Seq(3L))
  }

  test("limit + topN pushdown: file pruning from manifest stats") {
    import graft.core._
    import graft.dsv2.GraftScanBuilder
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, NullOrdering}
    // synthetic entries: 4 files, value ranges [0-9],[10-19],[20-29],[30-39], 10 rows each
    def entry(i: Int, lo: Int, hi: Int) = ManifestEntry(0, s"f$i", Map.empty, 0, 10, 100, 0, 0, 1,
      Map("x" -> ColStat(lo.toString, hi.toString, 0)))
    val entries = (0 until 4).map(i => entry(i, i * 10, i * 10 + 9))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("x", org.apache.spark.sql.types.IntegerType)))
    val descOrder = Expressions.sort(Expressions.column("x"),
      SortDirection.DESCENDING, NullOrdering.NULLS_LAST)
    // top-5 DESC: only the last file (30-39) can contribute
    val pruned = GraftScanBuilder.topNPrune(entries, schema, descOrder, 5)
    assert(pruned.map(_.path) == Seq("f3"), s"got ${pruned.map(_.path)}")
    // top-15 DESC: needs two files
    val pruned2 = GraftScanBuilder.topNPrune(entries, schema, descOrder, 15)
    assert(pruned2.map(_.path).toSet == Set("f2", "f3"))
    val ascOrder = Expressions.sort(Expressions.column("x"),
      SortDirection.ASCENDING, NullOrdering.NULLS_FIRST)
    assert(GraftScanBuilder.topNPrune(entries, schema, ascOrder, 5).map(_.path) == Seq("f0"))
    // end-to-end: SQL ORDER BY/LIMIT over a range-clustered catalog table
    import graft.core.RowOps._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.topn (x BIGINT, s STRING)")
    spark.sql("INSERT INTO graft.db.topn SELECT id AS x, concat('s', id) AS s FROM range(1000)")
    GraftTable.load(spark, s"$wh/db.db/topn").compactSorted("order", Seq("x"), 8)
    val top = spark.sql("SELECT x FROM graft.db.topn ORDER BY x DESC LIMIT 3")
      .as[Long].collect().toSeq
    assert(top == Seq(999L, 998L, 997L))
    val lim = spark.sql("SELECT count(*) FROM (SELECT * FROM graft.db.topn LIMIT 7)")
      .head().getLong(0)
    assert(lim == 7)
  }

  test("graft_bucket SQL function matches write-path routing; column defaults") {
    // function must agree with the engine's bucket assignment
    val got = spark.sql("SELECT graft_bucket(4, id) AS b FROM range(100)")
      .agg(countDistinct(col("b"))).head().getLong(0)
    assert(got == 4)
    val viaExpr = spark.range(100)
      .select(pmod(xxhash64(col("id")), lit(4)).cast("int").as("e"),
        expr("graft_bucket(4, id)").as("f"))
      .filter(col("e") =!= col("f")).count()
    assert(viaExpr == 0, "graft_bucket must equal the engine's routing expression")
    // column default values fill missing columns on write
    val loc = Files.createTempDirectory("graft-defaults").resolve("t").toString
    val schema = Seq((1L, "a", 0.0)).toDF("k", "v", "score").schema
    val t = GraftTable.create(spark, loc, schema,
      TableConfig(options = Map("fields.score.default-value" -> "1.5")))
    t.write(Seq((1L, "x"), (2L, "y")).toDF("k", "v"))
    val scores = t.read().select("score").as[Double].collect().toSet
    assert(scores == Set(1.5))
  }

  test("aggregate pushdown: count/min/max answered from manifests (no file read)") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.aggp (k BIGINT, v DOUBLE, s STRING)")
    spark.sql("INSERT INTO graft.db.aggp SELECT id, id * 1.5, concat('s', id) FROM range(1000)")
    val df = spark.sql("SELECT count(*), min(k), max(k), max(v) FROM graft.db.aggp")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GraftAggScan"), s"expected manifest-only agg scan:\n$plan")
    val r = df.head()
    assert(r.getLong(0) == 1000 && r.getLong(1) == 0 && r.getLong(2) == 999
      && r.getDouble(3) == 999 * 1.5)
    // with a filter → normal scan, still correct
    val f = spark.sql("SELECT count(*) FROM graft.db.aggp WHERE k < 10")
    assert(!f.queryExecution.executedPlan.toString.contains("GraftAggScan"))
    assert(f.head().getLong(0) == 10)
  }

  test("streaming read: micro-batches follow the snapshot log") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.st (k BIGINT, s STRING) TBLPROPERTIES ('primary-key'='k','bucket'='1')")
    spark.sql("INSERT INTO graft.db.st VALUES (1,'a'),(2,'b')")
    spark.sql("INSERT INTO graft.db.st VALUES (2,'b2')")
    val loc = s"$wh/db.db/st"
    val ckpt = Files.createTempDirectory("graft-st-ckpt").toString
    val outName = "stream_sink_" + System.nanoTime()
    val q = spark.readStream.format("graft").load(loc)
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .format("memory").queryName(outName).start()
    q.awaitTermination(60000)
    // latest-full first batch = the MERGED current state (reference
    // FullStartingScanner) — the superseded (2,'b') must NOT flow; raw
    // per-record replay is scan.mode=from-snapshot's contract instead
    val rows = spark.table(outName).orderBy("k", "s")
      .as[(Long, String)].collect().toSeq
    assert(rows == Seq((1L, "a"), (2L, "b2")))
  }

  test("CALL sys.* / SHOW TAGS / tag DDL parser extension") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("""CREATE TABLE graft.db.callt (k BIGINT, s STRING)
                 TBLPROPERTIES ('primary-key'='k', 'bucket'='2')""")
    spark.sql("INSERT INTO graft.db.callt VALUES (1,'a'),(2,'b')")
    spark.sql("INSERT INTO graft.db.callt VALUES (2,'b2'),(3,'c')")
    // CALL compact through the parser → Procedures registry
    val res = spark.sql("CALL sys.compact(table => 'graft.db.callt')")
      .collect().map(_.getString(0))
    assert(res.exists(_.contains("compacted")), res.mkString)
    assert(spark.sql("SELECT * FROM graft.db.callt").count() == 3)
    // tag DDL + SHOW TAGS
    spark.sql("ALTER TABLE graft.db.callt CREATE TAG v1 AS OF VERSION 1")
    spark.sql("ALTER TABLE graft.db.callt CREATE TAG tip")
    val tags = spark.sql("SHOW TAGS graft.db.callt")
      .as[(String, Long)].collect().toMap
    assert(tags("v1") == 1L && tags.contains("tip"))
    // time travel through the tag still works
    assert(spark.sql("SELECT count(*) AS c FROM graft.db.callt VERSION AS OF 'v1'")
      .as[Long].head() == 2L)
    spark.sql("ALTER TABLE graft.db.callt RENAME TAG v1 TO v1_old")
    spark.sql("ALTER TABLE graft.db.callt DELETE TAG tip")
    val tags2 = spark.sql("SHOW TAGS graft.db.callt")
      .as[(String, Long)].collect().toMap
    assert(tags2 == Map("v1_old" -> 1L))
    // CALL with extra args: expire_snapshots retain_last
    val r2 = spark.sql(
      "CALL sys.expire_snapshots(table => 'graft.db.callt', retain_last => 2)")
      .collect().map(_.getString(0))
    assert(r2.exists(_.startsWith("expired")), r2.mkString)
    // ordinary SQL still parses through the delegate
    assert(spark.sql("SELECT 1 + 1").as[Int].head() == 2)
    // branch DDL + SHOW BRANCHES
    spark.sql("ALTER TABLE graft.db.callt CREATE BRANCH dev")
    assert(spark.sql("SHOW BRANCHES graft.db.callt").as[String].collect().toSeq
      == Seq("dev"))
    spark.sql("ALTER TABLE graft.db.callt DELETE BRANCH dev")
    assert(spark.sql("SHOW BRANCHES graft.db.callt").count() == 0)
  }

  test("consumer-mode stream: durable cursor advances on commit, restart resumes") {
    val loc = tmpLoc("consumer-stream")
    val df = Seq((1L, "a")).toDF("k", "s")
    val t = GraftTable.create(spark, loc, df.schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1))
    t.write(df)                                 // snap 1
    t.write(Seq((2L, "b")).toDF("k", "s"))      // snap 2
    graft.core.Consumers.reset(t, "c1", Some(2L)) // cursor: next = snapshot 2
    val st = new graft.dsv2.GraftMicroBatchStream(t, tmpLoc("ck2"),
      Map("consumer-id" -> "c1"))
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val o0 = st.initialOffset()
    assert(o0.asInstanceOf[graft.dsv2.GraftOffset].snapshotId == 1L,
      "consumer cursor decides the start")
    val o1 = st.latestOffset(o0, ReadLimit.allAvailable())
    assert(o1.asInstanceOf[graft.dsv2.GraftOffset].snapshotId == 2L)
    st.commit(o1)
    // durable: a NEW stream instance resumes from the committed cursor
    val st2 = new graft.dsv2.GraftMicroBatchStream(t, tmpLoc("ck3"),
      Map("consumer-id" -> "c1"))
    assert(st2.initialOffset().asInstanceOf[graft.dsv2.GraftOffset].snapshotId == 2L)
    assert(graft.core.Consumers.get(t, "c1").map(_.nextSnapshot).contains(3L))
    // consumer.ignore-progress: the stored cursor is ignored at startup
    // (scan mode decides), while commits keep advancing it
    val st3 = new graft.dsv2.GraftMicroBatchStream(t, tmpLoc("ck4"),
      Map("consumer-id" -> "c1", "consumer.ignore-progress" -> "true",
        "scan.mode" -> "from-snapshot", "scan.snapshot-id" -> "1"))
    assert(st3.initialOffset().asInstanceOf[graft.dsv2.GraftOffset].snapshotId == 0L,
      "ignore-progress must start from the scan mode, not the cursor")
  }

  test("incremental-between read option; substring predicate transform prunes") {
    val loc = tmpLoc("incr-opt")
    val df1 = Seq((1L, "aaa1"), (2L, "bbb2")).toDF("k", "s")
    val t = GraftTable.create(spark, loc, df1.schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1))
    t.write(df1)                                          // snap 1
    t.write(Seq((2L, "bbb2x"), (3L, "ccc3")).toDF("k", "s")) // snap 2
    val inc = spark.read.format("graft")
      .option("incremental-between", "1,2").load(loc)
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    assert(inc == Seq((2L, "bbb2x"), (3L, "ccc3")))
    // same range addressed by TAG names (paimon incremental-between tags)
    t.sm.createTag("base", 1); t.sm.createTag("head", 2)
    val incTag = spark.read.format("graft")
      .option("incremental-between", "base,head").load(loc)
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    assert(incTag == inc)
    // substring(c,1,n) = v prunes through the startsWith transform: two
    // APPEND-table files hold disjoint s-prefixes (value-column pruning is
    // merge-safe only where rows are final, so the PK table above would
    // rightly NOT prune on s)
    val loc2 = tmpLoc("incr-opt-append")
    val a = GraftTable.create(spark, loc2, df1.schema, TableConfig())
    a.write(Seq((1L, "aaa1"), (2L, "abb2")).toDF("k", "s"))
    a.write(Seq((3L, "bbb3"), (4L, "ccc4")).toDF("k", "s"))
    val planned = a.planFiles(filter =
      Some(org.apache.spark.sql.functions.expr("substring(s, 1, 3) = 'aaa'")))
    assert(planned.size == 1, s"expected 1 file, got ${planned.size}")
  }

  test("catalog lambda functions: create, call in SQL, drop") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("""CALL sys.create_function(name => 'graft.db.first3',
                 lambda => 'x STRING -> substr(x, 1, 3)')""")
    spark.sql("""CALL sys.create_function(name => 'graft.db.taxed',
                 lambda => 'p DOUBLE, rate DOUBLE -> round(p * (1.0 + rate), 2)')""")
    assert(spark.sql("SELECT graft.db.first3('hello')").as[String].head() == "hel")
    assert(spark.sql("SELECT graft.db.taxed(100.0, 0.2)").as[Double].head() == 120.0)
    // over real rows, mixed with builtins
    spark.sql("CREATE TABLE IF NOT EXISTS graft.db.fnt (s STRING, p DOUBLE)")
    spark.sql("INSERT INTO graft.db.fnt VALUES ('alpha', 10.0), ('beta', 20.0)")
    val rows = spark.sql(
      "SELECT graft.db.first3(s) AS s3, graft.db.taxed(p, 0.1) AS t FROM graft.db.fnt ORDER BY s3")
      .as[(String, Double)].collect().toSeq
    assert(rows == Seq(("alp", 11.0), ("bet", 22.0)))
    val listed = spark.sql("CALL sys.list_functions(database => 'graft.db')")
      .as[String].collect().toSeq
    assert(listed == Seq("first3", "taxed"))
    spark.sql("CALL sys.drop_function(name => 'graft.db.first3')")
    intercept[Exception] { spark.sql("SELECT graft.db.first3('x')").collect() }
  }

  test("procedure long tail: expire_changelogs, partition markers, compact_database") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("""CREATE TABLE IF NOT EXISTS graft.db.lt (k BIGINT, s STRING)
                 TBLPROPERTIES ('primary-key'='k', 'bucket'='1',
                                'changelog-producer'='lookup')""")
    spark.sql("INSERT INTO graft.db.lt VALUES (1,'a')")
    spark.sql("INSERT INTO graft.db.lt VALUES (1,'a2'),(2,'b')")
    val t = GraftTable.load(spark, s"$wh/db.db/lt")
    assert(t.sm.readSnapshot(2L).changelogFiles.nonEmpty)
    // expire changelogs up to snapshot 2 → files gone, changelog() still
    // correct via the diff fallback
    spark.sql("CALL sys.expire_changelogs(table => 'graft.db.lt', older_than_snapshot => 2)")
    val fs = t.sm.fs
    assert(t.sm.readSnapshot(2L).changelogFiles
      .forall(p => !fs.exists(new org.apache.hadoop.fs.Path(t.location, p))))
    assert(t.changelog(1L, 2L).count() == 3) // -U, +U, +I via exact diff
    // partition markers
    spark.sql("CALL sys.mark_partition_done(table => 'graft.db.lt', partition => 'p1')")
    val done = spark.sql(
      "CALL sys.is_partition_done(table => 'graft.db.lt', partition => 'p1')")
      .as[String].head()
    assert(done == "true")
    // compact_database sweeps every table of the db
    val res = spark.sql("CALL sys.compact_database(database => 'graft.db')")
      .as[String].collect().toSeq
    assert(res.exists(r => r.startsWith("lt:") && r.contains("compacted")), res.mkString("; "))
  }

  test("compact_database: including/excluding table patterns select the fleet subset") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.cdb")
    Seq("ods_a", "ods_b", "dim_c").foreach { n =>
      spark.sql(s"""CREATE TABLE IF NOT EXISTS graft.cdb.$n (k BIGINT, s STRING)
                    TBLPROPERTIES ('primary-key'='k', 'bucket'='1')""")
      spark.sql(s"INSERT INTO graft.cdb.$n VALUES (1,'a')")
      spark.sql(s"INSERT INTO graft.cdb.$n VALUES (1,'a2')")
    }
    // including ods_.* but excluding ods_b → exactly ods_a compacts
    val res = spark.sql(
      """CALL sys.compact_database(database => 'graft.cdb',
        |  including_tables => 'ods_.*', excluding_tables => 'ods_b')""".stripMargin)
      .as[String].collect().toSeq
    assert(res.length == 1 && res.head.startsWith("ods_a:") &&
      res.head.contains("compacted"), res.mkString("; "))
    // untouched tables still have only their two write snapshots
    assert(GraftTable.load(spark, s"$wh/cdb.db/ods_b").sm.snapshotIds.max == 2L)
    assert(GraftTable.load(spark, s"$wh/cdb.db/dim_c").sm.snapshotIds.max == 2L)
    assert(GraftTable.load(spark, s"$wh/cdb.db/ods_a").sm.snapshotIds.max == 3L)
    // no match → explicit no-op row
    val none = spark.sql(
      "CALL sys.compact_database(database => 'graft.cdb', including_tables => 'nope.*')")
      .as[String].collect().toSeq
    assert(none == Seq("no tables matched"))
    // '|' alternation INSIDE one regex (the reference compiles the whole
    // string as a single pattern): (ods|dim)_.* selects all three
    val alt = spark.sql(
      """CALL sys.compact_database(database => 'graft.cdb',
        |  including_tables => '(ods|dim)_.*')""".stripMargin)
      .as[String].collect().toSeq
    assert(alt.map(_.takeWhile(_ != ':')).sorted == Seq("dim_c", "ods_a", "ods_b"),
      alt.mkString("; "))
  }

  test("global system tables: sys.all_tables / all_table_options / all_partitions") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE IF NOT EXISTS graft.db.gst (k BIGINT, s STRING)")
    spark.sql("INSERT INTO graft.db.gst VALUES (1,'a'),(2,'b')")
    val tables = spark.sql(
      "SELECT table_name, total_records FROM graft.sys.all_tables WHERE database = 'db'")
      .as[(String, Long)].collect().toMap
    assert(tables.get("gst").contains(2L))
    val opts = spark.sql(
      """SELECT value FROM graft.sys.all_table_options
         WHERE database = 'db' AND table_name = 'gst' AND key = 'bucket'""")
      .as[String].collect().toSeq
    assert(opts == Seq("4"))
    val parts = spark.sql(
      "SELECT row_count FROM graft.sys.all_partitions WHERE table_name = 'gst'")
      .as[Long].collect().sum
    assert(parts == 2L)
    val copts = spark.sql("SELECT key, value FROM graft.sys.catalog_options")
      .as[(String, String)].collect().toMap
    assert(copts.contains("warehouse") && !copts.contains("password"))
  }

  test("format tables: catalog-registered csv dir, SQL insert + select") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("DROP TABLE IF EXISTS graft.db.fmt_csv")
    spark.sql("""CREATE TABLE graft.db.fmt_csv (k BIGINT, s STRING)
      TBLPROPERTIES ('type'='format-table', 'file.format'='csv')""")
    spark.sql("INSERT INTO graft.db.fmt_csv VALUES (1,'a'),(2,'b')")
    spark.sql("INSERT INTO graft.db.fmt_csv VALUES (3,'c')")
    assert(spark.sql("SELECT k, s FROM graft.db.fmt_csv ORDER BY k")
      .as[(Long, String)].collect().toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // the data really is raw csv on disk, and the table lists in the catalog
    assert(spark.sql("SHOW TABLES IN graft.db").collect()
      .map(_.getString(1)).contains("fmt_csv"))
    val loc = spark.conf.get("spark.sql.catalog.graft.warehouse") + "/db.db/fmt_csv/data"
    val raw = spark.read.schema("k BIGINT, s STRING").csv(loc)
    assert(raw.count() == 3)
  }

  test("streaming scan modes: compacted-full and from-snapshot-full start points") {
    val loc = tmpLoc("scanmodes")
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    val t = GraftTable.create(spark, loc, df.schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1))
    t.write(df)                                        // snap 1
    import graft.core.RowOps._
    t.compact()                                        // snap 2 (COMPACT)
    t.write(Seq((3L, "c")).toDF("k", "s"))             // snap 3
    def stream(opts: Map[String, String]) =
      new graft.dsv2.GraftMicroBatchStream(t, tmpLoc("ck"), opts)
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    // compacted-full: full state pinned at the COMPACT snapshot (2), then deltas
    val cf = stream(Map("scan.mode" -> "compacted-full"))
    val o0 = cf.initialOffset()
    val o1 = cf.latestOffset(o0, ReadLimit.allAvailable())
    assert(o1.asInstanceOf[graft.dsv2.GraftOffset].snapshotId == 2L)
    assert(cf.planInputPartitions(o0, o1).length == 1) // the compacted file
    val o2 = cf.latestOffset(o1, ReadLimit.allAvailable())
    assert(o2.asInstanceOf[graft.dsv2.GraftOffset].snapshotId == 3L)
    // from-snapshot-full: full state at snapshot 1
    val sf = stream(Map("scan.mode" -> "from-snapshot-full", "scan.snapshot-id" -> "1"))
    val s0 = sf.initialOffset()
    val s1 = sf.latestOffset(s0, ReadLimit.allAvailable())
    assert(s1.asInstanceOf[graft.dsv2.GraftOffset].snapshotId == 1L)
    assert(sf.planInputPartitions(s0, s1).nonEmpty)
  }

  test("runtime filtering (DPP): selective dim join re-prunes fact files at runtime") {
    val loc = tmpLoc("dpp-fact")
    val df = spark.range(1000).select(
      (col("id") % 10).cast("int").as("p"),
      col("id").as("v"))
    val t = GraftTable.create(spark, loc, df.schema,
      TableConfig(partitionKeys = Seq("p")))
    t.write(df.repartition(2))
    import graft.core.RowOps._
    t.compact()
    val total = t.planFiles().size
    assert(total >= 10, s"want >=10 files (one per partition), got $total")
    withSQLConf(
      "spark.sql.adaptive.enabled" -> "false", // plan introspection below
      "spark.sql.optimizer.dynamicPartitionPruning.enabled" -> "true") {
      val fact = spark.read.format("graft").load(loc)
      // dim must be a real source (a local relation folds the filter away
      // and PartitionPruning finds no selective predicate to prune with)
      val dimPath = tmpLoc("dpp-dim")
      Seq((3, "x"), (7, "y")).toDF("p", "tag").write.parquet(dimPath)
      val dim = spark.read.parquet(dimPath)
      val j = fact.join(dim, "p").where(col("tag") === "x")
        .agg(count(lit(1)).as("cnt"), sum("v").as("s"))
      val row = j.collect().head // execute THIS plan (scan.filter runs lazily in it)
      assert(row.getLong(0) == 100)
      assert(row.getLong(1) == (0 until 1000).filter(_ % 10 == 3).map(_.toLong).sum)
      // the fact scan must have been runtime-filtered down to partition 3
      import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
      val scans = j.queryExecution.executedPlan.collect {
        case b: BatchScanExec if b.scan.isInstanceOf[graft.dsv2.GraftBatchScan] =>
          b.scan.asInstanceOf[graft.dsv2.GraftBatchScan]
      }
      assert(scans.nonEmpty, "native fact scan not found in plan")
      assert(j.queryExecution.executedPlan.toString.contains("dynamicpruning"),
        "expected a dynamic pruning subquery on the fact scan")
      val pruned = scans.map(_.plannedEntryCount).min
      assert(pruned < total, s"DPP did not prune: $pruned of $total files survived")
    }
  }

  test("scan metrics: each scan of a self-join reports its own skipped files") {
    val loc = tmpLoc("skip-self")
    val df0 = spark.range(400).select((col("id") % 4).cast("int").as("p"), col("id").as("k"))
    val t = GraftTable.create(spark, loc, df0.schema,
      TableConfig(partitionKeys = Seq("p"), numBuckets = 1))
    t.write(df0)
    val live = t.planFiles().size
    val keepA = t.planFiles(None, Some(col("p") === 0)).size
    val keepB = t.planFiles(None, Some(col("p") <= 2)).size
    assert(keepA < keepB && keepB < live, (keepA, keepB, live))
    val all = spark.read.format("graft").load(loc)
    val j = all.filter(col("p") === 0).as("a")
      .join(all.filter(col("p") <= 2).as("b"), Seq("k"))
    assert(j.collect().length == 100) // runs THIS plan, whose nodes hold the metrics
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val skipped = helper.collect(j.queryExecution.executedPlan) {
      case b: BatchScanExec if b.scan.isInstanceOf[graft.dsv2.GraftBatchScan] =>
        b.metrics("skippedFiles").value
    }
    assert(skipped.sorted == Seq(live - keepB, live - keepA).map(_.toLong), skipped)
  }

  test("deletion vectors apply inside the native columnar scan (no V1 fallback)") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("""CREATE TABLE graft.db.dvnat (k BIGINT, s STRING, p DOUBLE)
                 TBLPROPERTIES ('primary-key'='k', 'bucket'='2')""")
    spark.sql("""INSERT INTO graft.db.dvnat
                 SELECT id, concat('s', id), id * 1.0 FROM range(1000)""")
    import graft.core.RowOps._
    val t = GraftTable.load(spark, s"$wh/db.db/dvnat")
    t.compact()
    t.deleteDv(col("k") % 10 === 3) // 100 rows across both buckets
    val df = spark.sql("SELECT k, s FROM graft.db.dvnat")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BatchScan"), s"expected native BatchScan with DVs:\n$plan")
    assert(!plan.contains("RDDScan"), s"RDD fallback still present:\n$plan")
    // an outstanding DV must NOT de-vectorize the scan: every file (clean
    // or DV'd) reads columnar; deleted positions drop inside the batch via
    // position-remapping vector views
    val dvScans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(dvScans.nonEmpty && dvScans.forall(_.supportsColumnar),
      s"DV'd table scan fell back to row-based reads:\n$plan")
    assert(df.count() == 900)
    assert(df.filter("k % 10 = 3").count() == 0)
    // second vector touching the same files: bitmaps grow, reads stay exact
    t.deleteDv(col("k") === 4)
    assert(spark.sql("SELECT count(*) AS c FROM graft.db.dvnat").as[Long].head() == 899L)
    // filter + projection through the no-pushdown DV delegate stays correct
    val got = spark.sql("SELECT sum(p) FROM graft.db.dvnat WHERE k < 100").as[Double].head()
    val want = (0 until 100).filter(k => k % 10 != 3 && k != 4).map(_.toDouble).sum
    assert(got == want)
    // LIMIT returns the full requested row count despite manifests
    // overcounting DV-deleted rows (file-truncation pruning must be off)
    assert(spark.sql("SELECT * FROM graft.db.dvnat LIMIT 895").count() == 895)
    // compaction materializes the vectors; scan flips back to columnar
    t.compact()
    assert(spark.sql("SELECT count(*) AS c FROM graft.db.dvnat").as[Long].head() == 899L)
  }

  test("file-index row selections ride the native scan's DV skip path") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("DROP TABLE IF EXISTS graft.db.fidx")
    spark.sql("""CREATE TABLE graft.db.fidx (k BIGINT, animal STRING)
                 TBLPROPERTIES ('file-index.bitmap.columns'='animal')""")
    spark.sql("INSERT INTO graft.db.fidx VALUES (1,'ant'),(99,'zebra')")
    spark.sql("INSERT INTO graft.db.fidx SELECT id, 'cow' FROM range(2, 51)")
    spark.sql("INSERT INTO graft.db.fidx VALUES (51,'ox')")
    val got = spark.sql("SELECT k FROM graft.db.fidx WHERE animal = 'ox'")
    assert(got.as[Long].collect().toSeq == Seq(51L))
    // plan stays on the native scan shell (row-based while skips outstanding)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("BatchScan"), s"expected native BatchScan:\n$plan")
  }

  test("catalog views: CREATE VIEW, query, dialects, SHOW VIEWS, rename, drop") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.vdb")
    spark.sql("""CREATE TABLE graft.vdb.base (k BIGINT, v DOUBLE)
                 TBLPROPERTIES ('primary-key'='k', 'bucket'='2')""")
    spark.sql("INSERT INTO graft.vdb.base VALUES (1,10.0),(2,20.0),(3,30.0)")
    spark.sql("CREATE VIEW graft.vdb.big AS SELECT k, v FROM graft.vdb.base WHERE v > 15.0")
    val got = spark.sql("SELECT k FROM graft.vdb.big ORDER BY k").as[Long].collect().toSeq
    assert(got == Seq(2L, 3L))
    // view survives a fresh catalog instance (persisted definition)
    assert(spark.sql("SHOW VIEWS IN graft.vdb").collect()
      .map(_.getString(1)).contains("big"))
    // per-engine dialect: the spark dialect overrides the stored query
    spark.sql("""CALL sys.alter_view_dialect(view => 'graft.vdb.big',
      action => 'add', engine => 'spark',
      query => 'SELECT k, v FROM graft.vdb.base WHERE v > 25.0')""")
    assert(spark.sql("SELECT k FROM graft.vdb.big").as[Long].collect().toSeq == Seq(3L))
    spark.sql("""CALL sys.alter_view_dialect(view => 'graft.vdb.big',
      action => 'drop', engine => 'spark')""")
    assert(spark.sql("SELECT count(*) FROM graft.vdb.big").head().getLong(0) == 2)
    spark.sql("ALTER VIEW graft.vdb.big RENAME TO graft.vdb.big2")
    assert(spark.sql("SELECT count(*) FROM graft.vdb.big2").head().getLong(0) == 2)
    spark.sql("DROP VIEW graft.vdb.big2")
    assert(spark.sql("SHOW VIEWS IN graft.vdb").collect().isEmpty)
  }

  test("alter_function replaces a lambda; migrate_database imports a directory") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mdb")
    spark.sql("CALL sys.create_function(name => 'graft.mdb.tri', lambda => 'x INT -> x * 3')")
    assert(spark.sql("SELECT graft.mdb.tri(7)").head().getInt(0) == 21)
    spark.sql("CALL sys.alter_function(name => 'graft.mdb.tri', lambda => 'x INT -> x * 4')")
    assert(spark.sql("SELECT graft.mdb.tri(7)").head().getInt(0) == 28)
    // migrate_database: two raw parquet dirs become graft tables
    val src = java.nio.file.Files.createTempDirectory("graft-mig").toString
    spark.range(5).toDF("a").write.parquet(s"$src/t_one")
    spark.range(3).select(col("id").as("b")).write.parquet(s"$src/t_two")
    spark.sql(s"CALL sys.migrate_database(database => 'graft.mdb', source => '$src')")
    assert(spark.sql("SELECT count(*) FROM graft.mdb.t_one").head().getLong(0) == 5)
    assert(spark.sql("SELECT count(*) FROM graft.mdb.t_two").head().getLong(0) == 3)
  }

  test("privilege system: init, grants, enforcement, read-only handles") {
    val whp = Files.createTempDirectory("graft-priv-wh").toString
    def reg(cat: String, user: String, pw: String): Unit = {
      spark.conf.set(s"spark.sql.catalog.$cat", "graft.dsv2.GraftCatalog")
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", whp)
      spark.conf.set(s"spark.sql.catalog.$cat.user", user)
      spark.conf.set(s"spark.sql.catalog.$cat.password", pw)
    }
    def denied(f: => Any): String =
      try { f; fail("expected a privilege error") }
      catch { case e: Throwable =>
        val msg = Seq(e.getMessage) ++ Option(e.getCause).map(_.getMessage)
        msg.flatMap(Option(_)).mkString("; ") }
    reg("gp_root", "root", "rootpw")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gp_root.db")
    spark.sql("CREATE TABLE gp_root.db.sec (k BIGINT, v STRING)")
    spark.sql("INSERT INTO gp_root.db.sec VALUES (1,'a')")
    spark.sql("CALL sys.init_file_based_privilege(catalog => 'gp_root', root_password => 'rootpw')")
    spark.sql("CALL sys.create_privileged_user(catalog => 'gp_root', name => 'bob', password => 'bobpw')")
    spark.sql("CALL sys.grant_privilege_to_user(catalog => 'gp_root', name => 'bob', privilege => 'SELECT', database => 'db')")
    // root retains everything
    assert(spark.sql("SELECT count(*) FROM gp_root.db.sec").head().getLong(0) == 1)
    // bob: SELECT works, INSERT and DROP denied
    reg("gp_bob", "bob", "bobpw")
    assert(spark.sql("SELECT count(*) FROM gp_bob.db.sec").head().getLong(0) == 1)
    assert(denied(spark.sql("INSERT INTO gp_bob.db.sec VALUES (2,'b')"))
      .contains("INSERT"))
    assert(denied(spark.sql("DROP TABLE gp_bob.db.sec")).contains("DROP_TABLE"))
    // bob cannot administer users
    assert(denied(spark.sql(
      "CALL sys.create_privileged_user(catalog => 'gp_bob', name => 'eve', password => 'x')"))
      .contains("ADMIN"))
    // namespace DDL is privilege-gated too
    assert(denied(spark.sql("CREATE NAMESPACE gp_bob.newdb"))
      .contains("CREATE_DATABASE"))
    assert(denied(spark.sql("DROP NAMESPACE gp_bob.db CASCADE"))
      .contains("DROP_DATABASE"))
    // wrong password is rejected outright
    reg("gp_eve", "bob", "wrong")
    assert(denied(spark.sql("SELECT count(*) FROM gp_eve.db.sec"))
      .contains("password"))
    // granting INSERT upgrades bob's handle to writable
    spark.sql("CALL sys.grant_privilege_to_user(catalog => 'gp_root', name => 'bob', privilege => 'INSERT', database => 'db', table => 'sec')")
    spark.sql("INSERT INTO gp_bob.db.sec VALUES (2,'b')")
    assert(spark.sql("SELECT count(*) FROM gp_bob.db.sec").head().getLong(0) == 2)
    // revoke puts it back
    spark.sql("CALL sys.revoke_privilege_from_user(catalog => 'gp_root', name => 'bob', privilege => 'INSERT', database => 'db', table => 'sec')")
    assert(denied(spark.sql("INSERT INTO gp_bob.db.sec VALUES (3,'c')"))
      .contains("INSERT"))
  }

  test("blob descriptor SQL functions: path_to_descriptor, to_string, presigned url") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db") // triggers registration
    val f = Files.createTempFile("graft-blobfn", ".bin")
    Files.write(f, Array[Byte](1, 2, 3, 4, 5))
    val row = spark.sql(
      s"""SELECT graft_descriptor_to_string(d) AS s,
         |       graft_descriptor_to_presigned_url(d, 300) AS url,
         |       graft_try_descriptor_to_presigned_url(d, -1) AS bad,
         |       graft_read_blob(d) AS bytes
         |FROM (SELECT graft_path_to_descriptor('${f.toString}') AS d)""".stripMargin)
      .head()
    assert(row.getString(0).contains("length=5"), row.getString(0))
    // a REAL presigned URL: HMAC-SHA256 query-string signed against the
    // session's configured base + secret, statelessly validatable
    val url = row.getString(1)
    assert(url.startsWith("https://blob.example.com/"), url)
    assert(url.contains("X-Graft-Signature="), url)
    val now = System.currentTimeMillis() / 1000
    assert(graft.pipeline.Blob.validatePresignedUrl(
      url, "graft-dev-secret", now).isEmpty, url)
    assert(row.isNullAt(2), "try_ variant maps errors to NULL")
    assert(row.getAs[Array[Byte]](3).toSeq == Seq[Byte](1, 2, 3, 4, 5))
    // non-try variant fails loudly on bad validity
    intercept[Exception] {
      spark.sql("SELECT graft_descriptor_to_presigned_url(" +
        s"graft_path_to_descriptor('${f.toString}'), 0)").collect()
    }
  }

  test("presigned url signing: validation, tamper rejection, expiry rejection") {
    import graft.pipeline.Blob
    val (base, secret) = ("https://byteserver.example.com", "s3cr3t")
    val url = Blob.signPresignedUrl(base, secret, "file:/data/blob/b-01.bin",
      offset = 4096, length = 1024, validitySeconds = 300,
      issuedAtEpochSec = 1700000000L)
    // accepted inside the window
    assert(Blob.validatePresignedUrl(url, secret, 1700000100L).isEmpty)
    assert(Blob.validatePresignedUrl(url, secret, 1700000300L).isEmpty,
      "boundary instant is still valid")
    // expiry: one second past issued-at + validity
    assert(Blob.validatePresignedUrl(url, secret, 1700000301L)
      .contains("expired"))
    // wrong secret
    assert(Blob.validatePresignedUrl(url, "other", 1700000100L)
      .contains("signature mismatch"))
    // tampering with ANY signed parameter invalidates: widen the range
    val tampered = url.replace("X-Graft-Length=1024", "X-Graft-Length=999999")
    assert(Blob.validatePresignedUrl(tampered, secret, 1700000100L)
      .contains("signature mismatch"))
    // tampering with the validity window (signed too) is rejected
    val extended = url.replace("X-Graft-Expires=300", "X-Graft-Expires=86400")
    assert(Blob.validatePresignedUrl(extended, secret, 1700000100L)
      .contains("signature mismatch"))
    // tampering with the object path is rejected
    val moved = url.replace("b-01.bin", "b-02.bin")
    assert(Blob.validatePresignedUrl(moved, secret, 1700000100L)
      .contains("signature mismatch"))
    // a garbage url is a malformed rejection, not an exception
    assert(Blob.validatePresignedUrl("https://x/y", secret, 0L).nonEmpty)
    // future-dated URLs are rejected (signer clock error) — but small skew
    // inside the tolerance window still validates
    assert(Blob.validatePresignedUrl(url, secret,
      1700000000L - Blob.PresignSkewToleranceSec).isEmpty,
      "within clock-skew tolerance")
    assert(Blob.validatePresignedUrl(url, secret,
      1700000000L - Blob.PresignSkewToleranceSec - 1)
      .contains("not yet valid (future-dated)"))
  }

  test("presign conf is re-read at query time (spark.-prefixed spelling)") {
    import graft.pipeline.Blob
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db") // triggers registration
    val f = Files.createTempFile("graft-blobconf", ".bin")
    Files.write(f, Array[Byte](9, 8, 7))
    def sign(): String = spark.sql(
      s"""SELECT graft_descriptor_to_presigned_url(
         |  graft_path_to_descriptor('${f.toString}'), 300)""".stripMargin)
      .head.getString(0)
    val now = System.currentTimeMillis() / 1000
    // default secret first (registration-time fallback)
    assert(Blob.validatePresignedUrl(sign(), "graft-dev-secret", now).isEmpty)
    // setting the spark.-prefixed conf AFTER registration must take effect
    // on the very next query — no re-registration, no silent stale secret
    try {
      spark.conf.set("spark.graft.blob.presign.secret", "rotated-secret")
      spark.conf.set("spark.graft.blob.presign.base-url",
        "https://rotated.example.com")
      val rotated = sign()
      assert(rotated.startsWith("https://rotated.example.com/"), rotated)
      assert(Blob.validatePresignedUrl(rotated, "rotated-secret", now).isEmpty)
      assert(Blob.validatePresignedUrl(rotated, "graft-dev-secret", now)
        .contains("signature mismatch"))
    } finally {
      spark.conf.unset("spark.graft.blob.presign.secret")
      spark.conf.unset("spark.graft.blob.presign.base-url")
    }
  }

  test("COPY INTO: csv import with history/PATTERN/SKIP_FILE, export round-trip") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.copyt (k BIGINT, v STRING)")
    val srcDir = Files.createTempDirectory("graft-copyin").toFile
    def put(name: String, content: String): Unit = {
      val w = new java.io.FileWriter(new java.io.File(srcDir, name))
      try w.write(content) finally w.close()
    }
    put("a.csv", "k|v\n1|x\n2|y\n")
    put("b.csv", "k|v\n3|z\n")
    put("notes.txt", "not a data file")
    val stmt =
      s"""COPY INTO graft.db.copyt FROM '${srcDir.getAbsolutePath}'
         |FILE_FORMAT = (TYPE = CSV, SKIP_HEADER = 1, FIELD_DELIMITER = '|')
         |PATTERN = '.*\\.csv'""".stripMargin
    spark.sql(stmt).collect()
    assert(spark.sql("SELECT count(*) FROM graft.db.copyt").head().getLong(0) == 3)
    // re-run: load history skips everything
    val again = spark.sql(stmt).head().getString(0)
    assert(again.contains("0 files to load"), again)
    assert(spark.sql("SELECT count(*) FROM graft.db.copyt").head().getLong(0) == 3)
    // a NEW file loads incrementally; a malformed one is skipped per-file
    put("c.csv", "k|v\n4|w\n")
    put("bad.csv", "k|v\nnot-a-number|oops\n")
    val res = spark.sql(stmt.replace("PATTERN", "ON_ERROR = SKIP_FILE\nPATTERN"))
      .collect().map(_.getString(0))
    assert(res.exists(_.contains("skipped")), res.mkString("; "))
    assert(spark.sql("SELECT count(*) FROM graft.db.copyt").head().getLong(0) == 4)
    // RE-UPLOAD: same file name, new content — the history keys on
    // (path, length, mtime) like the reference, so it must reload
    Thread.sleep(1100) // local-fs mtime granularity can be 1s
    put("c.csv", "k|v\n5|u\n6|t\n7|s\n")
    // (still under SKIP_FILE: bad.csv was never loaded, so it re-skips)
    val reup = spark.sql(stmt.replace("PATTERN", "ON_ERROR = SKIP_FILE\nPATTERN"))
      .head().getString(0)
    assert(reup.contains("loaded 1 files"), reup)
    assert(spark.sql("SELECT count(*) FROM graft.db.copyt").head().getLong(0) == 7)
    // export with header, then read back; the row-count report rides the
    // write as an observation (one pass)
    val outDir = Files.createTempDirectory("graft-copyout").toString + "/out"
    val exported = spark.sql(
      s"""COPY INTO '$outDir' FROM (SELECT k, v FROM graft.db.copyt WHERE k <= 2)
         |FILE_FORMAT = (TYPE = CSV, HEADER = TRUE)
         |OVERWRITE = TRUE""".stripMargin).head().getString(0)
    assert(exported.contains("exported 2 rows"), exported)
    val back = spark.read.option("header", "true").csv(outDir)
    assert(back.count() == 2)
    assert(back.columns.toSeq == Seq("k", "v"))
    spark.sql("DROP TABLE graft.db.copyt")
  }

  test("SET spark.graft.* session option overrides (global + per-table)") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("""CREATE TABLE graft.db.soverride (k BIGINT, v STRING)
                 TBLPROPERTIES ('primary-key'='k', 'bucket'='1')""")
    spark.sql("INSERT INTO graft.db.soverride VALUES (1,'a')")
    spark.sql("INSERT INTO graft.db.soverride VALUES (2,'b')")
    def cnt: Long = spark.sql("SELECT count(*) FROM graft.db.soverride").head().getLong(0)
    assert(cnt == 2)
    try {
      // per-table scope pins the snapshot without touching the query
      spark.conf.set("spark.graft.db.soverride.scan.snapshot-id", "1")
      assert(cnt == 1)
    } finally spark.conf.unset("spark.graft.db.soverride.scan.snapshot-id")
    assert(cnt == 2)
    try {
      // global scope applies to every graft table of the session
      spark.conf.set("spark.graft.scan.snapshot-id", "1")
      assert(cnt == 1)
    } finally spark.conf.unset("spark.graft.scan.snapshot-id")
    assert(cnt == 2)
    // reference full form with wildcards (auxiliary.md: SET
    // spark.paimon.${catalog}.${db}.${table}.${key}, parts may be *)
    Seq("spark.graft.*.db.soverride.scan.snapshot-id",
        "spark.graft.*.*.soverride.scan.snapshot-id",
        "spark.graft.graft.db.soverride.scan.snapshot-id").foreach { k =>
      try {
        spark.conf.set(k, "1")
        assert(cnt == 1, s"override via $k")
      } finally spark.conf.unset(k)
      assert(cnt == 2)
    }
    // scoped to a DIFFERENT table: must not leak onto this one
    try {
      spark.conf.set("spark.graft.*.*.othertable.scan.snapshot-id", "1")
      assert(cnt == 2)
    } finally spark.conf.unset("spark.graft.*.*.othertable.scan.snapshot-id")
    // wrong catalog name: must not apply either
    try {
      spark.conf.set("spark.graft.nosuchcat.db.soverride.scan.snapshot-id", "1")
      assert(cnt == 2)
    } finally spark.conf.unset("spark.graft.nosuchcat.db.soverride.scan.snapshot-id")
    // precedence: exact catalog.db.table pin beats a wildcard pin
    try {
      spark.conf.set("spark.graft.*.*.soverride.scan.snapshot-id", "1")
      spark.conf.set("spark.graft.graft.db.soverride.scan.snapshot-id", "2")
      assert(cnt == 2) // snapshot 2 == full table here
    } finally {
      spark.conf.unset("spark.graft.*.*.soverride.scan.snapshot-id")
      spark.conf.unset("spark.graft.graft.db.soverride.scan.snapshot-id")
    }
    // scoped to a DIFFERENT registered catalog: applies there, never here —
    // and never falls through to the global branch as a verbatim option key
    spark.conf.set("spark.sql.catalog.cat2", "graft.dsv2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.cat2.warehouse", wh)
    try {
      spark.conf.set("spark.graft.cat2.db.soverride.scan.snapshot-id", "1")
      assert(cnt == 2, "cat2-scoped key must not touch catalog graft")
      assert(spark.sql("SELECT count(*) FROM cat2.db.soverride").head().getLong(0) == 1,
        "cat2-scoped key must apply inside catalog cat2")
    } finally {
      spark.conf.unset("spark.graft.cat2.db.soverride.scan.snapshot-id")
      spark.conf.unset("spark.sql.catalog.cat2")
      spark.conf.unset("spark.sql.catalog.cat2.warehouse")
    }
    // ADVICE r11: a legacy db.table-scoped key whose DATABASE is named like
    // a registered catalog must still apply — only the full 4-part form
    // carries a catalog qualifier, so the 3-part spelling is unambiguous
    spark.conf.set("spark.sql.catalog.cat3", "graft.dsv2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.cat3.warehouse", wh)
    try {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.cat3")
      spark.sql("""CREATE TABLE graft.cat3.dbclash (k BIGINT)
                   TBLPROPERTIES ('primary-key'='k', 'bucket'='1')""")
      spark.sql("INSERT INTO graft.cat3.dbclash VALUES (1)")
      spark.sql("INSERT INTO graft.cat3.dbclash VALUES (2)")
      def clashCnt = spark.sql("SELECT count(*) FROM graft.cat3.dbclash")
        .head().getLong(0)
      assert(clashCnt == 2)
      try {
        spark.conf.set("spark.graft.cat3.dbclash.scan.snapshot-id", "1")
        assert(clashCnt == 1,
          "db named like a catalog must still receive its db.table-scoped key")
      } finally spark.conf.unset("spark.graft.cat3.dbclash.scan.snapshot-id")
      spark.sql("DROP TABLE graft.cat3.dbclash")
    } finally {
      spark.conf.unset("spark.sql.catalog.cat3")
      spark.conf.unset("spark.sql.catalog.cat3.warehouse")
    }
  }

  test("generic session catalog: spark_catalog serves graft AND parquet tables") {
    val s2 = spark.newSession()
    val wh2 = Files.createTempDirectory("graft-generic-wh").toString
    s2.conf.set("spark.sql.catalog.spark_catalog", "graft.dsv2.GraftGenericCatalog")
    s2.conf.set("spark.sql.catalog.spark_catalog.warehouse", wh2)
    s2.sql("""CREATE TABLE genct (k BIGINT, v STRING) USING graft
              TBLPROPERTIES ('primary-key'='k', 'bucket'='1')""")
    s2.sql("INSERT INTO genct VALUES (1,'a'),(2,'b')")
    s2.sql("INSERT INTO genct VALUES (2,'b2')")
    val got = s2.sql("SELECT k, v FROM genct ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "a"), (2L, "b2")), s"got $got")
    // a plain parquet table lives in the same catalog, untouched
    // (managed location survives an aborted JVM — clear leftovers first)
    s2.sql("DROP TABLE IF EXISTS plainpq")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(s2.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:"), "plainpq"))
    s2.sql("CREATE TABLE plainpq (a INT) USING parquet")
    s2.sql("INSERT INTO plainpq VALUES (7)")
    assert(s2.sql("SELECT a FROM plainpq").head().getInt(0) == 7)
    // both queryable in one statement
    assert(s2.sql(
      "SELECT (SELECT count(*) FROM genct) + (SELECT count(*) FROM plainpq)")
      .head().getLong(0) == 3)
    s2.sql("DROP TABLE genct")
    assert(!s2.catalog.tableExists("genct"))
    s2.sql("DROP TABLE IF EXISTS plainpq")
  }

  test("aggregate pushdown with GROUP BY partition columns (manifest-only)") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("""CREATE TABLE graft.db.aggpt (k BIGINT, v DOUBLE, dt STRING)
                 PARTITIONED BY (dt)""")
    spark.sql("""INSERT INTO graft.db.aggpt VALUES
                 (1,1.0,'d1'),(2,2.0,'d1'),(3,3.0,'d2'),(4,4.0,'d2'),(5,5.0,'d2')""")
    val df = spark.sql(
      "SELECT dt, count(*) AS cnt, max(v) AS mx FROM graft.db.aggpt GROUP BY dt")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GraftAggScan"), s"expected manifest-only agg:\n$plan")
    val got = df.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set(("d1", 2L, 2.0), ("d2", 3L, 5.0)), s"got ${got.mkString(",")}")
    // grouping on a NON-partition column must fall back to a real scan
    val df2 = spark.sql("SELECT k, count(*) AS c FROM graft.db.aggpt GROUP BY k")
    assert(!df2.queryExecution.executedPlan.toString.contains("GraftAggScan"))
    assert(df2.collect().length == 5)
  }

  test("batch time travel via read options: scan.snapshot-id / scan.tag-name") {
    val loc = tmpLoc("optsnap")
    val df1 = Seq((1L, "a")).toDF("k", "v")
    val t = GraftTable.create(spark, loc, df1.schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 1))
    t.write(df1)
    t.sm.createTag("v1", 1)
    t.write(Seq((2L, "b")).toDF("k", "v"))
    assert(spark.read.format("graft").load(loc).count() == 2)
    assert(spark.read.format("graft").option("scan.snapshot-id", "1")
      .load(loc).count() == 1)
    assert(spark.read.format("graft").option("scan.tag-name", "v1")
      .load(loc).count() == 1)
    val ts1 = t.sm.readSnapshot(1).timestampMs
    assert(spark.read.format("graft").option("scan.timestamp-millis", ts1.toString)
      .load(loc).count() == 1)
    // scan.version: tag name wins over a same-looking snapshot id
    assert(spark.read.format("graft").option("scan.version", "v1")
      .load(loc).count() == 1)
    assert(spark.read.format("graft").option("scan.version", "2")
      .load(loc).count() == 2)
    // scan.watermark: EARLIEST snapshot whose watermark >= the value
    // (reference StaticFromWatermarkStartingScanner.timeTravelToWatermark)
    t.write(Seq((3L, "c")).toDF("k", "v"), watermark = Some(500L))
    t.write(Seq((4L, "d")).toDF("k", "v"), watermark = Some(900L))
    assert(spark.read.format("graft").option("scan.watermark", "600")
      .load(loc).count() == 4)
    assert(spark.read.format("graft").option("scan.watermark", "500")
      .load(loc).count() == 3)
    val ex = intercept[Exception] {
      spark.read.format("graft").option("scan.watermark", "1000").load(loc).count()
    }
    assert(ex.getMessage.contains("no snapshot later than or equal to watermark"))
  }

  test("ANALYZE column stats reach the DSv2 scan (CBO columnStats)") {
    import graft.core.RowOps._
    val loc = tmpLoc("cbostats")
    val df = Seq((1L, "a"), (2L, "b"), (3L, null.asInstanceOf[String]))
      .toDF("k", "v")
    val t = GraftTable.create(spark, loc, df.schema, TableConfig())
    t.write(df)
    t.analyze()
    val scan = new graft.dsv2.GraftSparkTable(t)
      .newScanBuilder(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        new java.util.HashMap[String, String]()))
      .build()
    val stats = scan.asInstanceOf[graft.dsv2.GraftBatchScan].estimateStatistics()
    assert(stats.numRows().getAsLong == 3L)
    val cs = stats.columnStats()
    assert(!cs.isEmpty, "expected analyzed column stats")
    val vStats = cs.get(org.apache.spark.sql.connector.expressions.Expressions.column("v"))
    assert(vStats.nullCount().getAsLong == 1L)
    assert(vStats.distinctCount().getAsLong >= 2L)
  }

  test("SHOW PARTITIONS / ALTER TABLE DROP PARTITION / TRUNCATE PARTITION") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("""CREATE TABLE graft.db.pmgmt (k BIGINT, v DOUBLE, dt STRING)
                 PARTITIONED BY (dt)""")
    spark.sql("""INSERT INTO graft.db.pmgmt VALUES
                 (1,1.0,'d1'),(2,2.0,'d1'),(3,3.0,'d2'),(4,4.0,'d3')""")
    val parts = spark.sql("SHOW PARTITIONS graft.db.pmgmt")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(parts == Seq("dt=d1", "dt=d2", "dt=d3"), s"got $parts")
    // partial spec listing
    val one = spark.sql("SHOW PARTITIONS graft.db.pmgmt PARTITION (dt='d2')")
      .collect().map(_.getString(0)).toSeq
    assert(one == Seq("dt=d2"))
    // drop = engine metadata-only delete
    spark.sql("ALTER TABLE graft.db.pmgmt DROP PARTITION (dt='d1')")
    assert(spark.sql("SELECT count(*) FROM graft.db.pmgmt").head().getLong(0) == 2)
    assert(spark.sql("SHOW PARTITIONS graft.db.pmgmt")
      .collect().map(_.getString(0)).sorted.toSeq == Seq("dt=d2", "dt=d3"))
    spark.sql("TRUNCATE TABLE graft.db.pmgmt PARTITION (dt='d3')")
    assert(spark.sql("SELECT dt FROM graft.db.pmgmt").as[String].collect().toSeq == Seq("d2"))
  }

  test("DataFrameWriterV2: writeTo append / overwritePartitions / overwrite") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.wv2 (k BIGINT, pt STRING, v DOUBLE) " +
      "USING graft PARTITIONED BY (pt) TBLPROPERTIES ('primary-key'='k,pt')")
    Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "pt", "v")
      .writeTo("graft.db.wv2").append()
    assert(spark.sql("SELECT count(*) FROM graft.db.wv2").head().getLong(0) == 2)
    // dynamic overwrite replaces only partition 'a'
    Seq((9L, "a", 9.0)).toDF("k", "pt", "v")
      .writeTo("graft.db.wv2").overwritePartitions()
    assert(spark.sql("SELECT k, pt FROM graft.db.wv2 ORDER BY k").collect().map(
      r => (r.getLong(0), r.getString(1))).toSeq == Seq((2L, "b"), (9L, "a")))
    // expression overwrite hits the static-partition path
    Seq((5L, "b", 5.0)).toDF("k", "pt", "v")
      .writeTo("graft.db.wv2").overwrite(col("pt") === "b")
    assert(spark.sql("SELECT k FROM graft.db.wv2 WHERE pt='b'").collect()
      .map(_.getLong(0)).toSeq == Seq(5L))
    spark.sql("DROP TABLE graft.db.wv2")
  }

  test("metadata columns: __graft_file_path / row_index / partition / bucket in SQL") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("""CREATE TABLE graft.db.mcols (k BIGINT, v STRING, dt STRING)
                 PARTITIONED BY (dt)
                 TBLPROPERTIES ('primary-key'='k,dt', 'bucket'='2')""")
    spark.sql("""INSERT INTO graft.db.mcols VALUES
                 (1,'a','d1'),(2,'b','d1'),(3,'c','d2'),(4,'d','d2')""")
    val rows = spark.sql(
      """SELECT k, __graft_file_path, __graft_row_index,
                __graft_partition.dt AS pdt, __graft_bucket
         FROM graft.db.mcols ORDER BY k""").collect()
    assert(rows.length == 4)
    rows.foreach { r =>
      assert(r.getString(1) != null && r.getString(1).contains("__bucket="))
      assert(r.getLong(2) >= 0)
      assert(r.getInt(4) >= 0 && r.getInt(4) < 2)
    }
    // partition struct mirrors the data column
    assert(rows.map(r => r.getString(3)).toSeq == Seq("d1", "d1", "d2", "d2"))
    // upsert: the winning row's file is the SECOND commit's file
    val f1 = rows.find(_.getLong(0) == 2L).get.getString(1)
    spark.sql("INSERT INTO graft.db.mcols VALUES (2,'b2','d1')")
    val r2 = spark.sql(
      """SELECT v, __graft_file_path FROM graft.db.mcols WHERE k = 2""").head()
    assert(r2.getString(0) == "b2")
    assert(r2.getString(1) != f1, "merged winner must come from the new file")
  }

  test("pipeline TVFs: graft_chunk / graft_sessionize / graft_minhash_pairs from SQL") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("""CREATE TABLE graft.db.pdocs (doc_id BIGINT, text STRING)""")
    spark.sql("""INSERT INTO graft.db.pdocs VALUES
      (1, 'a b c d e f g h i j'),
      (2, 'the quick brown fox jumps over the lazy dog today'),
      (3, 'the quick brown fox jumps over the lazy dog today extra')""")
    val chunks = spark.sql(
      """SELECT doc_id, __chunk, __n_tok
        |FROM graft_chunk('graft.db.pdocs', 'text', 4, 2)
        |WHERE doc_id = 1 ORDER BY __chunk""".stripMargin).collect()
    assert(chunks.length == 4 && chunks.last.getInt(2) == 4)
    val pairs = spark.sql(
      """SELECT v1, v2 FROM graft_minhash_pairs('graft.db.pdocs',
        |  'doc_id', 'text', 0.5)""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((2L, 3L)))
    spark.sql("""CREATE TABLE graft.db.pev (user_id BIGINT, event_id BIGINT, ts TIMESTAMP)""")
    spark.sql("""INSERT INTO graft.db.pev VALUES
      (1, 1, timestamp'2024-01-01 00:00:00'),
      (1, 2, timestamp'2024-01-01 00:10:00'),
      (1, 3, timestamp'2024-01-01 02:00:00')""")
    val sessions = spark.sql(
      """SELECT event_id, __session
        |FROM graft_sessionize('graft.db.pev', 'user_id', 'ts', 1800000, 'event_id')
        |ORDER BY event_id""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(sessions == Seq((1L, 1L), (2L, 1L), (3L, 2L)))
  }

  test("write.merge-schema through SQL: positional INSERT still lands; byName evolves") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("""CREATE TABLE graft.db.ms (k BIGINT, v INT)
                 TBLPROPERTIES ('primary-key'='k', 'bucket'='1',
                   'write.merge-schema'='true')""")
    // positional VALUES (ACCEPT_ANY_SCHEMA skips output resolution; the
    // builder realigns col1/col2 to the table schema)
    spark.sql("INSERT INTO graft.db.ms VALUES (1, 10), (2, 20)")
    assert(spark.sql("SELECT sum(v) FROM graft.db.ms").head().getLong(0) == 30L)
    // byName batch with an extra column evolves the table
    Seq((3L, 30, "x")).toDF("k", "v", "tag")
      .writeTo("graft.db.ms").append()
    val got = spark.sql("SELECT k, tag FROM graft.db.ms ORDER BY k")
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got == Map(1L -> None, 2L -> None, 3L -> Some("x")))
    // ALTER TABLE SET TBLPROPERTIES persists (schema-version ledger)
    spark.sql("ALTER TABLE graft.db.ms SET TBLPROPERTIES ('write.merge-schema.type-widening'='true')")
    Seq((4L, 4000000000L, "y")).toDF("k", "v", "tag")
      .writeTo("graft.db.ms").append()
    assert(spark.sql("SELECT v FROM graft.db.ms WHERE k = 4")
      .head().getLong(0) == 4000000000L)
  }

  test("small files bin-pack into shared input partitions (per key group)") {
    import graft.core._
    val loc = tmpLoc("dsv2-binpack")
    val t = GraftTable.create(spark, loc,
      Seq((1L, "v")).toDF("k", "v").schema, TableConfig(numBuckets = 1))
    // 12 tiny append commits = 12 files in one bucket
    (1 to 12).foreach(i => t.write(Seq((i.toLong, s"v$i")).toDF("k", "v")))
    assert(t.planFiles().size == 12)
    val df = spark.read.format("graft").load(loc)
    // the scan's RDD partitioning reflects planInputPartitions: 12 tiny
    // files must collapse into far fewer tasks (maxPartitionBytes >> sizes)
    val parts = df.rdd.getNumPartitions
    assert(parts <= 2, s"expected packed input partitions, got $parts")
    assert(df.count() == 12)
    assert(df.select("k").as[Long].collect().toSet == (1L to 12L).toSet)
  }

  test("incremental-between read options: delta / diff / changelog / timestamp / auto-tag") {
    import graft.core._
    import graft.core.RowOps._
    val loc = tmpLoc("dsv2-incr")
    val t = GraftTable.create(spark, loc,
      Seq((1L, "v")).toDF("k", "v").schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 2,
        options = Map("changelog-producer" -> "lookup")))
    t.write(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"))          // s1
    t.write(Seq((2L, "b2"), (4L, "d")).toDF("k", "v"))                    // s2
    t.delete(col("k") === 3L)                                             // s3
    // s4: rewrite key 1 with the SAME value — delta sees it, diff must not
    t.write(Seq((1L, "a")).toDF("k", "v"))                                // s4
    def rd(opts: (String, String)*) = {
      var r = spark.read.format("graft")
      opts.foreach { case (k, v) => r = r.option(k, v) }
      r.load(loc).select("k", "v").as[(Long, String)].collect().toSet
    }
    // delta (1,4]: latest version per key among the deltas, tombstones out
    assert(rd("incremental-between" -> "1,4") ==
      Set((2L, "b2"), (4L, "d"), (1L, "a")))
    // diff of STATES 1→4: changed/new keys only; deletion of 3 and the
    // unchanged rewrite of 1 both vanish
    assert(rd("incremental-between" -> "1,4",
      "incremental-between-scan-mode" -> "diff") == Set((2L, "b2"), (4L, "d")))
    // changelog scan mode: every stored change row (kinds dropped) — the
    // -U and +U of key 2 both appear as rows
    val cl = spark.read.format("graft")
      .option("incremental-between", "1,2")
      .option("incremental-between-scan-mode", "changelog")
      .load(loc).select("k", "v").as[(Long, String)].collect().toSeq
    assert(cl.sorted == Seq((2L, "b"), (2L, "b2"), (4L, "d")))
    // timestamp boundaries bracketing s2's commit time (start resolves to
    // s1 or the earliest-snapshot fallback; end may swallow same-millisecond
    // later snapshots, which only add key 1's rewrite)
    val ts2 = t.sm.readSnapshot(2).timestampMs
    val byTs = rd("incremental-between-timestamp" -> s"${ts2 - 1},$ts2")
    assert(Set((2L, "b2"), (4L, "d")).subsetOf(byTs))
    assert(byTs.subsetOf(Set((2L, "b2"), (4L, "d"), (1L, "a"))))
    // tag endpoints default to DIFF scan mode
    t.sm.createTag("2024-01-01", 1); t.sm.createTag("2024-01-02", 4)
    assert(rd("incremental-between" -> "2024-01-01,2024-01-02") ==
      Set((2L, "b2"), (4L, "d")))
    // incremental-to-auto-tag: previous auto tag inferred by name order
    assert(rd("incremental-to-auto-tag" -> "2024-01-02") ==
      Set((2L, "b2"), (4L, "d")))
    // missing end tag => empty
    assert(rd("incremental-to-auto-tag" -> "2024-03-01").isEmpty)
    // TVF spellings of the same reads
    assert(spark.sql(
      s"SELECT k, v FROM graft_incremental_to_auto_tag('$loc', '2024-01-02')")
      .as[(Long, String)].collect().toSet == Set((2L, "b2"), (4L, "d")))
    val tvfTs = spark.sql(
      s"""SELECT k, v FROM graft_incremental_between_timestamp(
            '$loc', '${ts2 - 1}', '$ts2')""")
      .as[(Long, String)].collect().toSet
    assert(Set((2L, "b2"), (4L, "d")).subsetOf(tvfTs))
  }

  test("branch-scoped SQL handles: read/write t$branch_<b> and its system tables") {
    import graft.core._
    import graft.core.RowOps._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("DROP TABLE IF EXISTS graft.db.brt")
    spark.sql("""CREATE TABLE graft.db.brt (k BIGINT, v STRING)
                 TBLPROPERTIES ('primary-key'='k', 'bucket'='1')""")
    spark.sql("INSERT INTO graft.db.brt VALUES (1,'a'),(2,'b')")
    val t = GraftTable.load(spark, s"$wh/db.db/brt")
    t.createBranch("b1", None)
    // write lands on the branch only
    spark.sql("INSERT INTO graft.db.`brt$branch_b1` VALUES (3,'c-branch')")
    assert(spark.sql("SELECT count(*) FROM graft.db.`brt$branch_b1`")
      .head().getLong(0) == 3)
    assert(spark.sql("SELECT count(*) FROM graft.db.brt").head().getLong(0) == 2)
    // branch system table: its snapshot chain is longer than main's
    val bSnaps = spark.sql(
      "SELECT count(*) FROM graft.db.`brt$branch_b1$snapshots`").head().getLong(0)
    val mSnaps = spark.sql(
      "SELECT count(*) FROM graft.db.`brt$snapshots`").head().getLong(0)
    assert(bSnaps == mSnaps + 1, s"branch $bSnaps vs main $mSnaps")
  }

  test("merge-on-read inside the scan: zero exchanges, filter shadowing, tombstones, DVs") {
    import graft.core._
    import graft.core.RowOps._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("DROP TABLE IF EXISTS graft.db.mor1")
    spark.sql("""CREATE TABLE graft.db.mor1 (k BIGINT, v STRING, p DOUBLE)
                 TBLPROPERTIES ('primary-key'='k', 'bucket'='2')""")
    spark.sql("INSERT INTO graft.db.mor1 VALUES (1,'a',1.0),(2,'b',2.0)")
    spark.sql("INSERT INTO graft.db.mor1 VALUES (2,'b2',9.9),(3,'c',3.0)")
    val df = spark.sql("SELECT k, v, p FROM graft.db.mor1")
    val plan = df.queryExecution.executedPlan.toString
    // the merge happened INSIDE the scan: no exchange, no window/aggregate
    assert(plan.contains("GraftMorScan"), plan.take(400))
    assert(!plan.contains("Exchange"), plan.take(400))
    assert(df.as[(Long, String, Double)].collect().toSet ==
      Set((1L, "a", 1.0), (2L, "b2", 9.9), (3L, "c", 3.0)))
    // value-filter shadowing: v='b' matches ONLY the superseded version of
    // key 2 — the newer non-matching version must shadow it (empty result)
    assert(spark.sql("SELECT k FROM graft.db.mor1 WHERE v = 'b'").isEmpty)
    assert(spark.sql("SELECT v FROM graft.db.mor1 WHERE k = 2")
      .as[String].head() == "b2")
    // deletion vector on an uncompacted file applies pre-merge
    val t = GraftTable.load(spark, s"$wh/db.db/mor1")
    t.deleteDv(col("k") === 3L)
    assert(spark.sql("SELECT k FROM graft.db.mor1").as[Long].collect().toSet ==
      Set(1L, 2L))
    // rowkind tombstones drop at merge (MOR scan, not the V1 path)
    spark.sql("DROP TABLE IF EXISTS graft.db.mor2")
    spark.sql("""CREATE TABLE graft.db.mor2 (k BIGINT, v STRING, rk STRING)
                 TBLPROPERTIES ('primary-key'='k', 'bucket'='1',
                   'rowkind.field'='rk')""")
    spark.sql("INSERT INTO graft.db.mor2 VALUES (1,'x','+I'),(2,'y','+I')")
    spark.sql("INSERT INTO graft.db.mor2 VALUES (1,'x','-D'),(2,'y2','+U')")
    val df2 = spark.sql("SELECT k, v FROM graft.db.mor2")
    assert(df2.queryExecution.executedPlan.toString.contains("GraftMorScan"))
    assert(df2.as[(Long, String)].collect().toSet == Set((2L, "y2")))
    // first-row engine: earliest version wins through the same scan
    spark.sql("DROP TABLE IF EXISTS graft.db.mor3")
    spark.sql("""CREATE TABLE graft.db.mor3 (k BIGINT, v STRING)
                 TBLPROPERTIES ('primary-key'='k', 'bucket'='1',
                   'merge-engine'='first-row')""")
    spark.sql("INSERT INTO graft.db.mor3 VALUES (1,'first')")
    spark.sql("INSERT INTO graft.db.mor3 VALUES (1,'late'),(2,'z')")
    assert(spark.sql("SELECT k, v FROM graft.db.mor3")
      .as[(Long, String)].collect().toSet == Set((1L, "first"), (2L, "z")))
  }

  test("merge-in-scan key filters: = and IN on the key drop other keys before the merge") {
    import graft.core._
    import graft.core.RowOps._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    // keys have versions in several files (updates, rowkind tombstones) and
    // a DV delete; the filtered reads must pick the unfiltered read's winners
    def check(table: String, engine: String, keyType: String, key: Int => String): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS graft.db.$table")
      spark.sql(s"""CREATE TABLE graft.db.$table (k $keyType, v STRING, rk STRING)
                    TBLPROPERTIES ('primary-key'='k', 'bucket'='2',
                      'rowkind.field'='rk', 'merge-engine'='$engine')""")
      Seq(("a", "+I", 0 until 40), ("b", "+U", 10 until 40 by 2), ("c", "-D", 30 until 40 by 3))
        .foreach { case (v, rk, ks) =>
          spark.sql(s"INSERT INTO graft.db.$table VALUES " +
            ks.map(i => s"(${key(i)}, '$v$i', '$rk')").mkString(","))
        }
      GraftTable.load(spark, s"$wh/db.db/$table").deleteDv(expr(s"k = ${key(12)}"))
      def rows(where: String): Set[(String, String)] =
        spark.sql(s"SELECT k, v FROM graft.db.$table $where").collect()
          .map(r => r.get(0).toString -> r.getString(1)).toSet
      val all = rows("")
      def named(i: Int) = key(i).stripPrefix("'").stripSuffix("'")
      val keys = Seq(1, 12, 14, 15, 30, 33, 39, 77)
      // key 14 has versions in two files: its lookup merges in the scan
      assert(spark.sql(s"SELECT k, v FROM graft.db.$table WHERE k = ${key(14)}")
        .queryExecution.executedPlan.toString.contains("GraftMorScan"))
      keys.foreach { i =>
        val where = s"WHERE k = ${key(i)}"
        assert(rows(where) == all.filter(_._1 == named(i)), s"$table $where")
      }
      assert(rows(keys.map(key).mkString("WHERE k IN (", ",", ")")) ==
        all.filter(r => keys.map(named).contains(r._1)), s"$table IN")
    }
    check("kf1", "deduplicate", "BIGINT", _.toString)
    check("kf2", "deduplicate", "STRING", i => s"'k$i'")
    check("kf3", "first-row", "INT", _.toString)
  }

  test("CTAS and RTAS: CREATE/REPLACE TABLE AS SELECT with table properties") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("DROP TABLE IF EXISTS graft.db.ctas1")
    spark.sql("""CREATE TABLE graft.db.ctas1
                 TBLPROPERTIES ('primary-key'='k', 'bucket'='2')
                 AS SELECT id AS k, CAST(id * 2 AS DOUBLE) AS v FROM range(10)""")
    assert(spark.table("graft.db.ctas1").count() == 10)
    // PK semantics took: an upsert of an existing key replaces it
    spark.sql("INSERT INTO graft.db.ctas1 VALUES (3, 99.0)")
    assert(spark.sql("SELECT v FROM graft.db.ctas1 WHERE k = 3")
      .head().getDouble(0) == 99.0)
    assert(spark.table("graft.db.ctas1").count() == 10)
    // RTAS swaps schema and contents
    spark.sql("""CREATE OR REPLACE TABLE graft.db.ctas1
                 AS SELECT id AS a, CAST(id AS STRING) AS b FROM range(3)""")
    assert(spark.table("graft.db.ctas1").columns.toSeq == Seq("a", "b"))
    assert(spark.table("graft.db.ctas1").count() == 3)
    // partitioned CTAS routes partition transforms
    spark.sql("DROP TABLE IF EXISTS graft.db.ctas2")
    spark.sql("""CREATE TABLE graft.db.ctas2 PARTITIONED BY (p)
                 AS SELECT id AS k, CAST(id % 3 AS STRING) AS p FROM range(9)""")
    assert(spark.sql("SELECT count(*) FROM graft.db.ctas2 WHERE p = '1'")
      .head().getLong(0) == 3)
  }
}
