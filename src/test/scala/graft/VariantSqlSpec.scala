package graft

import graft.core._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Transparent SQL `variant_get` pushdown (§2.2): a plain SQL query over the
  * DSv2 table reads the SHREDDED physical columns — the plan carries no
  * VariantGet and the scan's readSchema shows the extraction struct
  * (capability of paimon PaimonSupportsPushDownVariantExtractions /
  * VariantPushDownUtils.scala:36; here via Spark 4.1's native
  * SupportsPushDownVariantExtractions protocol). */
class VariantSqlSpec extends SparkTestBase {
  import spark.implicits._

  spark.conf.set("spark.sql.variant.pushVariantIntoScan", "true")

  private lazy val wh = {
    val w = java.nio.file.Files.createTempDirectory("graft-vsql-wh").toString
    spark.conf.set("spark.sql.catalog.vsql", "graft.dsv2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.vsql.warehouse", w)
    w
  }

  /** Create a graft table under the catalog warehouse and return its SQL
    * identifier. */
  private def catTable(name: String, cfg: TableConfig): String = {
    val loc = s"$wh/db.db/$name"
    val t = GraftTable.create(spark, loc, mkDocs.schema, cfg)
    t.write(mkDocs)
    s"vsql.db.$name"
  }

  private def mkDocs: DataFrame =
    Seq((0L, "en", 11), (1L, "de", 22), (2L, "en", 33), (3L, "fr", 44))
      .toDF("doc_id", "lang", "text_len")
      .select(col("doc_id"),
        parse_json(to_json(struct(col("lang"), col("text_len")))).as("meta"))

  private def planOf(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("append table: SQL variant_get reads shreds, no decode in the plan") {
    val tbl = catTable("t_append", TableConfig(
      options = Map("fields.meta.shred" -> "$.lang:string,$.text_len:int")))
    val df = spark.sql(
      s"""SELECT doc_id, variant_get(meta, '$$.lang', 'string') AS lang,
         |  variant_get(meta, '$$.text_len', 'int') AS tl
         |FROM $tbl ORDER BY doc_id""".stripMargin)
    assert(df.collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq ==
      Seq((0L, "en", 11), (1L, "de", 22), (2L, "en", 33), (3L, "fr", 44)))
    val plan = planOf(df)
    assert(!plan.contains("variant_get"), s"extraction must be pushed:\n$plan")
    // append table is raw-convertible -> NATIVE COLUMNAR variant scan
    assert(plan.contains("GraftVariantBatchScan"), plan)
    assert(plan.contains("ColumnarToRow"), s"native path must stay columnar:\n$plan")
  }

  test("PK table: SQL variant_get serves the merged winner's shreds") {
    val tbl = catTable("t_pk", TableConfig(
      primaryKeys = Seq("doc_id"), numBuckets = 2,
      options = Map("fields.meta.shred" -> "$.lang:string,$.text_len:int")))
    // upsert doc 1 with new text_len; winner's extraction must serve 99
    GraftTable.load(spark, s"$wh/db.db/t_pk")
      .write(Seq((1L, "de", 99)).toDF("doc_id", "lang", "text_len")
        .select(col("doc_id"),
          parse_json(to_json(struct(col("lang"), col("text_len")))).as("meta")))
    val df = spark.sql(
      s"""SELECT doc_id, variant_get(meta, '$$.text_len', 'int') AS tl
         |FROM $tbl ORDER BY doc_id""".stripMargin)
    assert(df.collect().map(r => (r.getLong(0), r.getInt(1))).toSeq ==
      Seq((0L, 11), (1L, 99), (2L, 33), (3L, 44)))
    val plan = planOf(df)
    assert(!plan.contains("variant_get"), s"extraction must be pushed:\n$plan")
    // merge-needing PK table serves the merged view through the V1 scan
    assert(plan.contains("GraftVariantScan"), plan)
  }

  test("unshredded path falls back to decode with correct results") {
    val tbl = catTable("t_miss", TableConfig(
      options = Map("fields.meta.shred" -> "$.lang:string")))
    // $.text_len is NOT shredded -> all-or-nothing acceptance rejects the
    // column; the query still answers correctly via decode
    val df = spark.sql(
      s"""SELECT doc_id, variant_get(meta, '$$.text_len', 'int') AS tl,
         |  variant_get(meta, '$$.lang', 'string') AS lang
         |FROM $tbl ORDER BY doc_id""".stripMargin)
    assert(df.collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq ==
      Seq((0L, 11, "en"), (1L, 22, "de"), (2L, 33, "en"), (3L, 44, "fr")))
    assert(planOf(df).contains("variant_get"))
    // the same rejected projection with a filter on the SHREDDED path: after
    // the rejection Spark re-offers only [$, $.lang] (the filter's fields);
    // accepting that narrowed offer would crash the $.text_len rewrite
    val filtered = spark.sql(
      s"""SELECT doc_id, variant_get(meta, '$$.text_len', 'int') AS tl,
         |  variant_get(meta, '$$.lang', 'string') AS lang
         |FROM $tbl WHERE variant_get(meta, '$$.lang', 'string') = 'en'
         |ORDER BY doc_id""".stripMargin)
    assert(filtered.collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq ==
      Seq((0L, 11, "en"), (2L, 33, "en")))
  }

  test("try_variant_get and filters push through the variant scan") {
    val tbl = catTable("t_try", TableConfig(
      options = Map("fields.meta.shred" -> "$.lang:string,$.text_len:int")))
    val df = spark.sql(
      s"""SELECT doc_id, try_variant_get(meta, '$$.lang', 'string') AS lang
         |FROM $tbl
         |WHERE variant_get(meta, '$$.text_len', 'int') > 20
         |ORDER BY doc_id""".stripMargin)
    assert(df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "de"), (2L, "en"), (3L, "fr")))
    val plan = planOf(df)
    assert(!plan.contains("variant_get"), s"both forms must push:\n$plan")
    assert(plan.contains("GraftVariant"), plan)
  }

  test("two variant columns, only one shredded: query still answers") {
    // partial acceptance ACROSS columns — Spark's rewrite must tolerate one
    // accepted column and one rejected column in the same query
    val docs2 = Seq((0L, "en", 11), (1L, "de", 22))
      .toDF("doc_id", "lang", "text_len")
      .select(col("doc_id"),
        parse_json(to_json(struct(col("lang")))).as("meta"),
        parse_json(to_json(struct(col("text_len")))).as("extra"))
    val loc = s"$wh/db.db/t_two"
    val t = GraftTable.create(spark, loc, docs2.schema, TableConfig(
      options = Map("fields.meta.shred" -> "$.lang:string")))
    t.write(docs2)
    val df = spark.sql(
      s"""SELECT doc_id, variant_get(meta, '$$.lang', 'string') AS lang,
         |  variant_get(extra, '$$.text_len', 'int') AS tl
         |FROM vsql.db.t_two ORDER BY doc_id""".stripMargin)
    assert(df.collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq ==
      Seq((0L, "en", 11), (1L, "de", 22)))
  }

  test("SQL filter on a shredded path skips files via shred-column stats") {
    // 4 files with disjoint text_len ranges; the filter arrives as a
    // GetStructField over the retyped attribute AFTER filter pushdown ran
    // (Spark offers filters before variant extractions), so skipping is the
    // GraftVariantPrune post-optimization rule's job
    val loc = s"$wh/db.db/t_skip"
    val docs0 = spark.range(0, 100)
      .select(col("id").as("doc_id"),
        parse_json(to_json(struct(lit("en").as("lang"),
          (col("id") * 10).cast("int").as("text_len")))).as("meta"))
      .coalesce(1)
    val t = GraftTable.create(spark, loc, docs0.schema, TableConfig(
      options = Map("fields.meta.shred" -> "$.lang:string,$.text_len:int")))
    (0 until 4).foreach { i =>
      t.write(spark.range(i * 100, i * 100 + 100)
        .select(col("id").as("doc_id"),
          parse_json(to_json(struct(lit("en").as("lang"),
            (col("id") * 10).cast("int").as("text_len")))).as("meta"))
        .coalesce(1))
    }
    val df = spark.sql(
      s"""SELECT doc_id, variant_get(meta, '$$.text_len', 'int') AS tl
         |FROM vsql.db.t_skip
         |WHERE variant_get(meta, '$$.text_len', 'int') > 3500""".stripMargin)
    assert(df.count() == 49)
    val plan = planOf(df)
    assert(plan.contains("shredPruned=true"), s"prune rule must fire:\n$plan")
    assert(plan.contains("files=1"),
      s"only the last file's [3000,3990] range survives tl>3500:\n$plan")

    // OR-tree translation: a disjunction of translatable branches prunes too
    // (branch-wise weakening — (a∧b)∨c ⇒ a∨c) — here the low and high range
    // files survive, the middle two skip
    val orDf = spark.sql(
      s"""SELECT doc_id, variant_get(meta, '$$.text_len', 'int') AS tl
         |FROM vsql.db.t_skip
         |WHERE variant_get(meta, '$$.text_len', 'int') > 3500
         |   OR (variant_get(meta, '$$.text_len', 'int') < 500
         |       AND variant_get(meta, '$$.lang', 'string') = 'en')""".stripMargin)
    assert(orDf.count() == 99)
    val orPlan = planOf(orDf)
    assert(orPlan.contains("shredPruned=true"),
      s"prune rule must fire on an OR tree:\n$orPlan")
    assert(orPlan.contains("files=2"),
      s"[0,990] and [3000,3990] survive tl>3500 OR (tl<500 AND lang='en'):\n$orPlan")

    // a try_variant_get filter prunes identically — the pushdown rewrite
    // turns both forms into the same struct-field access over the retyped
    // attribute, so GraftVariantPrune sees one shape
    val tryDf = spark.sql(
      s"""SELECT doc_id FROM vsql.db.t_skip
         |WHERE try_variant_get(meta, '$$.text_len', 'int') > 3500""".stripMargin)
    assert(tryDf.count() == 49)
    val tryPlan = planOf(tryDf)
    assert(tryPlan.contains("shredPruned=true") && tryPlan.contains("files=1"),
      s"try_variant_get filter must file-skip like variant_get:\n$tryPlan")

    // an OR with an untranslatable branch must prune NOTHING (that branch
    // could match any file) — conservative, never wrong
    val mixedDf = spark.sql(
      s"""SELECT doc_id FROM vsql.db.t_skip
         |WHERE variant_get(meta, '$$.text_len', 'int') > 3500
         |   OR doc_id % 97 = 0""".stripMargin)
    assert(mixedDf.count() == 49 + 4) // 4 extra: doc_id 0,97,194,291 (388 in >3500 set... )
    val mixedPlan = planOf(mixedDf)
    assert(!mixedPlan.contains("shredPruned=true"),
      s"an OR with an untranslatable branch must not prune:\n$mixedPlan")
  }

  test("fuzz: randomized variant_get queries match Spark's decode path") {
    // differential: random docs (random JSON objects, fields randomly
    // missing), a random SUBSET of paths shredded, PK or append layout,
    // random queries mixing shredded and unshredded extractions — the
    // catalog read (pushdown when accepted, decode otherwise) must equal
    // Spark's own variant_get over the same logical rows (an in-memory
    // relation: the decode path with no graft code involved)
    val rnd = new scala.util.Random(20260815L)
    val fields = Seq("a" -> "int", "b" -> "string", "c" -> "double", "d" -> "boolean")
    def randJson(): String = fields.flatMap { case (n, tp) =>
      if (rnd.nextDouble() < 0.2) None
      else Some(s""""$n":""" + (tp match {
        case "int"     => rnd.nextInt(100).toString
        case "string"  => "\"s" + rnd.nextInt(10) + "\""
        case "double"  => (rnd.nextInt(10000) / 100.0).toString
        case "boolean" => rnd.nextBoolean().toString
      }))
    }.mkString("{", ",", "}")
    def toVariant(rows: Seq[(Long, String)]): DataFrame =
      rows.toDF("doc_id", "js")
        .select(col("doc_id"), parse_json(col("js")).as("meta"))

    for (round <- 1 to 5) {
      val base = (0L until 40L).map(i => i -> randJson())
      val shredded = fields.filter(_ => rnd.nextBoolean())
      val opts =
        if (shredded.isEmpty) Map.empty[String, String]
        else Map("fields.meta.shred" ->
          shredded.map { case (n, tp) => s"$$.$n:$tp" }.mkString(","))
      val isPk = rnd.nextBoolean()
      val cfg =
        if (isPk) TableConfig(primaryKeys = Seq("doc_id"), numBuckets = 2,
          options = opts)
        else TableConfig(options = opts)
      val loc = s"$wh/db.db/t_fuzz_$round"
      val t = GraftTable.create(spark, loc, toVariant(base).schema, cfg)
      t.write(toVariant(base))
      // PK tables get an upsert wave; the model keeps the latest per key
      val state =
        if (!isPk) base
        else {
          val wave = base.filter(_._1 % 3 == 0).map { case (i, _) => i -> randJson() }
          t.write(toVariant(wave))
          (base.toMap ++ wave.toMap).toSeq
        }
      val model = toVariant(state)

      for (_ <- 1 to 4) {
        val sel = fields.filter(_ => rnd.nextBoolean())
        if (sel.nonEmpty) {
          val gets = sel.map { case (n, tp) =>
            s"variant_get(meta, '$$.$n', '$tp') AS $n" }.mkString(", ")
          val root = rnd.nextDouble() < 0.3 // sometimes read the binary too
          val proj = s"doc_id, $gets" + (if (root) ", to_json(meta) AS j" else "")
          val where = rnd.nextInt(3) match {
            case 0 => ""
            case 1 => " WHERE doc_id % 3 = 0"
            // filter on a variant path (shredded or not — both must agree
            // with the model; when shredded + accepted, GraftVariantPrune
            // additionally narrows the file set, same answer)
            case _ => " WHERE variant_get(meta, '$.a', 'int') > 50"
          }
          val ctx = s"round=$round pk=$isPk shred=${shredded.map(_._1)} " +
            s"sel=${sel.map(_._1)} root=$root where='$where'"
          val got =
            try spark.sql(s"SELECT $proj FROM vsql.db.t_fuzz_$round$where")
              .orderBy("doc_id").collect().toSeq
            catch { case e: Throwable => fail(s"$ctx: query crashed: $e", e) }
          val want = {
            model.createOrReplaceTempView("vfuzz_model")
            spark.sql(s"SELECT $proj FROM vfuzz_model$where")
              .orderBy("doc_id").collect().toSeq
          }
          assert(got == want, s"$ctx\ngot:  ${got.take(8)}\nwant: ${want.take(8)}")
        }
      }
    }
  }

  test("native variant scan applies deletion vectors inside the batch") {
    import graft.core.RowOps._
    val loc = s"$wh/db.db/t_dv"
    val t = GraftTable.create(spark, loc, mkDocs.schema, TableConfig(
      primaryKeys = Seq("doc_id"), numBuckets = 1,
      options = Map("fields.meta.shred" -> "$.lang:string,$.text_len:int")))
    t.write(mkDocs)
    t.compact() // raw-convertible: the native columnar path serves the scan
    t.deleteDv(col("doc_id") === 2L)
    val df = spark.sql(
      s"""SELECT doc_id, variant_get(meta, '$$.text_len', 'int') AS tl
         |FROM vsql.db.t_dv ORDER BY doc_id""".stripMargin)
    assert(df.collect().map(r => (r.getLong(0), r.getInt(1))).toSeq ==
      Seq((0L, 11), (1L, 22), (3L, 44)))
    val plan = planOf(df)
    assert(!plan.contains("variant_get"), plan)
    assert(plan.contains("GraftVariantBatchScan"), plan)
  }

  test("variant scan survives the AQE bucketed-scan-disable rule (v2 bucketing on)") {
    // full-suite regression: with v2 bucketing enabled session-wide (any
    // catalog fixture does this) the AQE rule used to replace a
    // GraftVariantBatchScan with a PLAIN GraftBatchScan copy, dropping the
    // struct-view machinery — VariantType→StructType ClassCastException at
    // read. The copy is now virtual (freshCopy) and the rule only touches
    // scans that actually report a key-grouped layout.
    import graft.core.RowOps._
    val loc = s"$wh/db.db/t_aqe"
    val t = GraftTable.create(spark, loc, mkDocs.schema, TableConfig(
      primaryKeys = Seq("doc_id"), numBuckets = 4,
      options = Map("fields.meta.shred" -> "$.lang:string,$.text_len:int")))
    t.write(mkDocs)
    t.compact() // raw-convertible: native columnar variant scan, bucketed
    withSQLConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.adaptive.enabled" -> "true") {
      // aggregate over a shuffle: the rule fires and disables the layout
      val df = spark.sql(
        s"""SELECT variant_get(meta, '$$.lang', 'string') AS lang,
           |  sum(variant_get(meta, '$$.text_len', 'int')) AS tl
           |FROM vsql.db.t_aqe GROUP BY 1 ORDER BY 1""".stripMargin)
      assert(df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
        Seq(("de", 22L), ("en", 44L), ("fr", 44L)))
      // the point is the scan CLASS surviving the rule's copy (an
      // aggregate-input extraction may legitimately stay unpushed)
      assert(planOf(df).contains("GraftVariantBatchScan"), planOf(df))
    }
  }
}
