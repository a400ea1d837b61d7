package graft

import graft.core._
import graft.core.RowOps._
import graft.pipeline.GlobalIndex
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Differential check of the manifest-planned data-file read
 * (`GraftTable.readDataFiles` over a [[ManifestFileIndex]]) against
 * Spark's own listing read of the same paths ([[SparkFileRead]]): the same
 * rows, and byte-identical `input_file_name()`, `_metadata.file_path` and
 * `_metadata.row_index`, over every data-file format, deletion vectors, an
 * old-schema file, the partitioned staging read, the global index's path
 * regexp, a file split by `maxPartitionBytes` and a legacy entry with no
 * recorded size.
 */
class ManifestReadSpec extends SparkTestBase {
  import GraftTable.{BUCKET, PT}
  import spark.implicits._

  /** Rows as a sorted multiset (duplicates count). */
  private def bag(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def assertSameBag(got: DataFrame, want: DataFrame): Unit = {
    val (g, w) = (bag(got), bag(want))
    assert(g == w, s"\nonly in manifest read: ${g.diff(w).take(5)}" +
      s"\nonly in listing read: ${w.diff(g).take(5)}")
  }

  private def paths(t: GraftTable, es: Seq[ManifestEntry]): Seq[String] =
    es.map(e => new Path(t.location, e.path).toString)

  /** Both reads of `es` with `sch`, each with the file-path columns. */
  private def bothWithPaths(t: GraftTable, sch: StructType, es: Seq[ManifestEntry],
                            extra: Seq[String] = Nil): (DataFrame, DataFrame) = {
    def cols(df: DataFrame) = df.select((sch.fieldNames.toSeq.map(col) ++
      Seq(input_file_name().as("__ifn"), col("_metadata.file_path").as("__fp")) ++
      extra.map(c => col(s"_metadata.$c").as(s"__$c"))): _*)
    (cols(t.readDataFiles(sch, es)), cols(SparkFileRead.load(t, sch, paths(t, es))))
  }

  private val sample = (0 until 120).map { i =>
    (i.toLong, if (i % 7 == 0) null else s"s-$i é", i * 0.25,
      java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i % 40)),
      java.sql.Timestamp.valueOf(f"2024-02-03 04:05:${i % 60}%02d.123456"))
  }.toDF("k", "s", "d", "day", "ts")

  test("every data-file format reads the same rows and file paths as a listing read") {
    Seq("parquet", "orc", "csv", "json", "avro", "row").foreach { fmt =>
      val t = GraftTable.create(spark, tmpLoc(s"mr-$fmt"), sample.schema,
        TableConfig(options = Map("file.format" -> fmt)))
      t.write(sample.filter(col("k") < 60).repartition(3))
      t.write(sample.filter(col("k") >= 60).repartition(2))
      val es = t.planFiles()
      assert(es.size >= 4, s"$fmt: ${es.size} files")
      val (got, want) = bothWithPaths(t, t.fileSchema, es)
      assertSameBag(got, want)
      assert(got.count() == 120, fmt)
      // the table read itself equals the input rows
      assertSameBag(t.read(), sample)
    }
  }

  test("deletion vectors: identical file paths and row indexes, vectors keyed by them") {
    val loc = tmpLoc("mr-dv")
    val t = GraftTable.create(spark, loc, Seq((0L, "")).toDF("k", "v").schema,
      TableConfig(primaryKeys = Seq("k"), numBuckets = 2))
    t.write((0 until 200).map(i => (i.toLong, s"v$i")).toDF("k", "v"))
    t.deleteDv(col("k") % 9 === 0)
    val es = t.planFiles()
    val (got, want) = bothWithPaths(t, t.fileSchema, es, Seq("row_index"))
    assertSameBag(got, want)
    // every outstanding vector's key is the key of a path the read reports
    val dv = t.dvFor(None)
    assert(dv.nonEmpty)
    val keys = got.select("__fp").distinct().as[String].collect().map { p =>
      GraftTable.dvKey(if (p.contains('%')) new java.net.URI(p).getPath else p)
    }.toSet
    assert(dv.keySet.subsetOf(keys), s"${dv.keySet} vs $keys")
    // the vectors apply: the deleted keys are gone from a DV-applied read
    val live = t.readFiles(es).select("k").as[Long].collect().toSet
    assert(live == (0L until 200L).filterNot(_ % 9 == 0).toSet)
    // metadata columns through the merged view keep the same path strings
    val meta = t.readWithMetadata().select(GraftTable.FILE_PATH_COL).distinct()
      .as[String].collect().toSet
    assert(meta == want.select("__fp").distinct().as[String].collect().toSet)
  }

  test("an old-schema file reads through the field-id remap") {
    val loc = tmpLoc("mr-evolve")
    val t = GraftTable.create(spark, loc, Seq((0L, "")).toDF("k", "v").schema, TableConfig())
    t.write((0 until 30).map(i => (i.toLong, s"v$i")).toDF("k", "v"))
    val oldEntries = t.planFiles()
    val oldSchema = t.sm.readSchema(oldEntries.head.schemaId).sparkSchema
    t.renameColumn("v", "w")
    t.addColumns(StructField("x", IntegerType))
    val t2 = GraftTable.load(spark, loc)
    t2.write((30 until 40).map(i => (i.toLong, s"w$i", i)).toDF("k", "w", "x"))
    assert(t2.planFiles().map(_.schemaId).distinct.size == 2)
    val (got, want) = bothWithPaths(t2, oldSchema, oldEntries)
    assertSameBag(got, want)
    assertSameBag(t2.read(),
      ((0 until 30).map(i => (i.toLong, s"v$i", null.asInstanceOf[Integer])) ++
        (30 until 40).map(i => (i.toLong, s"w$i", Integer.valueOf(i)))).toDF("k", "w", "x"))
  }

  test("the partitioned staging read types __pt and __bucket as a listing read does") {
    val loc = tmpLoc("mr-staging")
    val t = GraftTable.create(spark, loc,
      Seq((0L, "", "")).toDF("k", "v", "p").schema,
      TableConfig(primaryKeys = Seq("k"), partitionKeys = Seq("p"), numBuckets = 3))
    t.write((0 until 90).map(i => (i.toLong, s"v$i", s"p${i % 4}")).toDF("k", "v", "p"))
    val es = t.planFiles()
    val commitDir = es.head.path.split('/').take(2).mkString("/")
    assert(es.forall(_.path.startsWith(commitDir + "/")) && es.size > 4)
    val stagingAbs = new Path(loc, commitDir).toString
    val sch = StructType(t.fileSchema.fields ++ Array(
      StructField(PT, StringType), StructField(BUCKET, IntegerType)))
    def cols(df: DataFrame) = df.select((sch.fieldNames.toSeq.map(col) :+
      input_file_name().as("__ifn")): _*)
    val got = cols(t.readDataFiles(sch, es, basePath = Some(stagingAbs)))
    val want = cols(SparkFileRead.load(t, sch, Seq(stagingAbs), basePath = Some(stagingAbs)))
    assert(got.schema == want.schema, s"${got.schema.treeString}\n${want.schema.treeString}")
    assertSameBag(got, want)
    assert(got.select(BUCKET).distinct().count() == 3)
  }

  test("the global index's input_file_name regexp names the manifest's relative paths") {
    val loc = tmpLoc("mr-gi")
    val df = spark.range(600).select(col("id").as("v"), (col("id") % 5).as("tag"))
    val t = GraftTable.create(spark, loc, df.schema, TableConfig())
    t.write(df.repartition(6))
    val es = t.planFiles()
    def rel(d: DataFrame) =
      d.select(regexp_extract(input_file_name(), "(data/.*)$", 1)).distinct().as[String]
        .collect().toSet
    val got = rel(t.readDataFiles(t.fileSchema, es))
    assert(got == rel(SparkFileRead.load(t, t.fileSchema, paths(t, es))))
    assert(got == es.map(_.path).toSet)
    GlobalIndex.build(spark, loc, "v")
    assert(GlobalIndex.plannedFilesForEquality(spark, loc, "v", Seq(123L)) == 1)
    assertSameRows(GlobalIndex.readEquality(spark, loc, "v", Seq(123L, 7L)),
      t.read().filter(col("v").isin(123L, 7L)))
  }

  test("a file larger than maxPartitionBytes splits into several tasks by its recorded size") {
    val loc = tmpLoc("mr-split")
    val df = spark.range(60000).select(col("id").as("k"),
      sha2(col("id").cast("string"), 256).as("h"))
    val t = GraftTable.create(spark, loc, df.schema,
      TableConfig(options = Map("parquet.block.size" -> "65536")))
    t.write(df.coalesce(1))
    val es = t.planFiles()
    assert(es.size == 1 && es.head.fileSize > 4 * 131072L, es)
    withSQLConf("spark.sql.files.maxPartitionBytes" -> "131072",
        "spark.sql.files.openCostInBytes" -> "1") {
      val read = t.readDataFiles(t.fileSchema, es)
      var rows = 0L
      val jobs = SparkJobs.during(spark) { rows = read.rdd.count() }
      assert(rows == 60000L)
      assert(jobs.tasks > 1, jobs)
      assertSameBag(read, SparkFileRead.load(t, t.fileSchema, paths(t, es)))
      assert(read.agg(sum("k")).head().getLong(0) == (0L until 60000L).sum)
    }
  }

  test("a legacy entry with no recorded size costs one stat, for that file only") {
    val t = GraftTable.create(spark, tmpLoc("mr-legacy"), sample.schema, TableConfig())
    t.write(sample.repartition(4))
    val es = t.planFiles()
    val legacy = es.head.copy(fileSize = 0L) +: es.tail
    GraftTable.legacyStatFallbacks.set(0L)
    val got = t.readDataFiles(t.fileSchema, legacy)
    assert(GraftTable.legacyStatFallbacks.get() == 1L)
    assertSameBag(got, SparkFileRead.load(t, t.fileSchema, paths(t, es)))
    assert(got.inputFiles.length == es.size)
  }

  test("a missing data file fails the read with an error naming the file") {
    val t = GraftTable.create(spark, tmpLoc("mr-missing"), sample.schema, TableConfig())
    t.write(sample.repartition(2))
    val gone = t.planFiles().head
    val p = new Path(t.location, gone.path)
    assert(t.sm.fs.delete(p, false))
    val err = intercept[Exception](t.read().collect())
    val msgs = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).toSeq
    val name = gone.path.split('/').last
    assert(msgs.exists(_.contains(name)), msgs.mkString("\n"))
  }
}
