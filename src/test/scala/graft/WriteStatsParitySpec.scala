package graft

import graft.core._
import graft.core.RowOps._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * The per-file stats a write collects inside its tasks must equal what a
 * full read-back of the written files gives: row count, size, and per
 * column min, max, null count and the inexact flag. The oracle below is
 * that read-back — one aggregation per file over the files as a reader
 * sees them, so for csv and json it also shows the stats bound the values
 * a reader gets back. Swept over every stats-bearing type (with nulls,
 * NaN, -0.0, long non-ASCII strings), a non-UTC session time zone, PK /
 * bucketed-append / plain-append tables, file rolling, all four stats
 * modes and the parquet, orc, csv and json formats.
 */
class WriteStatsParitySpec extends SparkTestBase {
  import GraftTable.{BUCKET, PT}

  private val TruncateMode = """truncate\((\d+)\)""".r

  /** Per written file under `commitDir`: (bucket, rows, bytes, stats). */
  private def readBackStats(t: GraftTable, commitDir: String,
                            level: Int): Map[String, (Int, Long, Long, Map[String, ColStat])] = {
    val stagingAbs = new Path(t.location, commitDir).toString
    val written = t.readDataFiles(
      StructType(t.fileSchema.fields ++ Array(
        StructField(PT, StringType), StructField(BUCKET, IntegerType))),
      Seq(stagingAbs), basePath = Some(stagingAbs))
    val statCols = t.fileSchema.fields.flatMap { f =>
      def statVal(c: org.apache.spark.sql.Column) = f.dataType match {
        case _: TimestampType => unix_micros(c).cast(StringType)
        case _ => c.cast(StringType)
      }
      val orderable = org.apache.spark.sql.catalyst.expressions.RowOrdering
        .isOrderable(f.dataType)
      val mode = t.statsModeFor(f.name, level)
      val (mn, mx) =
        if (orderable && mode != "none" && mode != "counts")
          (statVal(min(col(f.name))), statVal(max(col(f.name))))
        else (lit(null).cast(StringType), lit(null).cast(StringType))
      val nc =
        if (mode == "none") lit(-1L)
        else sum(when(col(f.name).isNull, 1L).otherwise(0L))
      Seq(mn.as(s"min__${f.name}"), mx.as(s"max__${f.name}"), nc.as(s"nc__${f.name}"))
    }
    val agg = written
      .groupBy(input_file_name().as("__file"), col(BUCKET).as("__b"))
      .agg(count(lit(1)).as("__rc"), statCols.toIndexedSeq: _*)
      .collect()
    val fs = new Path(t.location).getFileSystem(spark.sessionState.newHadoopConf())
    val locUri = new Path(t.location).toUri.getPath
    agg.toSeq.map { row =>
      val full = new Path(new java.net.URI(row.getAs[String]("__file"))).toUri.getPath
      val rel = full.stripPrefix(locUri).stripPrefix("/")
      val stats = t.fileSchema.fields.map { f =>
        val mn0 = row.getAs[String](s"min__${f.name}")
        val mx0 = row.getAs[String](s"max__${f.name}")
        val nc = row.getAs[Long](s"nc__${f.name}")
        f.name -> (t.statsModeFor(f.name, level) match {
          case TruncateMode(nStr) if f.dataType == StringType =>
            val n = nStr.toInt
            val mn = if (mn0 != null && mn0.length > n) mn0.take(n) else mn0
            val mx = if (mx0 != null && mx0.length > n) {
              val p = mx0.take(n)
              val i = p.lastIndexWhere(_ != Char.MaxValue)
              if (i < 0) null else p.substring(0, i) + (p.charAt(i) + 1).toChar
            } else mx0
            ColStat(mn, mx, nc, inexact = (mn ne mn0) || (mx ne mx0))
          case _ => ColStat(mn0, mx0, nc)
        })
      }.toMap
      val size = fs.getFileStatus(new Path(t.location, rel)).getLen
      rel -> ((row.getAs[Int]("__b"), row.getAs[Long]("__rc"), size, stats))
    }.toMap
  }

  /** Every live file's manifest entry equals the read-back of its commit. */
  private def assertParity(t: GraftTable, label: String): Unit = {
    val live = t.planFiles()
    assert(live.nonEmpty, label)
    live.groupBy(_.path.split('/').take(2).mkString("/")).foreach { case (dir, es) =>
      val oracle = readBackStats(t, dir, es.head.level)
      assert(es.map(_.path).toSet == oracle.keySet, s"$label $dir: files")
      es.foreach { e =>
        val (b, rows, size, stats) = oracle(e.path)
        assert((e.bucket, e.rowCount, e.fileSize) == ((b, rows, size)), s"$label ${e.path}")
        stats.foreach { case (c, want) =>
          assert(e.stats(c) == want, s"$label ${e.path} column $c")
        }
        assert(e.stats.keySet == stats.keySet, s"$label ${e.path} columns")
      }
    }
  }

  private val nested = Set("bin", "arr", "st", "v")

  /** A seeded batch of every stats-bearing type, nulls and edge values included. */
  private def batch(seed: Int, n: Int, cols: Seq[String]): DataFrame = {
    val rnd = new scala.util.Random(seed)
    def maybe(a: => Any): Any = if (rnd.nextInt(10) == 0) null else a
    val specials = Array(Double.NaN, -0.0, 0.0, Double.MaxValue, -1e300)
    val words = Array("ünïcödé-straße-längerer-wert-", "日本語のとても長い文字列です-", "plain-",
      "zzzzzzzzzzzzzzzzzzzz", "", "\t tab and spaces ")
    val rows = (0 until n).map { i =>
      Row(
        rnd.nextInt(150).toLong, s"g${rnd.nextInt(2)}",
        maybe(rnd.nextBoolean()), maybe((rnd.nextInt(200) - 100).toShort),
        maybe(rnd.nextInt()), maybe(rnd.nextLong()),
        maybe(rnd.nextInt(5) match {
          case 0 => Float.NaN case 1 => -0.0f case 2 => 0.0f case _ => rnd.nextFloat() * 10 }),
        maybe(if (rnd.nextInt(4) == 0) specials(rnd.nextInt(specials.length))
              else rnd.nextGaussian() * 100),
        maybe(BigDecimal(rnd.nextInt(100000), 2).bigDecimal),
        maybe(words(rnd.nextInt(words.length)) + rnd.nextInt(1000) +
          (if (rnd.nextBoolean()) " " else "")),
        maybe(java.sql.Date.valueOf(java.time.LocalDate.of(1990, 1, 1).plusDays(rnd.nextInt(20000)))),
        maybe(java.time.Instant.ofEpochSecond(rnd.nextInt(2000000000).toLong, rnd.nextInt(1000000) * 1000L)),
        maybe(java.time.LocalDateTime.of(2020, 1, 1, 0, 0)
          .plusNanos((rnd.nextLong() % 100000000000000L).abs * 1000)),
        maybe(Array.fill(rnd.nextInt(4))(rnd.nextInt(256).toByte)),
        maybe(Seq.fill(rnd.nextInt(3))(rnd.nextInt(9))),
        maybe(Row(rnd.nextInt(5), s"s${rnd.nextInt(5)}")),
        maybe(s"""{"a": ${rnd.nextInt(9)}, "b": "x${rnd.nextInt(9)}"}"""))
    }
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("g", StringType),
      StructField("bo", BooleanType), StructField("sh", ShortType),
      StructField("i", IntegerType), StructField("l", LongType),
      StructField("f", FloatType), StructField("d", DoubleType),
      StructField("dec", DecimalType(10, 2)), StructField("s", StringType),
      StructField("dt", DateType), StructField("ts", TimestampType),
      StructField("tsn", TimestampNTZType), StructField("bin", BinaryType),
      StructField("arr", ArrayType(IntegerType)),
      StructField("st", StructType(Seq(StructField("a", IntegerType), StructField("b", StringType)))),
      StructField("vj", StringType)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
      .withColumn("v", parse_json(col("vj"))).drop("vj")
    df.select(cols.map(col): _*)
  }

  private val modes = Seq("none", "counts", "full", "truncate(16)")

  Seq("parquet", "orc", "csv", "json").zipWithIndex.foreach { case (format, fi) =>
    test(s"write-task stats equal a read-back of the files: $format") {
      val all = Seq("k", "g", "bo", "sh", "i", "l", "f", "d", "dec", "s", "dt", "ts",
        "tsn", "bin", "arr", "st", "v")
      val cols = format match {
        case "csv" => all.filterNot(nested)
        case "orc" => all.filterNot(_ == "v")
        case _ => all
      }
      withSQLConf("spark.sql.session.timeZone" -> "America/Los_Angeles") {
        val kinds = Seq(
          "pk" -> TableConfig(primaryKeys = Seq("k", "g"), partitionKeys = Seq("g"),
            numBuckets = 2),
          "bucketed-append" -> TableConfig(partitionKeys = Seq("g"), numBuckets = 3,
            options = Map("bucket-key" -> "k")),
          "append" -> TableConfig(partitionKeys = Seq("g")))
        kinds.zipWithIndex.foreach { case ((kind, cfg), ki) =>
          val mode = modes((fi + ki) % modes.size)
          val label = s"$format/$kind/$mode"
          val t = GraftTable.create(spark, tmpLoc(s"stats-$format-$kind"),
            batch(0, 1, cols).schema, cfg.copy(options = cfg.options ++ Map(
              "file.format" -> format, "metadata.stats-mode" -> mode,
              "write.max-records-per-file" -> "37")))
          t.write(batch(1, 160, cols))
          t.write(batch(2, 120, cols))
          assertParity(t, label)
          if (kind == "pk") {
            t.compact()
            assertParity(t, s"$label compacted")
          }
        }
      }
    }
  }
}
