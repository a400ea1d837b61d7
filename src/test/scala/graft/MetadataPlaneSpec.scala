package graft

import graft.core._
import graft.core.RowOps._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Distributed metadata plane (SURVEY §7 100-TB posture: manifests are
 * DataFrames, never driver lists past ~10^6 entries). These tests force the
 * thresholds low so every planning/maintenance operation exercises the
 * executor-side path, then assert results identical to the driver fold.
 */
class MetadataPlaneSpec extends SparkTestBase {
  import spark.implicits._

  /** Append table with low thresholds: parquet manifests + DataFrame plans. */
  private def mkBigMetaTable(name: String, extraOpts: Map[String, String] = Map.empty)
      : (String, GraftTable, DataFrame) = {
    val loc = tmpLoc(name)
    val df = spark.range(2000).select(
      (col("id") % 20).cast("int").as("p"),
      col("id").as("v"),
      concat(lit("row-"), col("id")).as("s"))
    val t = GraftTable.create(spark, loc, df.schema,
      TableConfig(partitionKeys = Seq("p"), numBuckets = 1,
        options = Map(
          "metadata.plan.df-threshold" -> "10",
          "manifest.parquet-threshold" -> "3") ++ extraOpts))
    t.write(df.repartition(2))
    (loc, t, df)
  }

  test("commits above manifest.parquet-threshold write parquet manifests") {
    val (_, t, _) = mkBigMetaTable("pq-manifest")
    val snap = t.sm.latestSnapshot.get
    assert(snap.manifests.nonEmpty)
    assert(snap.manifests.forall(_.endsWith(".pq")),
      s"expected parquet manifests, got ${snap.manifests}")
    // liveFiles counter maintained incrementally and correct
    assert(snap.liveFilesLong.contains(t.sm.liveEntries(snap).size.toLong))
    assert(snap.liveFilesLong.get >= 20L) // one file per partition minimum
  }

  test("distributed planFiles == driver fold, with and without filters") {
    val (_, t, df) = mkBigMetaTable("plan-df")
    val snap = t.sm.latestSnapshot.get
    assert(snap.liveFilesLong.exists(_ >= t.sm.planDfThreshold)) // big path active
    // unfiltered: identical entry sets
    val planned = t.planFiles().map(_.path).toSet
    val folded = t.sm.liveEntries(snap).map(_.path).toSet
    assert(planned == folded)
    // filtered: distributed pruning == driver-side StatsPrune over the fold
    val cond = col("p") === 3
    val expr = StatsPrune.resolve(spark, t.dataSchema, cond)
    val expected = t.sm.liveEntries(snap)
      .filter(e => StatsPrune.mightMatch(expr, t.dataSchema, e.stats, e.rowCount))
      .map(_.path).toSet
    val prunedPlanned = t.planFiles(filter = Some(cond)).map(_.path).toSet
    assert(prunedPlanned == expected)
    assert(prunedPlanned.size < planned.size, "partition filter should prune files")
    // end-to-end read through the distributed planner stays correct
    assertSameRows(t.read(filter = Some(cond)), df.filter(col("p") === 3))
    assertSameRows(t.read(), df)
  }

  test("distributed planFiles bucket-prunes key equality like the driver path") {
    val loc = tmpLoc("plan-bucket")
    val df = spark.range(2000).select(col("id").as("k"),
      concat(lit("s"), col("id")).as("s"))
    val t = GraftTable.create(spark, loc, df.schema,
      TableConfig(numBuckets = 8, options = Map(
        "bucket-key" -> "k",
        "metadata.plan.df-threshold" -> "4",
        "manifest.parquet-threshold" -> "3")))
    t.write(df.repartition(4))
    assert(t.sm.latestSnapshot.get.liveFilesLong.exists(_ >= t.sm.planDfThreshold))
    val all = t.planFiles()
    val eq = t.planFiles(filter = Some(col("k") === 1234L))
    assert(eq.map(_.bucket).distinct.size == 1 && eq.size < all.size,
      s"distributed bucket pruning missed: ${eq.size}/${all.size}")
    assert(t.read(filter = Some(col("k") === 1234L)).count() == 1)
  }

  test("entriesDf unions json and parquet manifests with manifest order") {
    val loc = tmpLoc("mixed-manifests")
    val df = Seq((1, 10L), (2, 20L)).toDF("k", "v")
    // json threshold high: first commit JSON-lines; then force parquet
    val t = GraftTable.create(spark, loc, df.schema,
      TableConfig(numBuckets = 1,
        options = Map("manifest.parquet-threshold" -> "1000")))
    t.write(df)
    val jsonSnap = t.sm.latestSnapshot.get
    assert(jsonSnap.manifests.forall(_.endsWith(".json")))
    // hand-write a parquet manifest through the writer by lowering the
    // threshold via a fresh manager view (options are fixed; use the writer
    // directly with enough entries instead)
    val entries = t.writeFiles(Seq((3, 30L), (4, 40L)).toDF("k", "v"))
    val pqName = {
      // force parquet irrespective of threshold by writing through the
      // DataFrame exactly as writeManifest's parquet branch does
      val n = s"manifest-${java.util.UUID.randomUUID()}.pq"
      spark.createDataset(entries).select(ManifestDf.columns: _*)
        .write.parquet(new Path(t.sm.manifestDir, n).toString)
      n
    }
    val all = jsonSnap.manifests :+ pqName
    val got = t.sm.entriesDf(spark, all)
    assert(got.count() == t.sm.readManifest(jsonSnap.manifests.head).size + entries.size)
    // __ord reflects list position: parquet manifest rows carry the last ord
    val maxOrd = got.agg(max(col("__ord"))).as[Int].head()
    assert(maxOrd == all.size - 1)
    val pqOrds = got.filter(col("path").isin(entries.map(_.path): _*))
      .select("__ord").distinct().as[Int].collect().toSeq
    assert(pqOrds == Seq(all.size - 1))
  }

  test("liveEntriesDf folds ADD/DELETE like the driver (overwrite deletes)") {
    val (_, t, df) = mkBigMetaTable("fold-del")
    // dynamic overwrite of a few partitions creates DELETE entries
    val repl = spark.range(100).select(
      lit(3).cast("int").as("p"), col("id").as("v"), lit("new").as("s"))
    t.overwrite(repl, dynamic = true)
    val snap = t.sm.latestSnapshot.get
    val distributed = t.sm.liveEntriesDf(spark, snap).as[ManifestEntry]
      .collect().map(_.path).toSet
    val driver = t.sm.liveEntries(snap).map(_.path).toSet
    assert(distributed == driver)
    assert(snap.liveFilesLong.contains(driver.size.toLong))
    assertSameRows(t.read(),
      df.filter(col("p") =!= 3).unionAll(repl))
  }

  test("partition-scoped overwrite above threshold selects victims distributed") {
    val (_, t, df) = mkBigMetaTable("ow-dist")
    // static-partition overwrite: victim selection runs as a DataFrame job
    // (table is above metadata.plan.df-threshold), result must match exactly
    val repl = spark.range(5).select(lit(3).cast("int").as("p"),
      (col("id") + 9000).as("v"), lit("new").as("s"))
    t.overwrite(repl, staticPartition = Map("p" -> "3"))
    val got = t.read()
    assert(got.filter(col("p") === 3).count() == 5)
    assert(got.filter(col("p") =!= 3).count() == df.filter(col("p") =!= 3).count())
    // dynamic overwrite path too
    val repl2 = spark.range(7).select(lit(4).cast("int").as("p"),
      (col("id") + 9500).as("v"), lit("dyn").as("s"))
    t.overwrite(repl2, dynamic = true)
    assert(t.read().filter(col("p") === 4).count() == 7)
    assert(t.read().filter(col("p") === 3).count() == 5)
  }

  test("distributed expireSnapshots deletes exactly the unreferenced files") {
    val (loc, t, _) = mkBigMetaTable("expire-df")
    val fs = t.sm.fs
    val firstLive = t.sm.liveEntries(t.sm.latestSnapshot.get).map(_.path)
    // overwrite everything → first snapshot's files become expirable
    val repl = spark.range(200).select(
      (col("id") % 5).cast("int").as("p"), col("id").as("v"), lit("r2").as("s"))
    t.overwrite(repl)
    val keepRows = rowsOf(t.read())
    assert(t.sm.snapshotIds.size == 2)
    val n = t.expireSnapshots(retainLast = 1)
    assert(n == 1)
    // old files gone from disk, new files intact, table still reads
    assert(firstLive.forall(p => !fs.exists(new Path(loc, p))),
      "expired data files must be deleted")
    assert(rowsOf(t.read()) == keepRows)
    assert(t.sm.snapshotIds == Seq(2L))
  }

  test("distributed removeOrphanFiles deletes only unreferenced data files") {
    val (loc, t, df) = mkBigMetaTable("orphan-df")
    val fs = t.sm.fs
    // plant an orphan parquet file inside a commit dir
    val commitDir = fs.listStatus(t.sm.dataDir).filter(_.isDirectory).head.getPath
    val orphan = new Path(commitDir, "orphan-file.parquet")
    val out = fs.create(orphan, true); out.write(1); out.close()
    // make it look old enough
    val lf = new java.io.File(orphan.toUri.getPath)
    lf.setLastModified(System.currentTimeMillis() - 7200_000L)
    val deleted = t.removeOrphanFiles()
    assert(deleted == 1, s"expected 1 orphan deleted, got $deleted")
    assert(!fs.exists(orphan))
    assertSameRows(t.read(), df)
  }

  test("distributed compactManifests consolidates without losing state") {
    val (_, t, df) = mkBigMetaTable("cm-df")
    t.write(spark.range(2000, 2100).select(
      (col("id") % 20).cast("int").as("p"), col("id").as("v"),
      concat(lit("row-"), col("id")).as("s")))
    assert(t.sm.latestSnapshot.get.manifests.size == 2)
    val before = rowsOf(t.read())
    val snap = t.sm.compactManifests(t.schema.id)
    assert(snap.kind == "COMPACT")
    assert(snap.manifests.size == 1)
    assert(snap.manifests.head.endsWith(".pq"))
    assert(snap.liveFilesLong.contains(t.sm.liveEntries(snap).size.toLong))
    assert(rowsOf(t.read()) == before)
  }

  test("100k-entry snapshot plans through the DataFrame path (synthetic manifest)") {
    // fabricate a parquet manifest of 10^5 entries directly — the point is
    // the metadata plane's shape at scale, not writing 10^5 real files
    val loc = tmpLoc("big-meta")
    val df = Seq((1, 1L)).toDF("p", "v")
    val t = GraftTable.create(spark, loc, df.schema,
      TableConfig(partitionKeys = Seq("p"), numBuckets = 1,
        options = Map("metadata.plan.df-threshold" -> "10",
          "manifest.parquet-threshold" -> "3")))
    val n = 100000
    val entries = spark.range(n).select(
      lit(0).as("kind"),
      concat(lit("data/c-synth/__pt="), col("id") % 100, lit("/f"), col("id"),
        lit(".parquet")).as("path"),
      map(lit("p"), (col("id") % 100).cast("string")).as("partition"),
      lit(0).as("bucket"),
      lit(10L).as("rowCount"),
      lit(1000L).as("fileSize"),
      lit(0L).as("minSeq"), lit(0L).as("maxSeq"), lit(0).as("level"),
      map(lit("p"), struct((col("id") % 100).cast("string").as("min"),
        (col("id") % 100).cast("string").as("max"), lit(0L).as("nullCount")),
        lit("v"), struct(col("id").cast("string").as("min"),
          col("id").cast("string").as("max"), lit(0L).as("nullCount"))).as("stats"),
      lit(0L).as("schemaId"))
    val mname = s"manifest-synth.pq"
    entries.write.parquet(
      new org.apache.hadoop.fs.Path(t.sm.manifestDir, mname).toString)
    // snapshot referencing the synthetic manifest, liveFiles above threshold
    t.sm.commit(Nil, "APPEND", "seed", t.schema.id) // snapshot 1 (empty)
    val s1 = t.sm.latestSnapshot.get
    t.sm.writeString(
      new org.apache.hadoop.fs.Path(t.sm.snapshotDir, "snapshot-2.json"),
      Json.write(s1.copy(id = 2L, manifests = Seq(mname),
        deltaManifests = Seq(mname), totalRecords = n * 10L,
        liveFiles = Some(n.toLong))))
    t.sm.writeString(new org.apache.hadoop.fs.Path(t.sm.snapshotDir, "LATEST"), "2")
    val t2 = GraftTable.load(spark, loc)
    // unfiltered distributed plan sees all entries
    assert(t2.planFiles().size == n)
    // partition filter prunes distributed to 1% of entries
    val pruned = t2.planFiles(filter = Some(col("p") === 7))
    assert(pruned.size == n / 100, s"got ${pruned.size}")
    assert(pruned.forall(_.partition("p") == "7"))
    // point filter on v stats prunes to a single entry
    assert(t2.planFiles(filter = Some(col("v") === 4242L)).size == 1)
  }

  test("distributed commit conflict check rejects double-delete") {
    val (_, t, _) = mkBigMetaTable("conflict-df")
    val victim = t.sm.liveEntries(t.sm.latestSnapshot.get).head
    // first delete commits fine
    t.sm.commit(Seq(victim.copy(kind = 1)), "OVERWRITE", "del-1", t.schema.id)
    // second delete of the SAME path must conflict via the anti-join path
    val ex = intercept[CommitConflictException] {
      t.sm.commit(Seq(victim.copy(kind = 1)), "OVERWRITE", "del-2", t.schema.id)
    }
    assert(ex.getMessage.contains(victim.path))
  }

  test("every commit logs one INFO line: table, snapshot, kind, attempts, files, ms") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val app = new AbstractAppender("commit-capture", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.INFO && e.getLoggerName == classOf[SnapshotManager].getName)
          lines.add(e.getMessage.getFormattedMessage)
    }
    spark.sparkContext // Spark may replace the log4j configuration as it starts
    val logger = LogManager.getRootLogger.asInstanceOf[CoreLogger]
    val prevLevel = logger.getLevel
    app.start()
    logger.addAppender(app)
    logger.setLevel(Level.INFO)
    val loc = tmpLoc("commit-log")
    try {
      val t = GraftTable.create(spark, loc, spark.range(1).toDF("k").schema,
        TableConfig(primaryKeys = Seq("k"), numBuckets = 2))
      t.write(spark.range(10).toDF("k"))
      t.write(spark.range(5).toDF("k"))
    } finally {
      logger.removeAppender(app)
      logger.setLevel(prevLevel)
    }
    import scala.jdk.CollectionConverters._
    val mine = lines.asScala.toSeq.filter(_.contains(s"table=$loc "))
    assert(mine.size == 2, mine)
    assert(mine.last.matches(
      s"commit table=\\Q$loc\\E snapshot=2 kind=APPEND attempts=1 " +
        "files_added=\\d+ files_deleted=0 ms=\\d+"), mine.last)
  }

  test("every compaction logs one INFO line: table, scope, path and reason, files, bytes, ms") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val app = new AbstractAppender("compact-capture", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.INFO && e.getLoggerName == "graft.core.RowOps")
          lines.add(e.getMessage.getFormattedMessage)
    }
    spark.sparkContext // Spark may replace the log4j configuration as it starts
    val logger = LogManager.getRootLogger.asInstanceOf[CoreLogger]
    val prevLevel = logger.getLevel
    app.start()
    logger.addAppender(app)
    logger.setLevel(Level.INFO)
    val dedup = tmpLoc("compact-log")
    val partial = tmpLoc("compact-log-pu")
    try {
      val t = GraftTable.create(spark, dedup, spark.range(1).toDF("k").schema,
        TableConfig(primaryKeys = Seq("k"), numBuckets = 2))
      t.write(spark.range(10).toDF("k"))
      t.write(spark.range(5).toDF("k"))
      t.compact()
      t.write(spark.range(3).toDF("k"))
      t.compactWhere(_ => true)
      val pu = GraftTable.create(spark, partial, spark.range(1).toDF("k").schema,
        TableConfig(primaryKeys = Seq("k"), numBuckets = 2, mergeEngine = "partial-update"))
      pu.write(spark.range(10).toDF("k"))
      pu.compact()
    } finally {
      logger.removeAppender(app)
      logger.setLevel(prevLevel)
    }
    import scala.jdk.CollectionConverters._
    def of(loc: String) = lines.asScala.toSeq.filter(_.contains(s"table=$loc "))
    val counts = "files_in=\\d+ bytes_in=\\d+ files_out=\\d+ bytes_out=\\d+ ms=\\d+"
    val Seq(full, part) = of(dedup)
    assert(full.matches(s"compact table=\\Q$dedup\\E scope=full path=in-scan $counts"), full)
    assert(full.contains(" files_in=4 ") && full.contains(" files_out=2 "), full)
    assert(part.matches(s"compact table=\\Q$dedup\\E scope=partial path=in-scan $counts"), part)
    val Seq(rel) = of(partial)
    assert(rel.matches(s"compact table=\\Q$partial\\E scope=full path=relational " +
      s"reason=merge-engine:partial-update $counts"), rel)
    // the partial compaction counts as a compaction too
    def metric(name: String) = GraftMetrics.forTable(dedup).rows
      .collectFirst { case (`name`, _, v) => v }.getOrElse(0.0)
    assert(metric("totalCompactions") == 2.0)
  }

  test("compact_manifest stamps creationTime: migrated legacy table plans with zero per-file stats") {
    val loc = tmpLoc("legacy-ct")
    val df = spark.range(100).select((col("id") % 4).cast("int").as("p"),
      col("id").as("v"))
    // bake the file-creation-time cutoff into the table config so EVERY
    // read's planning consults entryCreationTime (the fallback under test)
    val t = GraftTable.create(spark, loc, df.schema,
      TableConfig(partitionKeys = Seq("p"), numBuckets = 1,
        options = Map("scan.file-creation-time-millis" -> "1")))
    t.write(df)
    // forge a LEGACY state: same live files, creationTime zeroed (manifests
    // written before the field existed read it as 0)
    val base = t.sm.latestSnapshot.get
    val legacy = t.sm.liveEntries(base).map(_.copy(creationTime = 0L))
    val mname = t.sm.writeManifest(legacy)
    t.sm.writeString(new Path(t.sm.snapshotDir, s"snapshot-${base.id + 1}.json"),
      Json.write(base.copy(id = base.id + 1, manifests = Seq(mname),
        deltaManifests = Seq(mname))))
    t.sm.writeString(new Path(t.sm.snapshotDir, "LATEST"), (base.id + 1).toString)

    val t2 = GraftTable.load(spark, loc)
    def cutoffCount(tbl: GraftTable): Long = tbl.read().count()
    // legacy read pays the per-file fallback
    GraftTable.legacyStatFallbacks.set(0L)
    assert(cutoffCount(t2) == 100)
    assert(GraftTable.legacyStatFallbacks.get() > 0,
      "legacy state should exercise the fallback")

    // migrate: compact_manifest stamps creationTime from batched listings
    Procedures.call(spark, t2, "compact_manifest").collect()
    val t3 = GraftTable.load(spark, loc)
    val stamped = t3.sm.liveEntries(t3.sm.latestSnapshot.get)
    assert(stamped.nonEmpty && stamped.forall(_.creationTime > 0L),
      stamped.map(_.creationTime).toString)
    GraftTable.legacyStatFallbacks.set(0L)
    assert(cutoffCount(t3) == 100)
    assert(GraftTable.legacyStatFallbacks.get() == 0L,
      "migrated table must plan without per-file stats")
  }

  test("distributed compact_manifest stamps creationTime too (DataFrame path)") {
    val (loc, t, _) = mkBigMetaTable("legacy-ct-dist")
    val base = t.sm.latestSnapshot.get
    val legacy = t.sm.liveEntries(base).map(_.copy(creationTime = 0L))
    val mname = t.sm.writeManifest(legacy)
    t.sm.writeString(new Path(t.sm.snapshotDir, s"snapshot-${base.id + 1}.json"),
      Json.write(base.copy(id = base.id + 1, manifests = Seq(mname),
        deltaManifests = Seq(mname), liveFiles = Some(legacy.size.toLong))))
    t.sm.writeString(new Path(t.sm.snapshotDir, "LATEST"), (base.id + 1).toString)
    val t2 = GraftTable.load(spark, loc)
    assert(t2.sm.latestSnapshot.get.liveFilesLong.exists(_ >= 10),
      "distributed branch requires liveFiles >= df-threshold")
    Procedures.call(spark, t2, "compact_manifest").collect()
    val t3 = GraftTable.load(spark, loc)
    val stamped = t3.sm.liveEntries(t3.sm.latestSnapshot.get)
    assert(stamped.nonEmpty && stamped.forall(_.creationTime > 0L),
      stamped.filter(_.creationTime <= 0).take(3).toString)
  }
}
