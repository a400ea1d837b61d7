package graft.pipeline

import graft.core._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * GLOBAL secondary indexes over an UNCLUSTERED column — the last §2.11
 * family (capability parity with paimon's global index tables, reference:
 * paimon-core/.../globalindex/sorted/SortedGlobalIndexScanner.java and
 * globalindex/generic/GenericGlobalIndexScanner.java,
 * docs/docs/multimodal-table/global-index.mdx:110).
 *
 * Both kinds persist as graft tables of (value, file, cnt) rows — one row
 * per distinct (column value, data file) pair — value-range clustered by
 * sort compaction, so the existing manifest min/max machinery prunes the
 * INDEX read and the index result prunes the DATA read:
 *
 *  - equality ("bitmap"): `c = v` / `c IN (...)` looks up the value's rows
 *    in the index (a few index files) and plans only the data files that
 *    contain it — the file-granular analogue of paimon's value→row-bitmap
 *    index, matched to Spark's scan unit.
 *  - sorted ("btree"): `ORDER BY c LIMIT k` walks the best k index rows
 *    (served by the graft TopN file pruning), derives the value boundary,
 *    and reads only data files holding rows past it.
 *
 * At 100 TB: the index is ~distinct(value,file) rows — metadata-scale next
 * to the data — and every lookup is a stats-pruned scan of both tables.
 * Builds are one distributed aggregation; an index records the snapshot it
 * covers and lookups FALL BACK to a full scan when stale (correctness never
 * depends on index freshness).
 */
object GlobalIndex {

  private def indexLoc(tableLoc: String, colName: String) =
    s"$tableLoc/index/global-$colName"
  private def metaPath(tableLoc: String, colName: String) =
    new Path(tableLoc, s"index/global-$colName.json")

  /** Parse the CALL spelling of a partition restriction: specs separated by
    * ';', key=value pairs within a spec by '/' (the CALL option string owns
    * ','), e.g. "dt=2026-06-18;dt=2026-06-19" or "dt=a/region=eu". */
  def parsePartitions(s: String): Seq[Map[String, String]] =
    s.split(';').map(_.trim).filter(_.nonEmpty).toSeq.map { spec =>
      spec.split('/').map(_.trim).filter(_.nonEmpty).map { kv =>
        val Array(k, v) = kv.split("=", 2); k -> v
      }.toMap
    }

  private def entryCovered(e: ManifestEntry,
                           specs: Seq[Map[String, String]]): Boolean =
    specs.isEmpty ||
      specs.exists(_.forall { case (k, v) => e.partition.get(k).contains(v) })

  private def readCovered(m: java.util.Map[String, Any]): Seq[Map[String, String]] =
    Option(m.get("partitions")).map(_.asInstanceOf[String])
      .filter(_.nonEmpty).map(parsePartitions).getOrElse(Nil)

  private def coveredJson(specs: Seq[Map[String, String]]): String =
    specs.map(_.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }
      .mkString("/")).mkString(";")

  /** The table's live files when their contents are its rows: a
    * raw-convertible snapshot (append table or compacted PK table) with no
    * deletion vectors. */
  private def finalEntries(t: GraftTable, step: String): Seq[ManifestEntry] =
    t.readPlan() match {
      case ReadPlan.Raw(entries, skips) if skips.isEmpty => entries
      case _ => throw new IllegalStateException(
        s"global index $step needs a raw-convertible (compacted, DV-free) snapshot")
    }

  /** Build (or replace) the global index for `colName`. One distributed
    * pass: distinct (value, file) pairs + per-pair row count, persisted
    * value-clustered. Requires a raw-convertible snapshot (append table or
    * compacted PK table) so file contents equal table contents.
    *
    * `partitions` restricts the BUILD to the named partition specs (the
    * reference's `create_global_index(partitions => …)` — at 100 TB the
    * operational mode is indexing each day's partition as it lands, never
    * rebuilding history). Coverage is recorded with the index; lookups stay
    * EXACT under partial coverage because files of uncovered partitions are
    * always candidates (the index prunes only what it covers). */
  def build(spark: SparkSession, tableLoc: String, colName: String,
            partitions: Seq[Map[String, String]] = Nil): GraftTable = {
    import graft.core.RowOps._
    val t = GraftTable.load(spark, tableLoc)
    val entries = finalEntries(t, "build").filter(entryCovered(_, partitions))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("value",
        t.fileSchema(colName).dataType),
      org.apache.spark.sql.types.StructField("file",
        org.apache.spark.sql.types.StringType)))
    val rows =
      if (entries.isEmpty) // restriction matched no files: an EMPTY covered set
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      else t.readDataFiles(t.fileSchema, entries)
        .select(col(colName).as("value"),
          // relative path, stable across filesystems (URI-decoded by regexp
          // on the path tail: data/c-<uuid>/... is the manifest-relative form)
          regexp_extract(input_file_name(), "(data/.*)$", 1).as("file"))
    val pairs = rows.groupBy("value", "file").agg(count(lit(1)).as("cnt"))
    val idx = GraftTable.createOrReplace(spark, indexLoc(tableLoc, colName),
      pairs.schema, TableConfig())
    idx.write(pairs)
    idx.compactSorted("order", Seq("value")) // value-range file clustering
    t.sm.writeString(metaPath(tableLoc, colName), Json.write(Map(
      "column" -> colName, "snapshot" -> t.sm.latestSnapshotId.getOrElse(0L),
      "partitions" -> coveredJson(partitions))))
    idx
  }

  /**
   * INCREMENTAL refresh: bring the index from its recorded snapshot to the
   * current one by processing only the file-set DIFF — entries of removed
   * files are deleted (COW on the metadata-sized index table), new files
   * are scanned and appended, and only the NEW index files get value-
   * clustered (incremental clustering). Each refresh pays for the delta,
   * not the corpus; falls back to a full build when the recorded snapshot
   * has been expired or the index is missing.
   */
  def refresh(spark: SparkSession, tableLoc: String, colName: String): GraftTable = {
    import graft.core.RowOps._
    val t = GraftTable.load(spark, tableLoc)
    val mp = metaPath(tableLoc, colName)
    if (!t.sm.fs.exists(mp)) return build(spark, tableLoc, colName)
    val m = Json.mapper.readValue(t.sm.readString(mp),
      classOf[java.util.Map[String, Any]])
    val at = m.get("snapshot").asInstanceOf[Number].longValue()
    val covered = readCovered(m) // refresh keeps the recorded coverage
    val cur = t.sm.latestSnapshotId.getOrElse(0L)
    if (cur == at) return GraftTable.load(spark, indexLoc(tableLoc, colName))
    if (!t.sm.snapshotExists(at)) return build(spark, tableLoc, colName, covered)
    val entries = finalEntries(t, "refresh").filter(entryCovered(_, covered))
    val oldFiles = t.planFiles(Some(at)).filter(entryCovered(_, covered))
      .map(_.path).toSet
    val nowByPath = entries.map(e => e.path -> e).toMap
    val dead = oldFiles -- nowByPath.keySet
    val fresh = entries.filterNot(e => oldFiles.contains(e.path))
    val idx = GraftTable.load(spark, indexLoc(tableLoc, colName))
    if (dead.nonEmpty) idx.delete(col("file").isin(dead.toSeq: _*))
    if (fresh.nonEmpty) {
      val rows = t.readDataFiles(t.fileSchema, fresh)
        .select(col(colName).as("value"),
          regexp_extract(input_file_name(), "(data/.*)$", 1).as("file"))
      idx.write(rows.groupBy("value", "file").agg(count(lit(1)).as("cnt")))
      idx.clusterIncremental("order", Seq("value"))
    }
    t.sm.writeString(mp, Json.write(Map("column" -> colName, "snapshot" -> cur,
      "partitions" -> coveredJson(covered))))
    GraftTable.load(spark, indexLoc(tableLoc, colName))
  }

  /** Index freshness: Some(index, covered partition specs) iff index use is
    * enabled, it exists and covers the CURRENT snapshot; None → caller
    * falls back to a plain scan. Empty specs = the whole table is covered.
    * `global-index.enabled=false` (reference global-index.mdx:361-383)
    * disables acceleration while KEEPING the index files — flip it back to
    * resume using them. */
  private def freshIndex(spark: SparkSession, tableLoc: String, colName: String)
      : Option[(GraftTable, Seq[Map[String, String]])] = {
    val t = GraftTable.load(spark, tableLoc)
    if (!t.config.options.getOrElse("global-index.enabled", "true").toBoolean)
      return None
    val mp = metaPath(tableLoc, colName)
    if (!t.sm.fs.exists(mp)) return None
    val m = Json.mapper.readValue(t.sm.readString(mp),
      classOf[java.util.Map[String, Any]])
    val at = m.get("snapshot").asInstanceOf[Number].longValue()
    if (!t.sm.latestSnapshotId.contains(at)) None
    else Some((GraftTable.load(spark, indexLoc(tableLoc, colName)),
      readCovered(m)))
  }

  /** Data files containing any of `values` in `colName`, from the index
    * (the index read itself is stats-pruned to the values' file ranges).
    * Under PARTIAL partition coverage, every file of an uncovered partition
    * is a candidate — lookups stay exact, the index prunes what it covers.
    * None = no fresh index. */
  def lookupFiles(spark: SparkSession, tableLoc: String, colName: String,
                  values: Seq[Any]): Option[Seq[String]] =
    freshIndex(spark, tableLoc, colName).map { case (idx, covered) =>
      val hits = idx.read(filter = Some(col("value").isin(values: _*)))
        .select("file").distinct()
        .collect().map(_.getString(0)).toSeq
      if (covered.isEmpty) hits
      else {
        val uncovered = GraftTable.load(spark, tableLoc).planFiles()
          .filterNot(entryCovered(_, covered)).map(_.path)
        (hits ++ uncovered).distinct
      }
    }

  /** Equality/IN read through the index: plans ONLY the files the index
    * names; falls back to the table's own stats pruning when stale. */
  def readEquality(spark: SparkSession, tableLoc: String, colName: String,
                   values: Seq[Any]): DataFrame = {
    val t = GraftTable.load(spark, tableLoc)
    val cond = col(colName).isin(values: _*)
    lookupFiles(spark, tableLoc, colName, values) match {
      case Some(files) =>
        val fset = files.toSet
        val entries = t.planFiles().filter(e => fset.contains(e.path))
        t.readFiles(entries).filter(cond)
      case None => t.read(Some(cond))
    }
  }

  /** Planned data-file count for an equality lookup — test hook mirroring
    * ivfPlannedFiles. */
  def plannedFilesForEquality(spark: SparkSession, tableLoc: String,
                              colName: String, values: Seq[Any]): Int =
    lookupFiles(spark, tableLoc, colName, values).map(_.size)
      .getOrElse(GraftTable.load(spark, tableLoc).planFiles().size)

  /**
   * Index-driven TopN (`ORDER BY colName [DESC] LIMIT k`, nulls excluded):
   * 1. top-k INDEX rows by value (graft TopN pushdown prunes index files),
   * 2. the k-th value is the boundary: every top-k DATA row lies in a file
   *    holding some value past it,
   * 3. read only those files; caller re-sorts (ties included, exact-safe).
   * Returns the candidate rows (a superset of the top-k, already pruned).
   */
  def topNCandidates(spark: SparkSession, tableLoc: String, colName: String,
                     k: Int, desc: Boolean): DataFrame = {
    val t = GraftTable.load(spark, tableLoc)
    freshIndex(spark, tableLoc, colName) match {
      case None => t.read(Some(col(colName).isNotNull))
      case Some((idx, covered)) =>
        // TopN pushdown on the INDEX table through the DSv2 scan
        val idxDf = spark.read.format("graft").load(idx.location)
          .filter(col("value").isNotNull)
        val ord = if (desc) col("value").desc else col("value").asc
        val top = idxDf.orderBy(ord).limit(k).select("value").collect()
        if (top.isEmpty) return t.read(Some(col(colName).isNotNull))
        val boundary = top.last.get(0)
        val fileCond =
          if (desc) col("value") >= lit(boundary) else col("value") <= lit(boundary)
        val files = idx.read(filter = Some(fileCond))
          .select("file").distinct().collect().map(_.getString(0)).toSet
        val entries = t.planFiles().filter(e => files.contains(e.path))
        val dataCond =
          if (desc) col(colName) >= lit(boundary) else col(colName) <= lit(boundary)
        val fromCovered = t.readFiles(entries).filter(dataCond && col(colName).isNotNull)
        if (covered.isEmpty) fromCovered
        else {
          // PARTIAL coverage: the covered boundary cannot bound uncovered
          // partitions' values — their files join the candidate set whole
          // (the true top-k is a subset of boundary-file rows ∪ uncovered
          // rows; caller re-sorts)
          val uncov = t.planFiles().filterNot(entryCovered(_, covered))
          fromCovered.unionByName(
            t.readFiles(uncov).filter(col(colName).isNotNull))
        }
    }
  }

  /** Planned data-file count for a TopN — test hook. */
  def plannedFilesForTopN(spark: SparkSession, tableLoc: String,
                          colName: String, k: Int, desc: Boolean): Int = {
    freshIndex(spark, tableLoc, colName) match {
      case None => GraftTable.load(spark, tableLoc).planFiles().size
      case Some((idx, covered)) =>
        val idxDf = spark.read.format("graft").load(idx.location)
          .filter(col("value").isNotNull)
        val ord = if (desc) col("value").desc else col("value").asc
        val top = idxDf.orderBy(ord).limit(k).select("value").collect()
        if (top.isEmpty) return 0
        val boundary = top.last.get(0)
        val fileCond =
          if (desc) col("value") >= lit(boundary) else col("value") <= lit(boundary)
        val covFiles =
          idx.read(filter = Some(fileCond)).select("file").distinct().count().toInt
        covFiles + (if (covered.isEmpty) 0
          else GraftTable.load(spark, tableLoc).planFiles()
            .count(e => !entryCovered(e, covered)))
    }
  }
}
