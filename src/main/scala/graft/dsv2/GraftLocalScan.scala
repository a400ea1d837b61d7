package graft.dsv2

import java.util.OptionalLong

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And => CAnd, Attribute, BoundReference, Cast, Expression, GreaterThan => CGreaterThan, GreaterThanOrEqual => CGreaterThanOrEqual, In => CIn, InterpretedPredicate, IsNotNull => CIsNotNull, IsNull => CIsNull, LessThan => CLessThan, LessThanOrEqual => CLessThanOrEqual, Literal, Or => COr, StartsWith, UnsafeProjection, UnsafeRow, EqualTo => CEqualTo}
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.util.truncatedString
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.{FilterExec, LeafExecNode, ProjectExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch

/**
 * Pushed filters a scan applies EXACTLY, so Spark keeps no post-scan
 * `Filter` for them. The scan builder claims them only when they pin every
 * primary-key column by `=`/`IN` (a point read); every scan it can then
 * build evaluates them — the native scans in their readers, over merged
 * rows ([[ExactRows]]), the V1 scans through `GraftTable.read`.
 */
case class ExactFilter(filters: Array[Filter]) {
  /** Top-level columns the filters read. */
  def references: Seq[String] = filters.toSeq.flatMap(_.references).distinct

  /** `out` plus the filter columns it lacks (from `table`): what a reader
    * must produce before the filters run. */
  def widen(out: StructType, table: StructType): StructType = {
    val have = out.fieldNames.toSet
    StructType(out.fields ++ references.filterNot(have).map(table(_)))
  }

  /** The filters bound to rows of `in`, passing rows projected to `out`. */
  def rows(in: StructType, out: StructType): ExactRows =
    ExactRows(ExactFilter.expression(filters, in).getOrElse(
        throw new IllegalStateException(s"filters ${filters.mkString(",")} do not bind to $in")),
      out.fieldNames.map(in.fieldIndex), in.fields.map(_.dataType))
}

object ExactFilter {
  /** Most pinned key combinations a read may hold and still run in the
    * driver — the cap [[graft.core.StatsPrune.bucketCandidates]] uses. */
  val MaxLocalKeyGroups = 256

  /** Key combinations the filters pin (product over the primary-key
    * columns of the values an `=` or `IN` conjunct admits), or None when
    * some key column is not pinned. */
  def keyGroups(filters: Array[Filter], pks: Seq[String]): Option[Long] = {
    val perKey = pks.map { pk =>
      filters.collect {
        case EqualTo(`pk`, v) => Set[Any](v)
        case In(`pk`, vs) => vs.toSet
      }.reduceOption(_ intersect _).map(_.count(_ != null).toLong)
    }
    if (pks.isEmpty || perKey.exists(_.isEmpty)) None else Some(perKey.flatten.product)
  }

  /** The conjunction of `filters` over BoundReferences into `schema`, or
    * None when one reads a column `schema` lacks or holds a value that does
    * not convert to the column's type. */
  def expression(filters: Array[Filter], schema: StructType): Option[Expression] = {
    val names = schema.fieldNames
    def ref(a: String): Option[BoundReference] =
      Some(names.indexOf(a)).filter(_ >= 0).map(i => BoundReference(i, schema(i).dataType, true))
    def lit(v: Any, dt: DataType): Option[Literal] = scala.util.Try {
      val l = Literal(v)
      if (l.dataType == dt) l
      else Literal.create(Cast(l, dt, Some(SQLConf.get.sessionLocalTimeZone)).eval(), dt)
    }.toOption
    def cmp(a: String, v: Any)(mk: (Expression, Expression) => Expression) =
      for (r <- ref(a); l <- lit(v, r.dataType)) yield mk(r, l)
    def conv(f: Filter): Option[Expression] = f match {
      case EqualTo(a, v) => cmp(a, v)(CEqualTo(_, _))
      case GreaterThan(a, v) => cmp(a, v)(CGreaterThan(_, _))
      case GreaterThanOrEqual(a, v) => cmp(a, v)(CGreaterThanOrEqual(_, _))
      case LessThan(a, v) => cmp(a, v)(CLessThan(_, _))
      case LessThanOrEqual(a, v) => cmp(a, v)(CLessThanOrEqual(_, _))
      case In(a, vs) => ref(a).flatMap { r =>
        val ls = vs.toSeq.map(lit(_, r.dataType))
        if (ls.exists(_.isEmpty)) None else Some(CIn(r, ls.flatten))
      }
      case IsNull(a) => ref(a).map(CIsNull(_))
      case IsNotNull(a) => ref(a).map(CIsNotNull(_))
      case StringStartsWith(a, p) => ref(a).filter(_.dataType == StringType)
        .map(StartsWith(_, Literal(p)))
      case And(l, r) => for (x <- conv(l); y <- conv(r)) yield CAnd(x, y)
      case Or(l, r) => for (x <- conv(l); y <- conv(r)) yield COr(x, y)
      case _ => None
    }
    val parts = filters.toSeq.map(conv)
    if (parts.exists(_.isEmpty)) None
    else Some(parts.flatten.reduceOption(CAnd(_, _)).getOrElse(Literal.TrueLiteral))
  }
}

/** Rows of a reader over `in`-shaped rows that pass `pred`, projected to
  * the `outIdx` columns — the reader-side half of an [[ExactFilter]]. The
  * predicate is interpreted: a point read sees a handful of rows, so
  * compiling it would cost more than it saves. */
case class ExactRows(pred: Expression, outIdx: Array[Int], inTypes: Array[DataType]) {
  def apply(in: PartitionReader[InternalRow]): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val test = InterpretedPredicate(pred)
      test.initialize(0)
      private val proj = UnsafeProjection.create(
        outIdx.toSeq.map(i => BoundReference(i, inTypes(i), true): Expression))
      private var cur: InternalRow = _
      override def next(): Boolean = {
        while (in.next()) {
          val r = in.get()
          if (test.eval(r)) { cur = proj(r); return true }
        }
        false
      }
      override def get(): InternalRow = cur
      override def close(): Unit = in.close()
    }
}

/** The rows of a columnar reader as views into its batches — nothing is
  * copied; a row stays valid until the next `next()`. Positions set in
  * `deleted` (a deletion vector, null for none) are skipped, counted in
  * file order across batches. */
private[dsv2] final class BatchRows(in: PartitionReader[ColumnarBatch],
                                    deleted: org.roaringbitmap.RoaringBitmap)
    extends PartitionReader[InternalRow] {
  private var batch: ColumnarBatch = _
  private var n = 0
  private var i = 0
  private var base = 0L // file position of the batch's row 0
  override def next(): Boolean = {
    i += 1
    var found = false
    var more = true
    while (!found && more) {
      while (!found && i < n) {
        if (deleted == null || !deleted.contains((base + i).toInt)) found = true
        else i += 1
      }
      if (!found) {
        more = in.next()
        if (more) { base += n; batch = in.get(); n = batch.numRows(); i = 0 }
      }
    }
    found
  }
  override def get(): InternalRow = batch.getRow(i)
  override def close(): Unit = in.close()
}

/**
 * A key-pinned read served in the driver: `rows()` runs the native scan's
 * own `planInputPartitions()` and reader factory in-process, so Spark runs
 * no job and no task for it. The scan builder returns it only when the
 * read pins at most [[ExactFilter.MaxLocalKeyGroups]] key combinations and
 * the native scan has at most one input partition (none when the key's
 * bucket holds no file) — a read that would run as one task anyway, so no
 * parallelism is lost; the driver holds the
 * pinned keys' rows plus one head row per file of the streaming merge.
 * The native scan applies the claimed filters in its reader.
 */
class GraftLocalScan(native: Scan with Batch, keyGroups: Long)
    extends LocalScan with SupportsReportStatistics {
  override def readSchema(): StructType = native.readSchema()

  override def rows(): Array[InternalRow] = read

  /** The rows read, counted exactly and sized as Spark sizes a local
    * relation, so a join can broadcast a lookup. */
  override def estimateStatistics(): Statistics = new Statistics {
    override def numRows(): OptionalLong = OptionalLong.of(read.length)
    override def sizeInBytes(): OptionalLong =
      OptionalLong.of(math.max(1L, read.length * (8L + readSchema().defaultSize)))
  }

  private lazy val read: Array[InternalRow] = {
    val factory = native.createReaderFactory()
    val out = Array.newBuilder[InternalRow]
    native.planInputPartitions().foreach { p =>
      val r = factory.createReader(p)
      try while (r.next()) out += r.get().copy()
      finally r.close()
    }
    out.result()
  }

  override def description(): String =
    s"GraftLocalScan(keyGroups=$keyGroups, ${native.description()})"
}

/** Physical node of a [[GraftLocalScan]]: Spark's LocalTableScanExec
  * prints no scan description, so EXPLAIN could not tell a driver-served
  * read from any other local relation; this one names the scan. Collect
  * and take return the rows with no job. */
case class GraftLocalScanExec(output: Seq[Attribute], @transient rows: Seq[InternalRow],
                              scanDescription: String) extends LeafExecNode {
  override lazy val metrics: Map[String, SQLMetric] =
    Map("numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  @transient private lazy val unsafeRows: Array[InternalRow] = {
    lazy val proj = UnsafeProjection.create(schema)
    rows.iterator.map {
      case u: UnsafeRow => u
      case r => proj(r).copy()
    }.toArray
  }

  private def counted(rs: Array[InternalRow]): Array[InternalRow] = {
    longMetric("numOutputRows").add(rs.length)
    rs
  }

  override protected def doExecute(): org.apache.spark.rdd.RDD[InternalRow] = {
    val n = longMetric("numOutputRows")
    sparkContext.parallelize(unsafeRows.toSeq, 1).map { r => n += 1; r }
  }
  override def executeCollect(): Array[InternalRow] = counted(unsafeRows)
  override def executeTake(limit: Int): Array[InternalRow] = counted(unsafeRows.take(limit))

  override def simpleString(maxFields: Int): String =
    s"$nodeName ${truncatedString(output, "[", ", ", "]", maxFields)} $scanDescription"
}

/** Plans a [[GraftLocalScan]] relation (with any residual filter and
  * projection above it) as a [[GraftLocalScanExec]], so EXPLAIN names the
  * venue. The strategy is registered with every session that resolves a
  * graft table (catalog or `format("graft")`); in a session where it is
  * not, Spark's own DataSourceV2Strategy plans the same scan as a bare
  * LocalTableScanExec over the same rows — equally job-free, only unnamed
  * (PointReadSpec checks both). */
object GraftLocalScanStrategy extends SparkStrategy {
  def register(spark: SparkSession): Unit = synchronized {
    if (!spark.experimental.extraStrategies.contains(this))
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ this
  }

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PhysicalOperation(project, filters,
        DataSourceV2ScanRelation(_, scan: GraftLocalScan, output, _, _)) =>
      val leaf = GraftLocalScanExec(output, scan.rows().toSeq, scan.description())
      val filtered = filters.reduceLeftOption(CAnd(_, _))
        .map(FilterExec(_, leaf)).getOrElse(leaf)
      (if (project.map(_.toAttribute) == filtered.output) filtered
       else ProjectExec(project, filtered)) :: Nil
    case _ => Nil
  }
}
