package graft.dsv2

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter => LFilter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

/**
 * Literal-key MAP access pushdown onto declared shredded key sub-columns.
 *
 * `SELECT id, attrs['k1'] FROM t WHERE attrs['k2'] > 5` on a table that
 * declares `fields.attrs.shred-keys = k1,k2` must not deserialize whole map
 * values: the write materialized each declared key as a typed physical side
 * column (stats included), so the scan can serve `attrs` retyped as
 * `struct<k1, k2>` reading ONLY those columns — at 100 TB a wide
 * metadata-map column (the common training-data shape) otherwise dominates
 * the scan's bytes. Capability of the reference's shared-shredding MAP
 * storage layout + `PushDownMapSelectedKeys.scala:36`
 * (PushDownMapSelectedKeysBase), re-expressed over this engine's declared
 * hot-key side columns.
 *
 * Runs in the session's post-optimization user batch (after Early Scan
 * Push-Down, so the scan and its pruned read schema exist). Shapes handled:
 * Project over the scan relation, Project over Filter over it, and
 * Aggregate over either (`SELECT count(*) FROM t WHERE attrs['k'] > 5` has
 * no Project of the map — the filter's map access still rewrites to the
 * side columns; the reference rule matches only the Project shape). Filter
 * conditions are rewritten too, which lets [[GraftVariantPrune]] — same
 * batch, fixed-point — file-skip on the side columns' stats. The rewritten
 * node is always a uses-boundary (a Project list or an Aggregate's output
 * aliases), so the retyped attribute never escapes to an unrewritten
 * parent. A MAP column used WHOLESALE anywhere in the matched shape
 * (projected as a value, non-literal key, undeclared key) is left
 * untouched; only columns whose every use is a declared literal-key lookup
 * are rewritten. Merge-needing PK reads keep the V1 plan (correct,
 * unpruned), mirroring the reference's PaimonScan-only match.
 */
object GraftMapShredRule extends Rule[LogicalPlan] {

  /** Idempotently append to `spark.experimental.extraOptimizations` —
    * same registration idiom as [[GraftVariantPrune]]. */
  def register(spark: SparkSession): Unit = synchronized {
    if (!spark.experimental.extraOptimizations.contains(this))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ this
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case p @ Project(_, rel: DataSourceV2ScanRelation) =>
      rewriter(p.projectList, rel).map { case (rw, r) =>
        Project(p.projectList.map(named(rw)), r)
      }.getOrElse(p)
    case p @ Project(_, LFilter(cond, rel: DataSourceV2ScanRelation)) =>
      rewriter(p.projectList :+ cond, rel).map { case (rw, r) =>
        Project(p.projectList.map(named(rw)), LFilter(rw(cond), r))
      }.getOrElse(p)
    case a @ Aggregate(ge, ae, rel: DataSourceV2ScanRelation, _) =>
      rewriter(ae ++ ge, rel).map { case (rw, r) =>
        a.copy(groupingExpressions = ge.map(rw),
          aggregateExpressions = ae.map(named(rw)), child = r)
      }.getOrElse(a)
    case a @ Aggregate(ge, ae, LFilter(cond, rel: DataSourceV2ScanRelation), _) =>
      rewriter((ae ++ ge) :+ cond, rel).map { case (rw, r) =>
        a.copy(groupingExpressions = ge.map(rw),
          aggregateExpressions = ae.map(named(rw)),
          child = LFilter(rw(cond), r))
      }.getOrElse(a)
  }

  private def named(rw: Expression => Expression)(e: NamedExpression): NamedExpression =
    rw(e).asInstanceOf[NamedExpression]

  /** If every use of a declared MAP column in `uses` is a declared
    * literal-key lookup, returns the expression rewriter (map access →
    * struct field) and the relation over the side-column-serving scan. */
  private def rewriter(uses: Seq[Expression], rel: DataSourceV2ScanRelation)
      : Option[(Expression => Expression, DataSourceV2ScanRelation)] = {
    val scan = rel.scan match {
      // plain raw scans only: the variant/map-shred subclasses are already
      // rewritten (idempotence under the fixed-point batch), merge scans
      // must keep their physical schema, and so must a scan that applies
      // claimed filters to the columns it reads
      case s: GraftBatchScan if !s.isInstanceOf[GraftVariantPrunable] &&
          s.exact.isEmpty => s
      case _ => return None
    }
    val specs = scan.graftTable.mapShredSpecs
    if (specs.isEmpty) return None

    // collect per-attribute declared literal keys; an attribute with ANY
    // other use (wholesale projection, non-literal or undeclared key) fails
    val keysByAttr = mutable.LinkedHashMap
      .empty[ExprId, (AttributeReference, mutable.LinkedHashSet[String])]
    val failed = mutable.Set.empty[ExprId]
    def walk(e: Expression): Unit = e match {
      case GetMapValue(a: AttributeReference, Literal(k: UTF8String, StringType))
          if specs.contains(a.name) && specs(a.name)._2.contains(k.toString) =>
        keysByAttr.getOrElseUpdate(a.exprId,
          (a, mutable.LinkedHashSet.empty[String]))._2 += k.toString
      case a: AttributeReference if specs.contains(a.name) =>
        failed += a.exprId
      case other => other.children.foreach(walk)
    }
    uses.foreach(walk)
    val selected = keysByAttr.filterNot { case (id, _) => failed.contains(id) }
    if (selected.isEmpty) return None

    // build the retyped attributes + scan serving maps
    val rewrites = selected.map { case (id, (a, keys)) =>
      val (vt, physByKey) = specs(a.name)
      val ordered = keys.toSeq
      val fields = ordered.zipWithIndex.map { case (k, i) =>
        (StructField(i.toString, vt, nullable = true), physByKey(k))
      }
      val newAttr = a.withDataType(StructType(fields.map(_._1)))
        .asInstanceOf[AttributeReference]
      id -> (newAttr, ordered, fields)
    }.toMap
    val mapCols = rewrites.map { case (_, (attr, _, fields)) =>
      attr.name -> fields
    }
    val newScan = scan.withMapShred(mapCols)
    val newOutput = rel.output.map(a =>
      rewrites.get(a.exprId).map(_._1).getOrElse(a))
    val newRel = rel.copy(scan = newScan, output = newOutput)

    def rw(e: Expression): Expression = e.transformUp {
      case GetMapValue(a: AttributeReference, Literal(k: UTF8String, StringType))
          if rewrites.contains(a.exprId) =>
        val (newAttr, ordered, _) = rewrites(a.exprId)
        GetStructField(newAttr, ordered.indexOf(k.toString),
          Some(s"${a.name}[${k.toString}]"))
    }
    Some((rw _, newRel))
  }
}
