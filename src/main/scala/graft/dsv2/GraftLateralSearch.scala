package graft.dsv2

import graft.core.GraftTable
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, LateralJoin, LeafNode, LogicalPlan, Project, SubqueryAlias, UnaryNode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.graft.SparkShims
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row

/**
 * SQL LATERAL vector search — the reference's per-row ANN join spelling
 * (global-index.mdx; PaimonTableValuedFunctions.resolveLateralVectorSearch,
 * RepartitionLateralVectorSearchInput.scala, PushDownLateralVectorSearchFilter.scala):
 *
 * {{{
 *   SELECT q.id, r.vec_id, r.score
 *   FROM queries q,
 *   LATERAL (SELECT * FROM graft_vector_search('db.corpus', 'embedding',
 *                                              q.embedding, 5)) r
 * }}}
 *
 * When `graft_vector_search`'s query-vector argument is CORRELATED (not a
 * literal), the TVF builder returns [[GraftDynamicVectorSearch]] — a leaf
 * placeholder whose output is the searched table's columns + `score`. The
 * analyzer resolves the outer reference through the lateral subquery as
 * usual; [[GraftLateralVectorSearchRule]] then collapses the LateralJoin
 * into [[GraftLateralVectorSearchNode]], which [[GraftLateralStrategy]]
 * plans as one BATCHED search: the query rows broadcast, the corpus scans
 * ONCE with per-partition bounded k-heaps, and the per-query top-k merges
 * with a tiny window ([[graft.pipeline.Similarity.batchTopK]]). An inner
 * `WHERE` on searched-table columns pushes into the corpus read
 * (stats/file skipping — the capability of the reference's
 * PushDownLateralVectorSearchFilter).
 *
 * Scale shape: the reference executes one index search PER LEFT ROW on left
 * partitions (hence its repartition-input rule); this engine's batched form
 * instead broadcasts the query set and pays ONE corpus scan regardless of
 * left parallelism, so that rule has no equivalent here. The flip side is
 * the query batch is driver-collected: up to
 * `graft.vector-search.lateral.max-queries` (default 10000) rows search in
 * one pass; a larger left side degrades to chunked corpus passes (with a
 * warning) instead of failing — the DataFrame `batchTopK` API remains the
 * preferred spelling for corpus-scale query sets.
 */
object GraftLateralSearch {
  val ScoreCol = "score"
  val MaxQueriesKey = "graft.vector-search.lateral.max-queries"

  /** Right-side output of the dynamic TVF: searched table columns + score. */
  def outputFor(t: GraftTable): Seq[AttributeReference] =
    (t.dataSchema.fields.map(f =>
      AttributeReference(f.name, f.dataType, nullable = true)()) :+
      AttributeReference(ScoreCol, DoubleType, nullable = false)()).toSeq
}

/** Placeholder the TVF builder returns for a correlated query vector; holds
  * the still-to-resolve vector expression. Never survives analysis:
  * [[GraftLateralVectorSearchRule]] must absorb it into a lateral node, and
  * any other use fails analysis loudly. */
case class GraftDynamicVectorSearch(loc: String, column: String,
                                    vecExpr: Expression, k: Int,
                                    output: Seq[Attribute]) extends LeafNode
// resolved follows the default (vecExpr resolved): star expansion over the
// node needs it. A dyn node that escapes the lateral rewrite has no
// planner strategy and fails at planning, naming this node.

/** left-row × its top-k ANN hits over the table at `loc`. `rightNames`
  * gives, per right output attribute, the searched-table column (or
  * [[GraftLateralSearch.ScoreCol]]) it carries. */
case class GraftLateralVectorSearchNode(child: LogicalPlan,
                                        loc: String, column: String,
                                        vecExpr: Expression, k: Int,
                                        innerFilter: Option[Expression],
                                        rightNames: Seq[String],
                                        rightOutput: Seq[Attribute])
    extends UnaryNode {
  override def output: Seq[Attribute] = child.output ++ rightOutput
  // rightOutput is PRODUCED here (like Generate's generatorOutput), not a
  // reference into the child — without this the missing-input check fails
  override def producedAttributes: AttributeSet = AttributeSet(rightOutput)
  override protected def withNewChildInternal(newChild: LogicalPlan)
      : GraftLateralVectorSearchNode = copy(child = newChild)
}

/** Collapses `LateralJoin(left, vector_search(..., outer vec, k))` into
  * [[GraftLateralVectorSearchNode]]. Supported right-side shapes (the
  * reference's contract): `SELECT <columns> FROM vector_search(...)` with
  * an optional `WHERE <searched-table predicate>`. */
case class GraftLateralVectorSearchRule(session: SparkSession)
    extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ LateralJoin(left, right, joinType, cond)
        if left.resolved && containsDyn(right.plan) =>
      extract(right.plan) match {
        case Some((dyn, rightNames, rightOutput, innerFilter))
            if vecResolved(dyn.vecExpr) =>
          require(joinType == Inner,
            s"LATERAL graft_vector_search supports INNER join only, got $joinType")
          val node = GraftLateralVectorSearchNode(left, dyn.loc, dyn.column,
            stripOuter(dyn.vecExpr), dyn.k, innerFilter.map(stripOuter),
            rightNames, rightOutput)
          cond.map(LFilter(_, node)).getOrElse(node)
        case Some(_) => j // vector expression not resolved yet — next pass
        case None if rightSettled(right.plan) =>
          throw new UnsupportedOperationException(
            "LATERAL graft_vector_search supports only " +
              "SELECT <columns> FROM graft_vector_search(...) " +
              "[WHERE <searched-table predicate>]")
        case None => j // subquery shape not settled yet — next pass
      }
  }

  /** The right plan is as resolved as it will get: everything except our
    * placeholder (and expressions over it) has settled — only then is a
    * shape mismatch a real user error rather than an analysis in flight. */
  private def rightSettled(p: LogicalPlan): Boolean =
    !p.exists {
      case _: GraftDynamicVectorSearch => false
      case other => other.expressions.exists(e =>
        !e.resolved && e.collectFirst { case _: OuterReference => () }.isEmpty)
    }

  private def containsDyn(p: LogicalPlan): Boolean =
    p.collectFirst { case _: GraftDynamicVectorSearch => () }.isDefined

  private def vecResolved(e: Expression): Boolean = e.resolved

  private def stripOuter(e: Expression): Expression =
    e.transform { case OuterReference(a) => a }

  /** (dyn, per-right-attr searched-table column name, right output attrs,
    * inner searched-table filter). The right output is `p.output` VERBATIM
    * — it keeps the subquery alias qualifier (`r.vec_id`) and the exprIds
    * the outer query references. */
  private def extract(p: LogicalPlan)
      : Option[(GraftDynamicVectorSearch, Seq[String], Seq[Attribute],
                Option[Expression])] = {
    def strip(q: LogicalPlan): LogicalPlan = q match {
      case SubqueryAlias(_, c) => strip(c)
      case other => other
    }
    def nameOf(dyn: GraftDynamicVectorSearch, a: Attribute): Option[String] =
      dyn.output.find(_.exprId == a.exprId).map(_.name)
    // exprId → searched-table column name for the stripped body's output
    val byId: Option[(GraftDynamicVectorSearch, Map[ExprId, String],
                      Option[Expression])] = strip(p) match {
      case dyn: GraftDynamicVectorSearch =>
        Some((dyn, dyn.output.map(a => a.exprId -> a.name).toMap, None))
      case LFilter(f, body) => strip(body) match {
        case dyn: GraftDynamicVectorSearch if filterOk(dyn, f) =>
          Some((dyn, dyn.output.map(a => a.exprId -> a.name).toMap, Some(f)))
        case _ => None
      }
      case Project(list, body) =>
        val (inner, filt) = strip(body) match {
          case LFilter(f, b) => (strip(b), Some(f))
          case other => (other, None)
        }
        inner match {
          case dyn: GraftDynamicVectorSearch
              if filt.forall(filterOk(dyn, _)) =>
            val pairs = list.map {
              case a: Attribute => nameOf(dyn, a).map(a.exprId -> _)
              case al @ Alias(a: Attribute, _) =>
                nameOf(dyn, a).map(al.exprId -> _)
              case _ => None
            }
            if (pairs.exists(_.isEmpty)) None
            else Some((dyn, pairs.flatten.toMap, filt))
          case _ => None
        }
      case _ => None
    }
    byId.flatMap { case (dyn, names, filt) =>
      if (p.output.forall(a => names.contains(a.exprId)))
        Some((dyn, p.output.map(a => names(a.exprId)), p.output, filt))
      else None
    }
  }

  /** The inner WHERE must be a deterministic predicate over searched-table
    * columns only (never the score, never outer refs) so it can push into
    * the corpus read. */
  private def filterOk(dyn: GraftDynamicVectorSearch, f: Expression): Boolean =
    f.deterministic && !SubqueryExpression.hasSubquery(f) &&
      f.references.forall(a => dyn.output.exists(o =>
        o.exprId == a.exprId && o.name != GraftLateralSearch.ScoreCol)) &&
      f.collectFirst { case o: OuterReference => o }.isEmpty
}

object GraftLateralStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: GraftLateralVectorSearchNode =>
      GraftLateralVectorSearchExec(planLater(n.child), n.loc, n.column,
        n.vecExpr, n.k, n.innerFilter, n.rightNames, n.output) :: Nil
    case _ => Nil
  }
}

object GraftLateralVectorSearchExec {
  /** Test diagnostic: the physical plan of the last lateral search's inner
    * DataFrame (LateralSearchSpec asserts it holds exactly ONE corpus
    * scan). Written on every execution; never read by the engine. */
  val lastInnerPlan = new java.util.concurrent.atomic.AtomicReference[String]("")
}

/** Executes the batched lateral search: collect the query rows, evaluate
  * each row's query vector, run ONE batched top-k corpus pass that CARRIES
  * the projected corpus columns through its per-partition bounded heaps
  * ([[graft.pipeline.Similarity.batchTopKCols]]) — the hits never need a
  * second corpus scan to re-attach columns — then join the |q|·k hits to
  * the (tiny, broadcast) query rows. The distributed work is exactly one
  * corpus scan — no |left|×|corpus| shuffle anywhere. A query side larger
  * than `graft.vector-search.lateral.max-queries` degrades gracefully:
  * the query set chunks into max-queries-sized batches, each paying its
  * own corpus pass (ceil(|q|/max) passes total) — correct for any left
  * size, with the broadcast footprint still bounded per pass. */
case class GraftLateralVectorSearchExec(child: SparkPlan,
                                        loc: String, column: String,
                                        vecExpr: Expression, k: Int,
                                        innerFilter: Option[Expression],
                                        rightNames: Seq[String],
                                        output: Seq[Attribute])
    extends UnaryExecNode {

  override protected def withNewChildInternal(newChild: SparkPlan)
      : GraftLateralVectorSearchExec = copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val session = SparkSession.active
    val maxQ = session.conf
      .getOption(GraftLateralSearch.MaxQueriesKey).map(_.toInt).getOrElse(10000)
    val rows = child.executeCollect()
    if (rows.length > maxQ) logWarning(
      s"LATERAL vector search input has ${rows.length} rows, over the " +
        s"${GraftLateralSearch.MaxQueriesKey}=$maxQ per-pass bound — " +
        s"degrading to ${(rows.length + maxQ - 1) / maxQ} chunked corpus " +
        "passes; prefer the batched DataFrame API (Similarity.batchTopK) " +
        "for corpus-scale query sets")
    val qid = "__graft_lateral_qid"
    val leftSchema = StructType(child.output.zipWithIndex.map { case (a, i) =>
      StructField(s"__l_$i", a.dataType, a.nullable) })
    val toScala = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToScalaConverter(StructType(child.output.map(a =>
        StructField(a.name, a.dataType, a.nullable))))
    val leftRows = rows.zipWithIndex.map { case (r, i) =>
      Row.fromSeq(toScala(r).asInstanceOf[Row].toSeq :+ i.toLong)
    }.toSeq
    val bound = BindReferences.bindReference(vecExpr, child.output)
    val queries = rows.zipWithIndex.map { case (r, i) =>
      val arr = bound.eval(r)
      require(arr != null, "LATERAL vector search: null query vector")
      val a = arr.asInstanceOf[ArrayData]
      val vec = vecExpr.dataType match {
        case ArrayType(FloatType, _) => a.toFloatArray.toSeq
        case ArrayType(DoubleType, _) => a.toDoubleArray.toSeq.map(_.toFloat)
        case other => throw new IllegalArgumentException(
          s"query vector must be ARRAY<FLOAT|DOUBLE>, got ${other.sql}")
      }
      (i.toLong, vec)
    }.toSeq

    val t = GraftTable.load(session, loc)
    val idCol = t.config.primaryKeys.headOption.getOrElse(
      throw new IllegalArgumentException(
        s"LATERAL vector search needs a primary-keyed corpus table: $loc"))
    val filterCol = innerFilter.map(f => SparkShims.column(f.transform {
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
    }))
    // inner WHERE pushes into the read → manifest stats / file-index skip
    val corpus = t.read(filterCol, None)
    // the hit rows' columns ride the top-k heaps themselves (bounded at
    // |q|·k entries per partition) — ONE corpus scan, no re-attach join
    val carry = rightNames.filter(_ != GraftLateralSearch.ScoreCol).distinct
    val chunks = queries.grouped(math.max(1, maxQ)).toSeq
    val topkParts =
      (if (chunks.isEmpty) Seq(Seq.empty[(Long, Seq[Float])]) else chunks)
        .map(c => graft.pipeline.Similarity
          .batchTopKCols(corpus, idCol, column, c, k, carry))
    val topk = topkParts.reduce(_ unionAll _).withColumnRenamed("qid", qid)
    val rightSel = rightNames.zipWithIndex.map { case (n, i) =>
      (if (n == GraftLateralSearch.ScoreCol) col("__score")
       else col(s"__c_${carry.indexOf(n)}")).as(s"__r_$i")
    }
    val leftDf = session.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(leftRows).asJava),
      StructType(leftSchema.fields :+ StructField(qid, LongType, false)))
    val joined = topk.select((col(qid) +: rightSel).toIndexedSeq: _*)
      .join(broadcast(leftDf), qid)
    val ordered = joined.select(
      (child.output.indices.map(i => col(s"__l_$i")) ++
        rightNames.indices.map(i => col(s"__r_$i"))).toIndexedSeq: _*)
    val qe = ordered.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
      .queryExecution
    GraftLateralVectorSearchExec.lastInnerPlan.set(qe.executedPlan.toString)
    qe.toRdd
  }
}
