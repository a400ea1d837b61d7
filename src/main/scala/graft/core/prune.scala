package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans
import org.apache.spark.sql.graft.SparkShims
import org.apache.spark.sql.types._

/**
 * Manifest-level file skipping: evaluate simple predicate conjuncts against
 * per-file min/max/nullCount stats (cf. paimon
 * KeyValueFileStoreScan.filterByStats, paimon-core/.../operation/KeyValueFileStoreScan.java:141).
 *
 * Conservative: a file is kept unless a conjunct PROVES it cannot match.
 * Correctness never depends on this — Spark re-applies the full filter on
 * read; this only reduces planned files/tasks.
 */
object StatsPrune {

  /** Timestamp stat/literal values normalize to epoch-micros: stats may be
    * raw micros (TimestampType stats are collected as unix_micros) or an ISO
    * string (TimestampNTZ cast-to-string). String forms parse through one
    * canonical UTC path so trailing-fraction-zero trimming can never skew
    * the comparison. */
  private def tsMicros(s: String): Long =
    if (s.nonEmpty && s.forall(c => c.isDigit || c == '-')) s.toLong
    else org.apache.spark.sql.catalyst.util.DateTimeUtils
      .stringToTimestamp(org.apache.spark.unsafe.types.UTF8String.fromString(s),
        java.time.ZoneOffset.UTC)
      .getOrElse(throw new IllegalArgumentException(s"unparseable timestamp stat: $s"))

  /** Ordering-aware comparison of two stat values under a schema type. */
  private def cmp(dt: DataType, a: String, b: String): Int = dt match {
    case _: ByteType | _: ShortType | _: IntegerType | _: LongType =>
      java.lang.Long.compare(a.toLong, b.toLong)
    case _: FloatType | _: DoubleType =>
      // parseDouble accepts NaN/Infinity/-Infinity (BigDecimal would throw);
      // Double.compare orders NaN above +Infinity, matching Spark
      java.lang.Double.compare(a.toDouble, b.toDouble)
    case _: DecimalType => BigDecimal(a).compare(BigDecimal(b))
    case _: BooleanType => java.lang.Boolean.compare(a.toBoolean, b.toBoolean)
    case _: TimestampType | _: TimestampNTZType =>
      java.lang.Long.compare(tsMicros(a), tsMicros(b))
    // dates serialized in ISO form by Spark's cast-to-string: the
    // lexicographic order matches chronological order
    case _ => a.compareTo(b)
  }

  /** Public ordering-aware stat comparison (used by aggregate pushdown). */
  def compare(dt: DataType, a: String, b: String): Int = cmp(dt, a, b)

  /** Column `name`'s min (or max, `wantMax`) over `entries`, folded from
    * manifest stats alone: Some(None) when no file holds a non-null value
    * there, None when some file's stats cannot answer exactly. Stats must
    * be present, exact (not truncated by metadata.stats-mode), and carry
    * null bounds only when the file is provably all-null there (nullCount
    * == rowCount; nulls don't contribute to min/max, so folding the rest
    * stays exact). A file whose stats were skipped (mode none/counts,
    * nullCount -1 or < rowCount with null bounds) could hide the true
    * extreme. */
  def manifestExtreme(entries: Seq[ManifestEntry], name: String, dt: DataType,
                      wantMax: Boolean): Option[Option[String]] = {
    val usable = entries.forall(e => e.stats.get(name).exists(s =>
      !s.inexact && s.nullCount >= 0 &&
        ((s.min != null && s.max != null) || s.nullCount == e.rowCount)))
    if (!usable) None
    else Some(entries.flatMap(_.stats.get(name))
      .flatMap(s => Option(if (wantMax) s.max else s.min))
      .reduceOption((a, b) => if (cmp(dt, a, b) >= 0 == wantMax) a else b))
  }

  private def litStr(l: Literal): Option[String] = Option(l.value).map {
    case d: org.apache.spark.unsafe.types.UTF8String => d.toString
    case v => v.toString
  }

  /** Normalize literals into the stat comparison space: timestamps as
    * epoch-micros digits (cmp parses either micros or ISO), dates as ISO. */
  private def litText(dt: DataType, l: Literal): Option[String] = dt match {
    case _: TimestampType | _: TimestampNTZType =>
      Option(l.value).map(_.asInstanceOf[Long].toString)
    case _: DateType =>
      Option(l.value).map { v =>
        org.apache.spark.sql.catalyst.util.DateTimeUtils
          .daysToLocalDate(v.asInstanceOf[Int]).toString
      }
    case _ => litStr(l)
  }

  /** True iff the file given by `stats`/`rowCount` MIGHT contain a matching
    * row for every conjunct of `pred` we understand. */
  def mightMatch(pred: Expression, schema: StructType,
                 stats: Map[String, ColStat], rowCount: Long): Boolean = {
    val conjuncts = splitConjuncts(pred)
    conjuncts.forall(c => conjunctMightMatch(c, schema, stats, rowCount))
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  /** Keep only conjuncts whose columns all lie in `allowed`; None when no
    * conjunct survives. Merge-on-read file pruning must restrict itself to
    * columns CONSTANT across all versions of a key (primary key, partition):
    * pruning a file by a value-column conjunct can drop the newest version
    * of a key while an older file keeps a stale one — the merge then
    * resurrects the stale row (cf. paimon KeyValueFileStoreScan, which
    * prunes by key stats; value filters apply only to fully-merged files). */
  private[core] def restrict(pred: Expression, allowed: Set[String]): Option[Expression] =
    splitConjuncts(pred)
      .filter(_.references.forall(r => allowed.contains(r.name)))
      .reduceOption(And)

  /** Normalize a comparison conjunct to (column, literal, flipped, op) —
    * shared by manifest-stat pruning and file-index evaluation. `flipped`
    * means the literal was on the left (`5 < c`). */
  private[core] def attrLit(e: Expression): Option[(String, Literal, Boolean, String)] =
    e match {
      case EqualTo(a, b) => colAndLit(a, b).map { case (n, l, f) => (n, l, f, "=") }
      case LessThan(a, b) => colAndLit(a, b).map { case (n, l, f) => (n, l, f, "<") }
      case LessThanOrEqual(a, b) => colAndLit(a, b).map { case (n, l, f) => (n, l, f, "<=") }
      case GreaterThan(a, b) => colAndLit(a, b).map { case (n, l, f) => (n, l, f, ">") }
      case GreaterThanOrEqual(a, b) => colAndLit(a, b).map { case (n, l, f) => (n, l, f, ">=") }
      case _ => None
    }

  /** Predicate transforms (cf. paimon predicate transform mapping,
    * SURVEY §2.2): fold deterministic constant subtrees to literals (the
    * analyzer leaves `Cast('1998-01-01' AS TIMESTAMP)` unfolded in the
    * analyzed plan) and see through order-preserving WIDENING casts on the
    * column side (`cast(intCol AS BIGINT) = 5L` prunes on intCol stats). */
  private def normalize(e: Expression): Expression = e match {
    case l: Literal => l
    case _ if e.foldable && e.deterministic =>
      try Literal.create(e.eval(null), e.dataType) catch { case _: Exception => e }
    case c: Cast => c.child match {
      case ar: AttributeReference if wideningCast(ar.dataType, c.dataType) => ar
      case _ => e
    }
    case _ => e
  }

  /** Casts where ordering and textual-numeric comparison survive. */
  private def wideningCast(from: DataType, to: DataType): Boolean = {
    def rank(dt: DataType): Int = dt match {
      case ByteType => 1; case ShortType => 2; case IntegerType => 3; case LongType => 4
      case _ => -1
    }
    val (f, t) = (rank(from), rank(to))
    f > 0 && t > 0 && t >= f
  }

  /** Exact evaluation of `f(col) = lit` against a file whose stats prove the
    * string column constant (min == max). Sound for ANY deterministic
    * single-column string transform: substituting the constant makes the
    * conjunct decidable for every row of the file (nulls never match =). */
  private def evalConstColTransform(eq: EqualTo,
                                    stats: Map[String, ColStat]): Option[Boolean] = {
    val (f, l) = (eq.left, eq.right) match {
      case (f0, l0: Literal) if !f0.isInstanceOf[Literal] => (f0, l0)
      case (l0: Literal, f0) => (f0, l0)
      case _ => return None
    }
    if (f.isInstanceOf[AttributeReference] || !f.deterministic) return None
    val refs = f.collect { case ar: AttributeReference => ar }.distinct
    if (refs.size != 1 || refs.head.dataType != StringType) return None
    val st = stats.getOrElse(refs.head.name, return None)
    if (st.min == null || st.max == null || st.min != st.max) return None
    val sub = f.transformUp {
      case a: AttributeReference if a.name == refs.head.name =>
        Literal(org.apache.spark.unsafe.types.UTF8String.fromString(st.min),
          StringType)
    }
    if (!sub.foldable) return None
    try {
      val v = sub.eval(null)
      Some(v != null && l.value != null && v == l.value)
    } catch { case _: Exception => None }
  }

  private def colAndLit(a: Expression, b: Expression): Option[(String, Literal, Boolean)] =
    (normalize(a), normalize(b)) match {
      case (ar: AttributeReference, l: Literal) => Some((ar.name, l, false))
      case (l: Literal, ar: AttributeReference) => Some((ar.name, l, true))
      case _ => None
    }

  private def conjunctMightMatch(e: Expression, schema: StructType,
                                 stats: Map[String, ColStat], rowCount: Long): Boolean = {
    def dtOf(name: String): Option[DataType] =
      schema.fields.find(_.name == name).map(_.dataType)
    def withStat(name: String)(f: (DataType, ColStat) => Boolean): Boolean =
      (dtOf(name), stats.get(name)) match {
        case (Some(dt), Some(st)) =>
          // null min/max = all-null column OR stats skipped (unorderable
          // types like VARIANT) — either way: cannot prove a non-match
          if (st.min == null || st.max == null) true
          else f(dt, st)
        case _ => true
      }

    e match {
      // predicate transform: substring(c, 1, n) = v implies c startsWith v
      // (exact-prefix when |v| = n, whole-value equality when shorter) —
      // either way the file must contain a row with prefix v
      case EqualTo(Substring(ar: AttributeReference, Literal(p, _), _), l: Literal)
          if p == 1 =>
        conjunctMightMatch(StartsWith(ar, l), schema, stats, rowCount)
      case EqualTo(l: Literal, Substring(ar: AttributeReference, Literal(p, _), _))
          if p == 1 =>
        conjunctMightMatch(StartsWith(ar, l), schema, stats, rowCount)
      // predicate transforms over a CONSTANT column (min == max: partition
      // columns, single-value files): substitute the value and evaluate the
      // whole transform exactly — covers lower/upper/concat/concat_ws and
      // their compositions (paimon LowerTransform/UpperTransform/
      // ConcatTransform capability, predicate/Transform.java)
      case eq: EqualTo if evalConstColTransform(eq, stats).isDefined =>
        evalConstColTransform(eq, stats).get
      case EqualTo(a, b) => colAndLit(a, b) match {
        case Some((name, l, _)) => withStat(name) { (dt, st) =>
          litText(dt, l) match {
            case Some(v) => cmp(dt, v, st.min) >= 0 && cmp(dt, v, st.max) <= 0
            case None => false // col = null never matches
          }
        }
        case None => true
      }
      case GreaterThan(a, b) => colAndLit(a, b) match {
        case Some((name, l, flipped)) => withStat(name) { (dt, st) =>
          litText(dt, l) match {
            case Some(v) =>
              if (!flipped) cmp(dt, st.max, v) > 0 else cmp(dt, st.min, v) < 0
            case None => false
          }
        }
        case None => true
      }
      case GreaterThanOrEqual(a, b) => colAndLit(a, b) match {
        case Some((name, l, flipped)) => withStat(name) { (dt, st) =>
          litText(dt, l) match {
            case Some(v) =>
              if (!flipped) cmp(dt, st.max, v) >= 0 else cmp(dt, st.min, v) <= 0
            case None => false
          }
        }
        case None => true
      }
      case LessThan(a, b) => conjunctMightMatch(GreaterThan(b, a), schema, stats, rowCount)
      case LessThanOrEqual(a, b) =>
        conjunctMightMatch(GreaterThanOrEqual(b, a), schema, stats, rowCount)
      case In(inCol, list0) =>
        val list = list0.map(normalize)
        (normalize(inCol), list.forall(_.isInstanceOf[Literal])) match {
          case (ar: AttributeReference, true) =>
            withStat(ar.name) { (dt, st) =>
              list.exists { case l: Literal =>
                litText(dt, l).exists(v => cmp(dt, v, st.min) >= 0 && cmp(dt, v, st.max) <= 0)
              }
            }
          case _ => true
        }
      case IsNull(ar: AttributeReference) =>
        // nullCount = -1 means "not collected" (stats-mode none) — unknown,
        // so the file might match; only a PROVEN zero null count prunes
        stats.get(ar.name).forall(_.nullCount != 0)
      case IsNotNull(ar: AttributeReference) =>
        stats.get(ar.name).forall(st => st.nullCount < rowCount)
      case Or(l, r) =>
        conjunctMightMatch(l, schema, stats, rowCount) ||
          conjunctMightMatch(r, schema, stats, rowCount)
      // And only reaches here NESTED under an Or (top-level Ands are split
      // by mightMatch): the file might match a∧b only if it might match both
      case And(l, r) =>
        conjunctMightMatch(l, schema, stats, rowCount) &&
          conjunctMightMatch(r, schema, stats, rowCount)
      case StartsWith(ar: AttributeReference, l: Literal) =>
        withStat(ar.name) { (_, st) =>
          litStr(l) match {
            case Some(p) =>
              // file may match if prefix is within [min, max] prefix range
              st.max.compareTo(p) >= 0 && {
                val minP = st.min.take(p.length); minP.compareTo(p) <= 0
              }
            case None => false
          }
        }
      case _ => true // unknown predicate shape: cannot prune
    }
  }

  /**
   * EXACT predicate evaluation against a file's constant partition values,
   * with SQL three-valued null semantics (a null partition value makes any
   * comparison unknown → not a victim). Used by metadata-only DELETE, where
   * the conservative `mightMatch` would wrongly drop files whose stats are
   * null/absent. Supports exactly the shapes `isPartitionExact` admits
   * (And/Or over col-vs-literal comparisons and IN).
   */
  def partitionMatches(e: Expression, schema: StructType,
                       part: Map[String, String]): Boolean = {
    def dtOf(name: String): Option[DataType] =
      schema.fields.find(_.name == name).map(_.dataType)
    // three-valued compare: None = null operand (unknown)
    def cmpTo(a: Expression, b: Expression): Option[Option[Int]] =
      colAndLit(a, b).flatMap { case (name, l, flipped) =>
        dtOf(name).map { dt =>
          (part.get(name).flatMap(Option(_)), litText(dt, l)) match {
            case (Some(v), Some(lv)) =>
              val c = cmp(dt, v, lv)
              Some(if (flipped) -c else c)
            case _ => None // null partition value or null literal
          }
        }
      }
    def ev(x: Expression): Option[Boolean] = x match {
      case And(l, r) => (ev(l), ev(r)) match {
        case (Some(false), _) | (_, Some(false)) => Some(false)
        case (Some(true), Some(true)) => Some(true)
        case _ => None
      }
      case Or(l, r) => (ev(l), ev(r)) match {
        case (Some(true), _) | (_, Some(true)) => Some(true)
        case (Some(false), Some(false)) => Some(false)
        case _ => None
      }
      case EqualTo(a, b) => cmpTo(a, b).map(_.map(_ == 0)).getOrElse(None)
      case GreaterThan(a, b) => cmpTo(a, b).map(_.map(_ > 0)).getOrElse(None)
      case GreaterThanOrEqual(a, b) => cmpTo(a, b).map(_.map(_ >= 0)).getOrElse(None)
      case LessThan(a, b) => cmpTo(a, b).map(_.map(_ < 0)).getOrElse(None)
      case LessThanOrEqual(a, b) => cmpTo(a, b).map(_.map(_ <= 0)).getOrElse(None)
      case In(ar: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        (part.get(ar.name).flatMap(Option(_)), dtOf(ar.name)) match {
          case (Some(v), Some(dt)) =>
            val hits = vs.map { case l: Literal => litText(dt, l).map(cmp(dt, v, _) == 0) }
            if (hits.contains(Some(true))) Some(true)
            else if (hits.contains(None)) None // null in list: unknown
            else Some(false)
          case _ => if (vs.isEmpty) Some(false) else None
        }
      case _ => None // unknown shape: unknown → not a victim
    }
    ev(e).getOrElse(false)
  }

  // Resolution is a pure function of (schema, predicate text), so repeated
  // plans of the same filter (every bench/verify re-run, every incremental
  // read of a hot table) hit this cache instead of the analyzer.
  private val resolveCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, String), Expression]()
  // the empty relation a predicate resolves against, one per schema
  private val relations =
    new java.util.concurrent.ConcurrentHashMap[StructType, plans.logical.LocalRelation]()

  /** Resolve a user Column predicate against `schema` into a Catalyst
    * expression: the session analyzer alone over `Filter(cond, empty
    * relation)` — no Dataset, no optimizer or planner pass. */
  def resolve(spark: org.apache.spark.sql.SparkSession, schema: StructType,
              cond: Column): Expression = {
    val key = (schema.hashCode(), cond.toString)
    val cached = resolveCache.get(key)
    if (cached != null) return cached
    if (relations.size > 64) relations.clear()
    val rel = relations.computeIfAbsent(schema, s =>
      plans.logical.LocalRelation(
        org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(s)))
    val out = SparkShims.resolveFilter(spark, cond, rel)
    if (resolveCache.size > 1024) resolveCache.clear()
    resolveCache.put(key, out)
    out
  }

  /** Bucket pruning (paimon bucketed-append data skipping / PK point reads):
    * when top-level conjuncts pin EVERY bucket-routing column to a finite
    * literal set (`=` or `IN`), return the reachable bucket ids under the
    * write path's routing expression pmod(xxhash64(keys), numBuckets) —
    * evaluated on the same literals, so a file in any other bucket provably
    * cannot hold a matching row. None = cannot prune (missing/unsafe
    * conjuncts, type coercion casts, or a too-large value cross product). */
  def bucketCandidates(pred: Expression, keyCols: Seq[String],
                       numBuckets: Int, maxCombos: Int = 256): Option[Set[Int]] = {
    def conj(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conj(l) ++ conj(r)
      case x => Seq(x)
    }
    val per = scala.collection.mutable.Map[String, Set[Literal]]()
    def add(name: String, ls: Set[Literal]): Unit =
      per(name) = per.get(name).map(_.intersect(ls)).getOrElse(ls)
    conj(pred).foreach {
      // literal type must MATCH the column type — a coercion Cast would hash
      // differently than the stored value, so those conjuncts are skipped
      case EqualTo(a: AttributeReference, l: Literal)
          if l.value != null && l.dataType == a.dataType => add(a.name, Set(l))
      case EqualTo(l: Literal, a: AttributeReference)
          if l.value != null && l.dataType == a.dataType => add(a.name, Set(l))
      case In(a: AttributeReference, vs) if vs.nonEmpty && vs.forall {
            case l: Literal => l.value != null && l.dataType == a.dataType
            case _ => false
          } => add(a.name, vs.map(_.asInstanceOf[Literal]).toSet)
      case _ =>
    }
    if (!keyCols.forall(per.contains)) return None
    val valueSets = keyCols.map(per)
    if (valueSets.map(_.size.toLong).product > maxCombos) return None
    val combos = valueSets.foldLeft(Seq(Seq.empty[Literal])) { (acc, s) =>
      acc.flatMap(p => s.toSeq.map(p :+ _))
    }
    Some(combos.map { lits =>
      Pmod(new XxHash64(lits.toIndexedSeq), Literal(numBuckets.toLong))
        .eval(null).asInstanceOf[Long].toInt
    }.toSet)
  }
}
