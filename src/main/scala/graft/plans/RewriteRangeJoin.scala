package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StringType}

/** Optimizer rule: an inner join whose only cross-side predicates are a
  * RANGE BAND — `lo ≤ p ≤ hi` (any `<`/`≤` spelling, `p` from one side,
  * both bounds from the other) — has no equi-key, so Spark plans a
  * broadcast-nested-loop or cartesian join: every point row is tested
  * against every interval row. This rule rewrites it into the bucketed
  * equi-join of [[graft.operators.Relational.rangeJoin]]:
  *
  * {{{
  * Join(P, I, Inner, p ≥ lo ∧ p ≤ hi ∧ rest)
  *   ⇒ Project(P.out ++ I.out,
  *       Filter(p ≥ lo ∧ p ≤ hi ∧ rest,          // exact re-verify
  *         Join(Project(P ++ [pb = p div W]),
  *              Generate(explode(sequence(lo div W, hi div W)), I) as rb,
  *              Inner, pb = rb)))
  * }}}
  *
  * Complete because truncating division is monotone (`a ≤ b ⇒
  * a div W ≤ b div W`), so a point inside the band always lands in one of
  * the interval's generated buckets; sound because the original predicate
  * re-verifies; exactly-once because a point has a single bucket value and
  * the sequence generates each bucket id once.
  *
  * OPT-IN: fires only when `spark.graft.rangeJoin.bucketWidth` is set —
  * the width is domain knowledge (pick it near the typical interval
  * length; a width far too small explodes intervals into many buckets).
  * Bounds and point must be integral types (timestamps-as-longs, offsets).
  */
object RewriteRangeJoin extends Rule[LogicalPlan] with PredicateHelper {

  val WidthKey = "spark.graft.rangeJoin.bucketWidth"

  /** Buckets one interval row may generate before the query fails naming
    * the row: an open-end sentinel (`hi = Long.MaxValue`) would otherwise
    * die inside `Sequence` with an opaque array-size error. */
  private val MaxBucketsPerRow = 4000000L

  private val PbName = "__graft_pb"
  private val RbName = "__graft_rb"
  private def alreadyBucketed(l: LogicalPlan, r: LogicalPlan): Boolean =
    l.output.exists(_.name == PbName) || r.output.exists(_.name == RbName)

  private def width: Option[Long] =
    Option(conf.getConfString(WidthKey, null)).map { v =>
      // fail with an actionable message: this runs on EVERY plan, so a
      // bare NumberFormatException from the optimizer batch would be
      // baffling; silently ignoring the typo'd conf would be worse (the
      // user believes the rewrite is on)
      try {
        val w = v.toLong
        require(w > 0)
        w
      } catch {
        case _: NumberFormatException | _: IllegalArgumentException =>
          throw new IllegalArgumentException(
            s"$WidthKey must be a positive integral number of axis units, got '$v'")
      }
    }

  /** A one-sided bound: (point expr, bound expr, pointIsLowerSide). */
  private def asBound(e: Expression): Option[(Expression, Expression, Boolean)] = e match {
    case GreaterThanOrEqual(p, b) => Some((p, b, false)) // p >= b: b is lower
    case GreaterThan(p, b) => Some((p, b, false))
    case LessThanOrEqual(p, b) => Some((p, b, true)) // p <= b: b is upper
    case LessThan(p, b) => Some((p, b, true))
    case _ => None
  }

  private def integral(e: Expression): Boolean = e.dataType match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** Find `lo ≤ p ≤ hi` with `p` entirely from one side and BOTH bounds
    * from the other. Returns (p, lo, hi, pointPlanIsLeft). */
  private def findBand(cond: Expression, l: LogicalPlan, r: LogicalPlan)
      : Option[(Expression, Expression, Expression, Boolean)] = {
    val conjuncts = splitConjunctivePredicates(cond)
    // normalize both orientations: x OP y and y OP' x
    val bounds = conjuncts.flatMap { c =>
      asBound(c).toSeq ++ (c match {
        case GreaterThanOrEqual(b, p) => Seq((p, b, true)) // b >= p: b is upper
        case GreaterThan(b, p) => Seq((p, b, true))
        case LessThanOrEqual(b, p) => Seq((p, b, false))
        case LessThan(b, p) => Seq((p, b, false))
        case _ => Nil
      })
    }
    def sided(p: Expression, b: Expression, pLeft: Boolean): Boolean = {
      val (pSide, bSide) = if (pLeft) (l, r) else (r, l)
      p.references.nonEmpty && b.references.nonEmpty &&
        p.references.subsetOf(pSide.outputSet) && b.references.subsetOf(bSide.outputSet)
    }
    (for {
      (p1, lo, false) <- bounds.iterator
      (p2, hi, true) <- bounds.iterator
      if p1.semanticEquals(p2) && integral(p1) && integral(lo) && integral(hi)
      // the rewrite evaluates p/lo/hi twice (bucket expression + residual
      // re-verify); a nondeterministic band expression would draw twice
      // and drop rows the unrewritten plan keeps
      if p1.deterministic && lo.deterministic && hi.deterministic
      pLeft <- Seq(true, false).iterator
      if sided(p1, lo, pLeft) && sided(p2, hi, pLeft)
    } yield (p1, lo, hi, pLeft)).take(1).toList.headOption
  }

  private def divW(e: Expression, w: Long): Expression =
    Cast(IntegralDivide(Cast(e, LongType), Literal(w)), LongType)

  private def rewrite(
      cond: Expression, l: LogicalPlan, r: LogicalPlan,
      hint: org.apache.spark.sql.catalyst.plans.logical.JoinHint,
      p: Expression, lo: Expression, hi: Expression, pLeft: Boolean,
      w: Long): LogicalPlan = {
    val pb = Alias(divW(p, w), PbName)()
    val rb = AttributeReference(RbName, LongType, nullable = false)()
    // Sequence is TimeZoneAwareExpression: without a timeZoneId it reports
    // unresolved and the optimizer rejects the rewritten plan
    val loB = divW(lo, w)
    val hiB = divW(hi, w)
    val seq0 = Sequence(loB, hiB, None, Some(conf.sessionLocalTimeZone))
    // fail naming the row, the width and the bound (see MaxBucketsPerRow)
    val nBuckets = Add(Subtract(hiB, loB), Literal(1L))
    val msg = Concat(Seq(
      Literal("graft range join: interval ["), Cast(lo, StringType),
      Literal(", "), Cast(hi, StringType),
      Literal(s"] spans "), Cast(nBuckets, StringType),
      Literal(s" buckets at width $w, above the bound of $MaxBucketsPerRow per row" +
        s" — raise $WidthKey or clean the interval")))
    val seq = If(GreaterThan(nBuckets, Literal(MaxBucketsPerRow)),
      Cast(RaiseError(msg), seq0.dataType), seq0)
    val (pointPlan, ivPlan) = if (pLeft) (l, r) else (r, l)
    val bucketed = Project(pointPlan.output :+ pb, pointPlan)
    val generated = Generate(Explode(seq), Nil, outer = false, None, Seq(rb), ivPlan)
    val (newL, newR) =
      if (pLeft) (bucketed: LogicalPlan, generated: LogicalPlan) else (generated, bucketed)
    val joined = Join(newL, newR, Inner, Some(EqualTo(pb.toAttribute, rb)), hint)
    Project(l.output ++ r.output, Filter(cond, joined))
  }

  /** Mirrors ExtractEquiJoinKeys: both `=` and `<=>` give the planner a
    * hash-join key, so either means a rewrite (this rule's or
    * [[RewriteLevenshteinJoin]]'s) would only add cost. */
  private[plans] def hasEquiConjunct(cond: Expression, l: LogicalPlan, r: LogicalPlan): Boolean = {
    def crossSided(x: Expression, y: Expression): Boolean =
      (x.references.subsetOf(l.outputSet) && y.references.subsetOf(r.outputSet)) ||
        (y.references.subsetOf(l.outputSet) && x.references.subsetOf(r.outputSet))
    splitConjunctivePredicates(cond).exists {
      case EqualTo(x, y) => crossSided(x, y)
      case EqualNullSafe(x, y) => crossSided(x, y)
      case _ => false
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = width match {
    case None => plan // opt-in: no width configured, leave every join alone
    case Some(w) => plan.transformUp {
      // shape 1: filter above a condition-less join
      case f @ Filter(cond, join @ Join(l, r, Inner | Cross, None, hint))
          if join.resolved && !alreadyBucketed(l, r) =>
        findBand(cond, l, r) match {
          case Some((p, lo, hi, pLeft)) => rewrite(cond, l, r, hint, p, lo, hi, pLeft, w)
          case None => f
        }
      // shape 2: the band folded into the join condition; with an
      // equi-conjunct present the hash join already avoids the loop
      case join @ Join(l, r, Inner | Cross, Some(cond), hint)
          if join.resolved && !alreadyBucketed(l, r) && !hasEquiConjunct(cond, l, r) =>
        findBand(cond, l, r) match {
          case Some((p, lo, hi, pLeft)) => rewrite(cond, l, r, hint, p, lo, hi, pLeft, w)
          case None => join
        }
    }
  }
}
