package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, StringType}

import graft.functions.{DeletionVariants, Lev1Witness}
import graft.operators.SimilarityJoin.MaxLen

/** Optimizer rule: a cartesian join filtered by `levenshtein(a, b) ≤ 1`
  * (the shape a SQL user naturally writes — and exactly how the reference
  * probes its alias tables, `/root/reference/src/benchmark.py:69-79`)
  * is rewritten into the deletion-neighborhood blocked equi-join of
  * [[graft.operators.SimilarityJoin]]:
  *
  * {{{
  * Filter(lev(a,b) ≤ 1 ∧ rest, Join(L, R, Inner/Cross, cond = None))
  *   ⇒ Project(L.out ++ R.out,
  *       Filter(lev(a,b) ≤ 1 ∧ rest ∧ lv = lev1Witness(a,b),
  *         Join(Generate(explode(variants(a)), L) as lv,
  *              Generate(explode(variants(b)), R) as rv,
  *              Inner, lv = rv)))
  * }}}
  *
  * Correct for arbitrary inputs: `lev ≤ 1 ⇒ neighborhoods intersect`
  * (completeness), the kept original predicate re-verifies candidates
  * (soundness), and keeping each pair only on its witness variant
  * ([[graft.functions.Lev1Witness]], as [[graft.operators.SimilarityJoin]]
  * does) preserves exact row multiplicities without a distinct.
  *
  * LONG STRINGS (≥ [[graft.operators.SimilarityJoin.MaxLen]], the
  * reference's 255) do not explode their deletion neighborhoods — one
  * dirty 100 KB string would Generate ~10 GB where the unrewritten
  * cartesian at least ran in bounded memory. They block on LENGTH KEYS
  * instead: a lev ≤ 1 pair has `|len(a) − len(b)| ≤ 1`, so emitting
  * `{len, len+1}` on both sides is complete for the long×long regime,
  * two tiny keys per row; mixed short×long pairs with a length gap ≥ 2
  * cannot be lev ≤ 1 at all, and the boundary pairs fall in whichever
  * regime covers both (strings of exactly the threshold emit BOTH key
  * kinds). Exactly-once: short pairs keep their witness row, long pairs
  * keep the `len = max(len(a), len(b))` key row, each branch gated on
  * the pair's regime so the overlap row never double-counts. The kept original
  * predicate re-verifies every candidate, so a freak collision between a
  * deletion variant and a length-key string is sound by construction.
  * The witness meets exactly one joined row because a row's key list
  * never holds one string twice: the variants are distinct, and only a
  * row of exactly `MaxLen` characters emits both kinds, whose variants
  * (≥ `MaxLen − 1` characters) are longer than any `"L:n"` key. That
  * holds at the constant 255; a small bound would not (at 3, `"L:3"` is
  * both a variant and a length key of itself).
  *
  * Fires only on joins with NO join condition — the pathological cartesian
  * case — and only when both lev arguments are DETERMINISTIC (the rewrite
  * evaluates them twice: variants below the join, verify above it; a
  * nondeterministic argument would disagree between the draws, same guard
  * as [[RewriteRangeJoin]]). Runs in the user-provided optimizer batch,
  * i.e. after pushdown has already moved single-side conjuncts below the
  * join, so `rest` only holds genuinely two-sided predicates.
  */
object RewriteLevenshteinJoin extends Rule[LogicalPlan] with PredicateHelper {

  /** `lev(a,b) ≤ 1` in its comparison spellings (2-arg levenshtein). */
  private def lev1Args(e: Expression): Option[(Expression, Expression)] = e match {
    case LessThanOrEqual(Levenshtein(a, b, None), Literal(1, IntegerType)) => Some((a, b))
    case LessThan(Levenshtein(a, b, None), Literal(2, IntegerType)) => Some((a, b))
    case GreaterThanOrEqual(Literal(1, IntegerType), Levenshtein(a, b, None)) => Some((a, b))
    case GreaterThan(Literal(2, IntegerType), Levenshtein(a, b, None)) => Some((a, b))
    case _ => None
  }

  /** Marker attribute names — injected optimizer rules run inside the
    * operator-optimization fixed point, where PushPredicateThroughJoin can
    * move the (kept) lev predicate into the blocked join's condition on a
    * later iteration; without the guard the rule would re-fire on its own
    * output. */
  private val LvName = "__graft_lv"
  private val RvName = "__graft_rv"
  private def alreadyBlocked(l: LogicalPlan, r: LogicalPlan): Boolean =
    l.output.exists(_.name == LvName) || r.output.exists(_.name == RvName)

  private def sidedLevArgs(
      cond: Expression, l: LogicalPlan, r: LogicalPlan): Option[(Expression, Expression)] =
    splitConjunctivePredicates(cond).iterator.flatMap { p =>
      lev1Args(p).flatMap { case (x, y) =>
        // both draws of the argument (variants below the join, verify
        // above) must agree — nondeterministic args would silently drop
        // matching pairs
        if (!x.deterministic || !y.deterministic) None
        else if (x.references.subsetOf(l.outputSet) && y.references.subsetOf(r.outputSet))
          Some((x, y))
        else if (y.references.subsetOf(l.outputSet) && x.references.subsetOf(r.outputSet))
          Some((y, x))
        else None
      }
    }.take(1).toList.headOption

  /** The per-side blocking key list: deletion variants for strings ≤
    * `MaxLen`, the `"L:len"`/`"L:len+1"` length keys for strings ≥ it
    * (threshold-length strings emit both — the regime overlap that keeps
    * boundary pairs complete). */
  private def blockKeys(e: Expression): Expression = {
    val len = Length(e)
    val noKeys = Literal.create(Array.empty[String], org.apache.spark.sql.types.ArrayType(StringType))
    val lenKey = (d: Int) => Concat(Seq(Literal("L:"),
      Cast(Add(len, Literal(d)), StringType)))
    Concat(Seq(
      If(LessThanOrEqual(len, Literal(MaxLen)), DeletionVariants(e), noKeys),
      If(GreaterThanOrEqual(len, Literal(MaxLen)),
        CreateArray(Seq(lenKey(0), lenKey(1))), noKeys)))
  }

  private def rewrite(
      cond: Expression, l: LogicalPlan, r: LogicalPlan,
      hint: org.apache.spark.sql.catalyst.plans.logical.JoinHint,
      a: Expression, b: Expression): LogicalPlan = {
    val lv = AttributeReference(LvName, StringType, nullable = true)()
    val rv = AttributeReference(RvName, StringType, nullable = true)()
    val genL = Generate(Explode(blockKeys(a)), Nil, outer = false, None, Seq(lv), l)
    val genR = Generate(Explode(blockKeys(b)), Nil, outer = false, None, Seq(rv), r)
    val blocked = Join(genL, genR, Inner, Some(EqualTo(lv, rv)), hint)
    // exactly-once per pair: short regime keeps the witness row, long
    // regime keeps the max-length key row; the regime gate makes the
    // overlap (both exactly MaxLen) count once
    val bothShort = And(
      LessThanOrEqual(Length(a), Literal(MaxLen)),
      LessThanOrEqual(Length(b), Literal(MaxLen)))
    val maxLenKey = Concat(Seq(Literal("L:"),
      Cast(Greatest(Seq(Length(a), Length(b))), StringType)))
    val keepOnce = Or(
      And(bothShort, EqualTo(lv, Lev1Witness(a, b))),
      And(Not(bothShort), EqualTo(lv, maxLenKey)))
    Project(l.output ++ r.output, Filter(And(cond, keepOnce), blocked))
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    // shape 1: the filter still sits above a condition-less join
    case f @ Filter(cond, join @ Join(l, r, Inner | Cross, None, hint))
        if join.resolved && !alreadyBlocked(l, r) =>
      sidedLevArgs(cond, l, r) match {
        case Some((a, b)) => rewrite(cond, l, r, hint, a, b)
        case None => f
      }
    // shape 2: pushdown already folded the predicate into the join
    // condition. Fire only when there is NO equi-conjunct — with one, the
    // planner's hash join on that key already avoids the cartesian.
    case join @ Join(l, r, Inner | Cross, Some(cond), hint)
        if join.resolved && !alreadyBlocked(l, r) &&
          !RewriteRangeJoin.hasEquiConjunct(cond, l, r) =>
      sidedLevArgs(cond, l, r) match {
        case Some((a, b)) => rewrite(cond, l, r, hint, a, b)
        case None => join
      }
  }
}
