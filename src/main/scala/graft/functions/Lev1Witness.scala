package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The canonical shared deletion variant of a pair with `lev(a,b) ≤ 1` —
  * computed ARITHMETICALLY in O(|a|+|b|), no neighborhood materialization:
  *
  *   - `a == b`           → `a` (itself — always in both neighborhoods)
  *   - `|a| == |b| ± 1`   → the shorter string if deleting the longer's
  *                          first-mismatch character makes them equal
  *                          (single insert/delete); otherwise `lev ≥ 2` →
  *                          null
  *   - `|a| == |b|, a≠b`  → if the suffixes after the first mismatching
  *                          position `i` agree, the pair is a single
  *                          substitution and deleting `i` from either side
  *                          gives the same string; otherwise `lev ≥ 2` → null
  *   - otherwise          → null (`lev ≥ 2` by length — no witness)
  *
  * The exactly-once selector of both blocked levenshtein joins
  * ([[graft.operators.SimilarityJoin.levenshtein1Join]] and
  * [[graft.plans.RewriteLevenshteinJoin]]): the witness is one member of
  * the pair's shared-variant set, so it meets exactly ONE joined row per
  * matching pair when each side's key list holds no string twice. One
  * string compare and at most one substring per candidate row, with no
  * neighborhood re-generation.
  */
object Lev1Witness {
  /** First UTF-16 index where `x` and `y` differ, moved back to the start
    * of its code point (a pair can share a high surrogate and differ in
    * the low one). */
  private def firstMismatch(x: String, y: String): Int = {
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n && x.charAt(i) == y.charAt(i)) i += 1
    if (i > 0 && Character.isHighSurrogate(x.charAt(i - 1))) i - 1 else i
  }

  /** Lengths and deletions count code points, as Spark's `levenshtein`
    * does, so a pair one supplementary character apart has a witness. */
  def compute(a: UTF8String, b: UTF8String): UTF8String = {
    val sa = a.toString
    val sb = b.toString
    if (sa == sb) return a
    val la = a.numChars()
    val lb = b.numChars()
    // |a| = |b| + 1: the shorter is a witness only if it really is a
    // single deletion of the longer — skip the longer's first mismatching
    // code point and require the tails to agree (self-containment for
    // standalone SQL use; lev('abc','xy') must yield null, not 'xy')
    if (math.abs(la - lb) == 1) {
      val (long, short, witness) = if (la > lb) (sa, sb, b) else (sb, sa, a)
      val i = firstMismatch(long, short)
      val skip = long.offsetByCodePoints(i, 1)
      val tail = short.length - i
      // 2nd mismatch → lev ≥ 2
      return if (long.length - skip == tail && long.regionMatches(skip, short, i, tail)) witness
        else null
    }
    if (la != lb) return null // length gap ≥ 2 → lev ≥ 2
    val i = firstMismatch(sa, sb)
    // self-contained for standalone SQL use: a deleted-first-mismatch string
    // is only a shared variant when the tails agree (single substitution);
    // equal-length pairs with lev ≥ 2 must yield null, not a bogus witness.
    // Still O(|a|): one more linear scan over the suffix.
    val na = sa.offsetByCodePoints(i, 1)
    val nb = sb.offsetByCodePoints(i, 1)
    val tail = sa.length - na
    if (sb.length - nb != tail || !sa.regionMatches(na, sb, nb, tail)) return null // second mismatch → lev ≥ 2
    UTF8String.fromString(sa.substring(0, i) + sa.substring(na))
  }
}

case class Lev1Witness(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType.isInstanceOf[StringType] && right.dataType.isInstanceOf[StringType])
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"lev1_witness requires two string arguments")
  override def prettyName: String = "lev1_witness"

  override def nullSafeEval(a: Any, b: Any): Any =
    Lev1Witness.compute(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  // result is null for non-null inputs when the lengths differ by ≥ 2
  override def nullable: Boolean = true

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""${ev.value} = graft.functions.Lev1Witness.compute($a, $b);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Lev1Witness =
    copy(left = l, right = r)
}
