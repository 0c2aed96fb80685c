package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The lexicographically smallest string in
  * `deletionVariants(a) ∩ deletionVariants(b)` (null if disjoint).
  *
  * Used by the blocked levenshtein join to keep each matching pair exactly
  * once — a pair survives only on its minimal common variant — without a
  * distinct() shuffle. A native kernel because it runs per candidate pair:
  * the Column form (two transform+sequence HOFs + array_intersect +
  * array_min) evaluates interpreted and made the join 5× slower than the
  * distinct it replaced; this loop is ~|a|+|b| small string comparisons.
  */
object MinCommonVariant {
  // one deletion per code point, like [[DeletionVariants]]
  private def variants(s: String): Array[String] = {
    val out = new Array[String](s.codePointCount(0, s.length) + 1)
    out(0) = s
    var i = 0
    var k = 1
    while (i < s.length) {
      val next = s.offsetByCodePoints(i, 1)
      out(k) = s.substring(0, i) + s.substring(next)
      i = next
      k += 1
    }
    out
  }

  def compute(a: UTF8String, b: UTF8String): UTF8String = {
    val va = variants(a.toString)
    val vb = variants(b.toString)
    val setB = new java.util.HashSet[String](vb.length * 2)
    var i = 0
    while (i < vb.length) { setB.add(vb(i)); i += 1 }
    var min: String = null
    i = 0
    while (i < va.length) {
      val v = va(i)
      if (setB.contains(v) && (min == null || v.compareTo(min) < 0)) min = v
      i += 1
    }
    if (min == null) null else UTF8String.fromString(min)
  }
}

case class MinCommonVariant(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType.isInstanceOf[StringType] && right.dataType.isInstanceOf[StringType])
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"min_common_variant requires two string arguments")
  override def prettyName: String = "min_common_variant"

  override def nullSafeEval(a: Any, b: Any): Any =
    MinCommonVariant.compute(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  // result can be null even for non-null inputs (disjoint neighborhoods)
  override def nullable: Boolean = true

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val e = nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""${ev.value} = graft.functions.MinCommonVariant.compute($a, $b);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin
    })
    e
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): MinCommonVariant =
    copy(left = l, right = r)
}
