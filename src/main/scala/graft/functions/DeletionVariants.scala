package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The deletion neighborhood of a string: itself plus every
  * single-character deletion, deduplicated, first-occurrence order —
  * the blocking key space of the lev≤1 similarity join (SURVEY §7.4.2).
  * A character is a code point, as in Spark's `levenshtein` and `length`:
  * deleting one UTF-16 unit of a surrogate pair would leave a lone
  * surrogate that no other string's neighborhood contains.
  * Native kernel (the `transform(sequence(...))` Column form evaluates
  * interpreted and the explode side is the join's hottest path).
  */
object DeletionVariants {
  def compute(u: UTF8String): GenericArrayData = {
    val s = u.toString
    if (s.isEmpty) return new GenericArrayData(Array[Any](u))
    val seen = new java.util.LinkedHashSet[String](s.length * 2)
    seen.add(s)
    var i = 0
    while (i < s.length) {
      val next = s.offsetByCodePoints(i, 1)
      seen.add(s.substring(0, i) + s.substring(next))
      i = next
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
    new GenericArrayData(out)
  }
}

case class DeletionVariants(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("deletion_variants requires a string argument")
  override def prettyName: String = "deletion_variants"

  override def nullSafeEval(input: Any): Any =
    DeletionVariants.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.DeletionVariants.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): DeletionVariants =
    copy(child = newChild)
}
