package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass matching key — the fused form of
  * [[normalize.searchKeyComposed]]'s five-expression chain
  * (`unaccent → lower → drop "(live)" → strip [^a-zA-Z0-9]+ → nullif ""`,
  * the reference's `search_key`, `src/util.py:14-16`). The kernel walks
  * the UTF-8 bytes once: it ASCII-lowercases each byte, skips each case-insensitive
  * `(live)` left to right without re-scanning what a removal joins (as
  * `regexp_replace` does: `((live)live)` keeps `live`), keeps `[a-z0-9]`
  * and returns null for an empty key. Output contract: equal to the
  * composed chain for every input (property- and golden-pinned in
  * `NormalizeSpec`, on the codegen and the interpreted path).
  *
  * Why lowering bytes IS the chain's `lower`: after [[Transliterate.ascii]]
  * no non-ASCII character lowercases to an ASCII one (the two that do,
  * U+0130 and U+212A, decompose under NFD to `I` + mark and `K`), and
  * non-ASCII characters are neither kept nor part of `(live)`, so only
  * ASCII bytes matter and their lowering is ASCII's. Every byte of a
  * multi-byte UTF-8 sequence is ≥ 0x80 and so never equals a pattern or
  * key byte.
  *
  * All-ASCII input — nearly every name — is never decoded to a `String`:
  * the first non-ASCII byte restarts the walk on the transliterated text. */
object SearchKeyKernel {
  @inline private def lowerAscii(c: Byte): Byte =
    if (c >= 'A' && c <= 'Z') (c + ('a' - 'A')).toByte else c
  @inline private def isKeyByte(c: Byte): Boolean =
    (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')

  /** `(live)`, any case, at byte `i` of `u` (`u` has `n` bytes). */
  private def liveAt(u: UTF8String, i: Int, n: Int): Boolean =
    i + 6 <= n && u.getByte(i) == '(' &&
      lowerAscii(u.getByte(i + 1)) == 'l' && lowerAscii(u.getByte(i + 2)) == 'i' &&
      lowerAscii(u.getByte(i + 3)) == 'v' && lowerAscii(u.getByte(i + 4)) == 'e' &&
      u.getByte(i + 5) == ')'

  def key(u: UTF8String): UTF8String = walk(u, transliterated = false)

  /** The one walk. Before transliteration a non-ASCII byte restarts it on
    * [[Transliterate.ascii]]'s output; after, non-ASCII bytes are skipped
    * like any other byte outside `[a-z0-9]`. */
  private def walk(u: UTF8String, transliterated: Boolean): UTF8String = {
    val n = u.numBytes
    val out = new Array[Byte](n)
    var len = 0
    var i = 0
    while (i < n) {
      val c = u.getByte(i)
      if (c < 0 && !transliterated)
        return walk(UTF8String.fromString(Transliterate.ascii(u.toString)), transliterated = true)
      if (liveAt(u, i, n)) i += 6
      else {
        val l = lowerAscii(c)
        if (isKeyByte(l)) { out(len) = l; len += 1 }
        i += 1
      }
    }
    if (len == 0) null else UTF8String.fromBytes(out, 0, len)
  }
}

/** Catalyst surface of [[SearchKeyKernel]] — a codegen'd static call, so
  * the key stays inside whole-stage codegen, and one expression where the
  * chain had five (each `nullif` re-evaluated the whole chain where no
  * subexpression elimination applies). */
case class SearchKey(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"search_key requires a string argument, got ${child.dataType.catalogString}")
  override def prettyName: String = "search_key"

  // a key that normalizes to "" is null for a non-null input
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = SearchKeyKernel.key(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.SearchKeyKernel.key($c);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): SearchKey =
    copy(child = newChild)
}
