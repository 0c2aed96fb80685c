package graft.musicbrainz

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, SpecializedGetters, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, TypeUtils}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.SearchKeyKernel
import graft.operators.SimilarityJoin

/** The whole ranking of one query's serving rows (`benchmark.py:43-49,
  * 85-126`) in one loop over them, for rows of type `rowType` (the
  * [[MatchOps.ServingFields]], by name) and second-artist ids of type
  * `idType`:
  *   - the second-artist veto (F14): when the second-artist ids are not
  *     empty, a row is kept only if its second artist is one of them;
  *   - the phase ([[RankingKernel.phase]]), a row without one dropped;
  *     rows of phase 2 are dropped once a row of phase 1 exists;
  *   - the serving projection's DISTINCT (null equal to null), first
  *     occurrences kept in order — these are the `candidates`;
  *   - relevance: score × 10^[single_from] × 10^[main_album] × 10^[exact
  *     alias match] ([[SearchKeyKernel.key]] of the alias equal to the
  *     title key); an overflowing product fails, as Spark's ANSI multiply
  *     does;
  *   - A4: of the candidates with relevance × 10 ≥ the largest relevance,
  *     the first under [[MatchOps.winnerOrder]] is the `winner`.
  */
private[musicbrainz] final class RankingKernel(rowType: StructType, idType: DataType) {

  private def ordinal(f: String) = rowType.fieldIndex(f)
  private val secondArtist = ordinal("second_artist_id")
  private val secondArtistType = rowType(secondArtist).dataType
  private val alias = ordinal("alias")
  /** The projected fields' ordinals in a serving row. */
  private val projected = MatchOps.ServingFields.tail.map(ordinal).toArray

  val candidateType: StructType = StructType(
    StructField("phase", IntegerType) +:
      MatchOps.Projection.zip(projected).map { case (p, i) => StructField(p, rowType(i).dataType) } :+
      StructField("relevance", IntegerType))
  private val types = candidateType.map(_.dataType).toArray
  private def field(f: String) = candidateType.fieldIndex(f)
  private val matchedAlias = field("matched_alias")
  private val score = field("recording_score")
  private val single = field("single_relationship")
  private val mainAlbum = field("is_main_album")
  private val relevance = field("relevance")

  /** [[MatchOps.winnerOrder]] as (candidate field, descending, nulls last). */
  private val keys: Array[(Int, Boolean, Boolean)] = MatchOps.winnerOrder(col).map { c =>
    val (key, desc, nullsLast) = Bridge.sortSpec(c).getOrElse((c, false, false))
    val name = Bridge.columnName(key).getOrElse(
      throw new IllegalArgumentException(s"winnerOrder keys a field by name, not by $key"))
    (field(name), desc, nullsLast)
  }.toArray
  private val orderings: Array[Ordering[Any]] =
    keys.map { case (f, _, _) => TypeUtils.getInterpretedOrdering(types(f)) }

  /** → (candidates, winner). Null `secondIds` veto nothing, a null
    * `tkey` matches nothing, and null `rows` hold none. */
  def rank(tkey: UTF8String, secondIds: ArrayData, rows: ArrayData): InternalRow = {
    val veto = secondIds != null && secondIds.numElements() > 0
    val phase1 = mutable.LinkedHashSet.empty[GenericInternalRow]
    val phase2 = mutable.LinkedHashSet.empty[GenericInternalRow]
    var i = 0
    while (tkey != null && rows != null && i < rows.numElements()) {
      if (!rows.isNullAt(i)) {
        val r = rows.getStruct(i, rowType.length)
        if (!r.isNullAt(alias) && (!veto || secondOk(r, secondIds))) {
          RankingKernel.phase(r.getUTF8String(alias), tkey) match {
            case 1 => phase1 += candidate(r, 1)
            case 2 if phase1.isEmpty => phase2 += candidate(r, 2)
            case _ =>
          }
        }
      }
      i += 1
    }
    val cands = (if (phase1.nonEmpty) phase1 else phase2).toArray
    // the relevance slot is set after the DISTINCT, which it does not
    // take part in: every field it depends on is a projected one
    cands.foreach(c => c.update(relevance, relevanceOf(c, tkey)))
    val scored = cands.filter(!_.isNullAt(relevance))
    var winner: InternalRow = null
    if (scored.nonEmpty) {
      val best = scored.map(_.getInt(relevance)).max
      scored.foreach { c =>
        if (c.getInt(relevance) * 10.0 >= best && (winner == null || compare(c, winner) < 0)) winner = c
      }
    }
    InternalRow(new GenericArrayData(cands.asInstanceOf[Array[Any]]), winner)
  }

  private def secondOk(r: InternalRow, ids: ArrayData): Boolean = {
    if (r.isNullAt(secondArtist)) return false
    val second = id(r, secondArtist, secondArtistType)
    var i = 0
    while (i < ids.numElements()) {
      if (!ids.isNullAt(i) && id(ids, i, idType) == second) return true
      i += 1
    }
    false
  }

  /** (phase, the projected fields, a null relevance): the DISTINCT's key. */
  private def candidate(r: InternalRow, phase: Int): GenericInternalRow = {
    val v = new Array[Any](types.length)
    v(0) = phase
    var i = 0
    while (i < projected.length) {
      v(i + 1) = r.get(projected(i), types(i + 1))
      i += 1
    }
    new GenericInternalRow(v)
  }

  private def relevanceOf(c: InternalRow, tkey: UTF8String): Any =
    if (c.isNullAt(score)) null
    else {
      def tenIf(f: Int) = if (!c.isNullAt(f) && c.getBoolean(f)) 10 else 1
      val exact = if (!c.isNullAt(matchedAlias) && tkey == SearchKeyKernel.key(c.getUTF8String(matchedAlias))) 10 else 1
      Math.multiplyExact(c.getInt(score), tenIf(single) * tenIf(mainAlbum) * exact)
    }

  /** An id of type `t` at `i`, as a long (ids compare as `array_contains`
    * compares them after widening). */
  private def id(g: SpecializedGetters, i: Int, t: DataType): Long =
    if (t == LongType) g.getLong(i) else g.getInt(i)

  /** `a` against `b` under [[keys]]: the first key on which they differ
    * decides, a null placed where that key puts nulls. */
  private def compare(a: InternalRow, b: InternalRow): Int = {
    var k = 0
    while (k < keys.length) {
      val (f, desc, nullsLast) = keys(k)
      val an = a.isNullAt(f)
      val bn = b.isNullAt(f)
      val c =
        if (an || bn) (if (an == bn) 0 else if (an == nullsLast) 1 else -1)
        else {
          val v = orderings(k).compare(a.get(f, types(f)), b.get(f, types(f)))
          if (desc) -v else v
        }
      if (c != 0) return c
      k += 1
    }
    0
  }
}

private[musicbrainz] object RankingKernel {

  /** The song lookup's phase of an alias for a title key
    * (`benchmark.py:85,87-91`): 1 when the alias starts with the key, else
    * 2 when the alias is shorter than [[SimilarityJoin.MaxLen]] and within
    * edit distance 1 of it, else 0 (no match). The join path's pre-filter
    * calls it too ([[MatchOps.collected]]). */
  def phase(alias: UTF8String, tkey: UTF8String): Int =
    if (alias.startsWith(tkey)) 1
    else if (alias.numChars < SimilarityJoin.MaxLen && alias.levenshteinDistance(tkey, 1) >= 0) 2
    else 0
}

/** Catalyst surface of [[RankingKernel]] over a per-query row (tkey,
  * second_ids, rows) → struct(candidates, winner), never null itself.
  * Generated code calls [[eval]] (`CodegenFallback`): on the
  * join path, a codegen'd call into the kernel was not faster
  * (DomainBench, 200,000 queries, 4 cores: match 26.0 s against 25.2 s,
  * medians of 4 and 3 runs), and an index-path batch over a local frame
  * folds into a local relation, which evaluates it interpreted anyway. */
private[musicbrainz] case class RankCandidates(tkey: Expression, secondIds: Expression, rows: Expression)
    extends TernaryExpression with CodegenFallback {

  override def first: Expression = tkey
  override def second: Expression = secondIds
  override def third: Expression = rows
  override def prettyName: String = "matcher_rank"

  private def rowType = rows.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
  private def idType = secondIds.dataType.asInstanceOf[ArrayType].elementType

  @transient private lazy val kernel = new RankingKernel(rowType, idType)

  override def dataType: DataType = StructType(Seq(
    StructField("candidates", ArrayType(kernel.candidateType, containsNull = false), nullable = false),
    StructField("winner", kernel.candidateType)))
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = {
    def isId(t: DataType) = t == LongType || t == IntegerType
    val ok = (tkey.dataType, secondIds.dataType, rows.dataType) match {
      case (_: StringType, ArrayType(id, _), ArrayType(s: StructType, _)) =>
        isId(id) && MatchOps.ServingFields.forall(s.fieldNames.contains) &&
          isId(s("second_artist_id").dataType) && s("alias").dataType.isInstanceOf[StringType] &&
          s("recording_score").dataType == IntegerType &&
          s("single_relationship").dataType == BooleanType && s("is_main_album").dataType == BooleanType
      case _ => false
    }
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "matcher_rank takes (string, array of int or bigint ids, array of serving rows), got " +
        children.map(_.dataType.catalogString).mkString("(", ", ", ")"))
  }

  override def eval(input: InternalRow): Any =
    kernel.rank(tkey.eval(input).asInstanceOf[UTF8String],
      secondIds.eval(input).asInstanceOf[ArrayData], rows.eval(input).asInstanceOf[ArrayData])

  override protected def withNewChildrenInternal(
      t: Expression, i: Expression, rs: Expression): RankCandidates =
    copy(tkey = t, secondIds = i, rows = rs)
}
