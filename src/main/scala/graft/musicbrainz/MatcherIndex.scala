package graft.musicbrainz

import scala.collection.mutable

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.{col, length, struct}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.DeletionVariants
import graft.operators.SimilarityJoin

/** The matcher's static side, indexed once per export (SURVEY J13/J14 on a
  * small export): the export never changes between chart batches, so
  * instead of re-exploding `mb_artist_alias` into deletion variants and
  * re-running the serving query in every batch, the driver collects the
  * alias table and the serving query's rows once and ships two broadcasts
  * that native expressions probe row by row:
  *   - [[artists]]: every alias's deletion variants → (alias, artist id),
  *     probed by [[MatcherIndex.artistLookup]];
  *   - [[serving]]: per artist, its rows of the join path's serving query
  *     ([[MatchOps.serving]]), generated by [[MatcherIndex.servingRows]].
  * [[GenerateDataset.Export]] owns the index: it builds it on the first
  * batch and [[destroy]]s it in `unpersist()`.
  */
private[musicbrainz] final class MatcherIndex private (
    val artists: Broadcast[AliasVariants],
    val serving: Broadcast[ServingRows],
    rowType: StructType) {

  /** (whole, head, tail) search keys → struct<artist_ids, second_ids>:
    * the whole name's hits when there are any (no second artist then),
    * else the head's hits with the tail's as the required second artists.
    * Keys may be null (no hits). */
  def artistLookup(whole: Column, head: Column, tail: Column): Column =
    Bridge.column(AliasVariantsLookup(artists,
      Bridge.expression(org.apache.spark.sql.functions.array(whole, head, tail))))

  /** artist ids → their serving rows, concatenated in the ids' order
    * (empty for artists without songs): structs of the
    * [[MatchOps.ServingFields]], typed as the join path types them. */
  def servingRows(artistIds: Column): Column =
    Bridge.column(ServingRowsOf(serving, rowType, Bridge.expression(artistIds)))

  def destroy(): Unit = {
    artists.destroy()
    serving.destroy()
  }
}

private[musicbrainz] object MatcherIndex {

  /** Collect the alias table and, with one `executeCollect`, the rows
    * [[MatchOps.serving]] gives the export's artists, and group those per
    * artist on the driver. */
  def apply(e: GenerateDataset.Export): MatcherIndex = {
    val sc = e.mbArtist.sparkSession.sparkContext

    val aliasRows = e.mbArtistAlias
      .filter(col("artist_id").isNotNull && length(col("alias")) < SimilarityJoin.MaxLen)
      .select(col("artist_id").cast(LongType), col("alias")).collect()
    val aliases = aliasRows.map(r => UTF8String.fromString(r.getString(1)))
    val variants = new java.util.HashMap[UTF8String, Array[Int]]()
    aliases.indices.foreach { i =>
      DeletionVariants.compute(aliases(i)).array.foreach { v =>
        variants.merge(v.asInstanceOf[UTF8String], Array(i), (a: Array[Int], b: Array[Int]) => a ++ b)
      }
    }

    val byArtist = MatchOps.serving(e.mbArtist.select(col("id").cast(LongType).as("artist_id")), e)
      .select(col("artist_id"), struct(MatchOps.ServingFields.map(col): _*).as("row"))
    val rowType = byArtist.schema("row").dataType.asInstanceOf[StructType]
    val qe = byArtist.queryExecution
    val rowsByArtist = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Any]]
    SQLExecution.withNewExecutionId(qe)(qe.executedPlan.executeCollect()).foreach { r =>
      rowsByArtist.getOrElseUpdate(r.getLong(0), mutable.ArrayBuffer.empty) += r.getStruct(1, rowType.length)
    }
    val toUnsafe = UnsafeProjection.create(Array[DataType](ArrayType(rowType, containsNull = false)))
    val serving = new java.util.HashMap[Long, ArrayData]()
    rowsByArtist.foreach { case (artist, rows) =>
      serving.put(artist, toUnsafe(InternalRow(new GenericArrayData(rows.toArray[Any]))).getArray(0).copy())
    }

    new MatcherIndex(
      sc.broadcast(new AliasVariants(variants, aliases, aliasRows.map(_.getLong(0)))),
      sc.broadcast(new ServingRows(serving, rowType.length)),
      rowType)
  }
}

/** Deletion variant → slots of the aliases that have it (see
  * `SimilarityJoin.levenshtein1Join`: two strings within edit distance 1
  * share a deletion variant). */
final class AliasVariants(
    variants: java.util.HashMap[UTF8String, Array[Int]],
    aliases: Array[UTF8String],
    artistIds: Array[Long]) extends Serializable {

  /** Distinct ids of the artists with an alias within edit distance 1 of
    * `key` (Spark's bounded `levenshtein`, as the join path verifies),
    * ascending. */
  def hits(key: UTF8String): Array[Long] = {
    if (key == null || key.numChars() >= MatchOps.ProbeMaxLen) return Array.emptyLongArray
    val ids = mutable.SortedSet.empty[Long]
    DeletionVariants.compute(key).array.foreach { v =>
      val slots = variants.get(v.asInstanceOf[UTF8String])
      if (slots != null) slots.foreach { s =>
        if (key.levenshteinDistance(aliases(s), 1) >= 0) ids += artistIds(s)
      }
    }
    ids.toArray
  }

  /** `keys` = [whole, head, tail] → (artist_ids, second_ids). */
  def lookup(keys: ArrayData): InternalRow = {
    def key(i: Int) = if (keys.isNullAt(i)) null else keys.getUTF8String(i)
    val direct = hits(key(0))
    val (found, second) =
      if (direct.nonEmpty) (direct, Array.emptyLongArray) else (hits(key(1)), hits(key(2)))
    InternalRow(ArrayData.toArrayData(found), ArrayData.toArrayData(second))
  }
}

/** Artist id → its serving rows, one unsafe array per artist, each row
  * of `numFields` fields. */
final class ServingRows(rows: java.util.HashMap[Long, ArrayData], numFields: Int) extends Serializable {
  private val none: ArrayData = new GenericArrayData(Array.empty[Any])
  private def ofArtist(artistId: Long): ArrayData = {
    val r = rows.get(artistId)
    if (r == null) none else r
  }

  /** The rows of every artist in `artistIds`, in order: one artist's array
    * as it is stored, several copied into one. */
  def of(artistIds: ArrayData): ArrayData =
    if (artistIds.numElements() == 1) ofArtist(artistIds.getLong(0))
    else {
      val parts = Array.tabulate(artistIds.numElements())(i => ofArtist(artistIds.getLong(i)))
      val out = new Array[Any](parts.map(_.numElements()).sum)
      var n = 0
      parts.foreach { p =>
        var i = 0
        while (i < p.numElements()) { out(n) = p.getStruct(i, numFields); n += 1; i += 1 }
      }
      new GenericArrayData(out)
    }
}

/** [[AliasVariants.lookup]] over a broadcast index, on the
  * `SketchMaybeDup` pattern: generated code resolves the broadcast value
  * once per operator instance into a mutable-state field. */
case class AliasVariantsLookup(index: Broadcast[AliasVariants], child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = AliasVariantsLookup.Type
  override def prettyName: String = "matcher_artist_lookup"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"matcher_artist_lookup probes an array of search keys, got ${other.catalogString}")
  }

  @transient private lazy val idx: AliasVariants = index.value

  override def nullSafeEval(input: Any): Any = idx.lookup(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[AliasVariants].getName
    val bcRef = ctx.addReferenceObj("aliasVariantsBc", index, classOf[Broadcast[_]].getName)
    val term = ctx.addMutableState(cls, "aliasVariants", v => s"$v = ($cls) $bcRef.value();")
    defineCodeGen(ctx, ev, c => s"$term.lookup($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): AliasVariantsLookup =
    copy(child = newChild)
}

object AliasVariantsLookup {
  val Type: StructType = StructType(Seq(
    StructField("artist_ids", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("second_ids", ArrayType(LongType, containsNull = false), nullable = false)))
}

/** [[ServingRows.of]] over a broadcast index: artist ids → their serving
  * rows, one array per query. */
case class ServingRowsOf(index: Broadcast[ServingRows], rowType: StructType, child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(rowType, containsNull = false)
  override def prettyName: String = "matcher_serving_rows"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, false) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"matcher_serving_rows takes an array of non-null BIGINT artist ids, got ${other.catalogString}")
  }

  @transient private lazy val rows: ServingRows = index.value

  override def nullSafeEval(input: Any): Any = rows.of(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[ServingRows].getName
    val bcRef = ctx.addReferenceObj("servingRowsBc", index, classOf[Broadcast[_]].getName)
    val term = ctx.addMutableState(cls, "servingRows", v => s"$v = ($cls) $bcRef.value();")
    defineCodeGen(ctx, ev, c => s"$term.of($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): ServingRowsOf =
    copy(child = newChild)
}
