package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** Column ⇄ Expression bridge. Spark 4 scopes `ExpressionUtils` as
  * `private[sql]`, so the one-line adapters live under the sql package;
  * everything else in this repo stays in `graft.*`.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Decompose a sort Column (`col.asc` / `col.desc_nulls_first` / …) into
    * (child, isDescending, isNullsLast). Spark 4 Columns wrap a
    * `ColumnNode`, so the SortOrder is an `sql.internal` node, not a
    * Catalyst expression — pattern-matching `Bridge.expression` output
    * sees only an opaque lazy wrapper. None for a non-sort Column
    * (callers treat it as asc nulls-first, Spark's own default). */
  def sortSpec(c: Column): Option[(Column, Boolean, Boolean)] = c.node match {
    case so: org.apache.spark.sql.internal.SortOrder =>
      Some((Column(so.child),
        so.sortDirection == org.apache.spark.sql.internal.SortOrder.Descending,
        so.nullOrdering == org.apache.spark.sql.internal.SortOrder.NullsLast))
    case _ => None
  }

  /** The name a bare column reference (`col("x")`) refers to; None for
    * any other Column. */
  def columnName(c: Column): Option[String] = c.node match {
    case a: org.apache.spark.sql.internal.UnresolvedAttribute => Some(a.nameParts.mkString("."))
    case _ => None
  }

  /** Lift an `InternalRow` RDD back into a DataFrame (`private[sql]` on
    * the session). Lets an operator hold the RDD REFERENCE across a
    * truncation boundary — `Dataset.localCheckpoint` hides its RDD, so
    * `Dataset.unpersist` cannot release the checkpoint's storage blocks
    * (it only consults the CacheManager); with the reference in hand,
    * `rdd.unpersist()` works. */
  def internalCreateDataFrame(
      spark: SparkSession, rdd: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** A checkpointed frame (`Dataset.localCheckpoint`: its plan is one
    * `LogicalRDD` leaf) whose leaf reports `sizeInBytes` as its size, in
    * place of the statistics of the plan that computed its rows, which
    * `localCheckpoint` copies onto it (the leaf's constructor is the only
    * way to set them; `Dataset.ofRows` is `private[sql]`). */
  def withLeafSize(df: DataFrame, sizeInBytes: BigInt): DataFrame = {
    val session = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val leaf = df.queryExecution.logical match {
      case r: LogicalRDD => r.copy()(session, Some(Statistics(sizeInBytes)), None)
      case p => throw new IllegalArgumentException(s"not a checkpointed frame:\n$p")
    }
    org.apache.spark.sql.classic.Dataset.ofRows(session, leaf)
  }

  /** Entries the session's CacheManager holds (`private[sql]` count): a
    * release check compares it before and after a pipeline pass. */
  def cacheEntries(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
