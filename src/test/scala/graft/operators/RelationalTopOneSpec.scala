package graft.operators

import java.sql.Date

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the r14 aggregate path of [[Relational.topOnePerGroup]] against
  * the rank-window shape it replaced: identical winners on every
  * encodable sort spec (asc/desc, nulls first/last, ints at the negation
  * overflow boundary, doubles with NaN, dates), and the window fallback
  * still engages for specs outside the encodable set. */
class RelationalTopOneSpec extends SparkSpec {
  import org.apache.spark.sql.expressions.Window

  /** The pre-r14 window implementation — the reference semantics. */
  private def windowTopOne(
      df: DataFrame,
      partitionBy: Seq[org.apache.spark.sql.Column],
      order: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val w = Window.partitionBy(partitionBy: _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  private def assertSame(
      df: DataFrame,
      keys: Seq[org.apache.spark.sql.Column],
      order: Seq[org.apache.spark.sql.Column]): Unit = {
    val got = Relational.topOnePerGroup(df, keys, order)
      .collect().map(_.toString).sorted
    val want = windowTopOne(df, keys, order)
      .collect().map(_.toString).sorted
    assert(got.toSeq == want.toSeq)
  }

  test("agg path ≡ window path: asc/desc longs with nulls, both null orders") {
    import spark.implicits._
    val df = Seq[(Int, java.lang.Long, String)](
      (1, 5L, "a"), (1, 2L, "b"), (1, null, "c"),
      (2, null, "d"), (2, null, "e"),
      (3, Long.MinValue, "f"), (3, Long.MaxValue, "g"), (3, 0L, "h"))
      .toDF("k", "v", "tag")
    assertSame(df, Seq(col("k")), Seq(col("v").asc_nulls_last, col("tag").asc))
    assertSame(df, Seq(col("k")), Seq(col("v").asc_nulls_first, col("tag").asc))
    assertSame(df, Seq(col("k")), Seq(col("v").desc, col("tag").asc))
    assertSame(df, Seq(col("k")), Seq(col("v").desc_nulls_first, col("tag").asc))
  }

  test("agg path ≡ window path: desc doubles with NaN and ±0.0") {
    import spark.implicits._
    val df = Seq[(Int, java.lang.Double, Int)](
      (1, Double.NaN, 10), (1, 7.5, 11), (1, null, 12),
      (2, -0.0, 20), (2, 0.0, 21),
      (3, Double.NegativeInfinity, 30), (3, -1e308, 31))
      .toDF("k", "v", "id")
    assertSame(df, Seq(col("k")), Seq(col("v").desc, col("id").asc))
    assertSame(df, Seq(col("k")), Seq(col("v").asc_nulls_last, col("id").asc))
  }

  test("agg path ≡ window path: dates desc and multi-key mixed directions") {
    import spark.implicits._
    val df = Seq(
      (1, Date.valueOf("1995-01-01"), 3, "x"),
      (1, Date.valueOf("1995-01-01"), 7, "y"),
      (1, null.asInstanceOf[Date], 9, "z"),
      (2, Date.valueOf("2001-06-30"), 1, "w"))
      .toDF("k", "d", "n", "tag")
    assertSame(df, Seq(col("k")),
      Seq(col("d").asc_nulls_last, col("n").desc, col("tag").asc))
    assertSame(df, Seq(col("k")), Seq(col("d").desc, col("n").asc))
  }

  test("comparator: array_sort under a sort spec orders as orderBy does, nulls and NaN included") {
    import spark.implicits._
    val df = Seq[(java.lang.Long, java.lang.Double, String)](
      (5L, 1.0, "a"), (null, Double.NaN, "b"), (2L, null, null), (5L, -0.5, "c"),
      (null, 1.0, "d"), (2L, Double.NaN, "e"), (5L, 1.0, null), (2L, null, "f"))
      .toDF("v", "d", "s")
    def order(key: String => org.apache.spark.sql.Column) =
      Seq(key("v").desc_nulls_first, key("d").asc_nulls_last, key("s").desc)
    val rows = collect_list(struct(col("v"), col("d"), col("s")))
    val sorted = df.select(array_sort(rows, Relational.comparator(order)).as("a"))
      .select(explode(col("a")).as("r")).select(col("r.*"))
    assert(sorted.collect().toSeq == df.orderBy(order(col): _*).collect().toSeq)
  }

  test("desc string sort spec falls back to the window path (same result)") {
    import spark.implicits._
    val df = Seq((1, "b", 1), (1, "a", 2), (2, "z", 3)).toDF("k", "s", "id")
    // not encodable: plan must contain a Window operator, and results match
    val got = Relational.topOnePerGroup(df, Seq(col("k")), Seq(col("s").desc, col("id").asc))
    assert(got.queryExecution.executedPlan.toString.contains("Window"))
    assertSame(df, Seq(col("k")), Seq(col("s").desc, col("id").asc))
  }

  test("encodable spec takes the aggregate path (no Window in the plan)") {
    import spark.implicits._
    val df = Seq((1, 4L, "a"), (1, 2L, "b")).toDF("k", "v", "tag")
    val got = Relational.topOnePerGroup(df, Seq(col("k")), Seq(col("v").asc, col("tag").asc))
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("HashAggregate") || plan.contains("SortAggregate"), plan)
  }

  test("all original columns survive the aggregate path in order") {
    import spark.implicits._
    val df = Seq((1, 4L, "a", 9.0), (1, 2L, "b", 8.0)).toDF("k", "v", "tag", "x")
    val got = Relational.topOnePerGroup(df, Seq(col("k")), Seq(col("v").asc, col("tag").asc))
    assert(got.columns.toSeq == Seq("k", "v", "tag", "x"))
    assert(got.collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getDouble(3)))
      .toSeq == Seq((1, 2L, "b", 8.0)))
  }
}
