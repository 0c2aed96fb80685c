package graft.plans

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftExtensions

/** The opt-in optimizer rule must turn a keyless SQL range-band join into
  * the bucketed equi-join — same results (multiplicities included), no
  * nested-loop in the physical plan — and must leave joins alone when the
  * width conf is unset or an equi-key already exists.
  */
class RewriteRangeJoinSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var prevDefault: Option[SparkSession] = None

  private lazy val spark: SparkSession = {
    prevDefault = SparkSession.getDefaultSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-rangerule-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = {
    spark.conf.unset(RewriteRangeJoin.WidthKey)
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    prevDefault.foreach { s =>
      SparkSession.setDefaultSession(s)
      SparkSession.setActiveSession(s)
    }
    super.afterAll()
  }

  private val points = Seq((900L, 3L), (901L, 10L), (902L, 10L), (903L, 27L))
  private val ivs = Seq((100L, 0L, 5L), (101L, 5L, 14L), (102L, 10L, 10L), (103L, 20L, 21L))

  private def setup(): Unit = {
    import spark.implicits._
    points.toDF("p_id", "p").createOrReplaceTempView("pts")
    ivs.toDF("i_id", "lo", "hi").createOrReplaceTempView("ivs")
  }

  private def naive: Seq[(Long, Long)] =
    (for { (pid, p) <- points; (iid, lo, hi) <- ivs if p >= lo && p <= hi }
      yield (pid, iid)).sorted

  test("keyless range-band join: rewritten plan, identical results") {
    setup()
    spark.conf.set(RewriteRangeJoin.WidthKey, "4")
    val df = spark.sql(
      "SELECT p_id, i_id FROM pts JOIN ivs ON p >= lo AND p <= hi")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
    assert(plan.contains("Generate"), plan)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(got == naive) // multiplicities too: sorted Seq, not Set
  }

  test("BETWEEN and flipped comparison spellings rewrite too") {
    setup()
    spark.conf.set(RewriteRangeJoin.WidthKey, "4")
    for (cond <- Seq("p BETWEEN lo AND hi", "lo <= p AND hi >= p")) {
      val df = spark.sql(s"SELECT p_id, i_id FROM pts JOIN ivs ON $cond")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"[$cond]\n$plan")
      assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted == naive, cond)
    }
  }

  test("unset width conf: rule is inert, nested loop remains") {
    setup()
    spark.conf.unset(RewriteRangeJoin.WidthKey)
    val df = spark.sql("SELECT p_id, i_id FROM pts JOIN ivs ON p >= lo AND p <= hi")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("CartesianProduct"), plan)
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted == naive)
  }

  test("joins with an equi-key are left to the hash join planner") {
    setup()
    spark.conf.set(RewriteRangeJoin.WidthKey, "4")
    for (eq <- Seq("p_id = i_id", "p_id <=> i_id")) { // EqualTo and EqualNullSafe
      val df = spark.sql(
        s"SELECT p_id, i_id FROM pts JOIN ivs ON $eq AND p >= lo AND p <= hi")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Generate"), s"must not bucket an equi-join [$eq]:\n$plan")
    }
  }

  test("malformed width conf fails with a message naming the key") {
    setup()
    spark.conf.set(RewriteRangeJoin.WidthKey, "3600s")
    val e = intercept[Exception](
      spark.sql("SELECT p_id, i_id FROM pts JOIN ivs ON p >= lo AND p <= hi").collect())
    assert(e.getMessage.contains(RewriteRangeJoin.WidthKey), e.getMessage)
    spark.conf.unset(RewriteRangeJoin.WidthKey)
  }

  test("nondeterministic band bounds are not rewritten") {
    import org.apache.spark.sql.functions.{col, rand}
    setup()
    spark.conf.set(RewriteRangeJoin.WidthKey, "4")
    // rand() in a bound: the rewrite would evaluate it twice (bucket +
    // residual) and drop rows. The analyzer already rejects nondeterminism
    // in a JOIN condition, so only the Filter-over-cross-join shape
    // (rule shape 1) can carry one — the rule must leave it alone.
    val df = spark.table("pts").crossJoin(spark.table("ivs"))
      .filter(col("p") >= col("lo") + (rand() * 0).cast("long") &&
        col("p") <= col("hi"))
      .select("p_id", "i_id")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"), s"must not rewrite nondeterministic bounds:\n$plan")
    // rand()*0 = 0: results must still match the plain band
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted == naive)
  }

  test("a runaway interval fails with an actionable error naming the dial, not an opaque one") {
    import spark.implicits._
    setup()
    spark.conf.set(RewriteRangeJoin.WidthKey, "4")
    try {
      // an open-end sentinel interval: would explode into billions of
      // buckets; the guard must name the row and the conf instead
      Seq((99L, 0L, Long.MaxValue)).toDF("i_id", "lo", "hi")
        .createOrReplaceTempView("ivs_dirty")
      val df = spark.sql(
        "SELECT p_id, i_id FROM pts, ivs_dirty WHERE p BETWEEN lo AND hi")
      val e = intercept[Exception](df.collect())
      def chain(t: Throwable): List[Throwable] =
        if (t == null) Nil else t :: chain(t.getCause)
      // [0, Long.MaxValue] at width 4 spans far more than the 4,000,000
      // buckets one row may generate
      assert(chain(e).exists { t =>
        val m = String.valueOf(t.getMessage)
        m.contains("above the bound of 4000000 per row") && m.contains(RewriteRangeJoin.WidthKey)
      }, s"got $e")
    } finally spark.conf.unset(RewriteRangeJoin.WidthKey)
  }
}
