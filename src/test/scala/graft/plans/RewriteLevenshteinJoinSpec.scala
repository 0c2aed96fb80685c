package graft.plans

import org.apache.spark.sql.SparkSession
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftExtensions

/** The optimizer rule must turn a naive SQL cartesian lev-join into the
  * blocked equi-join — same results (including duplicate-row
  * multiplicities), no cartesian in the physical plan.
  */
class RewriteLevenshteinJoinSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var prevDefault: Option[SparkSession] = None

  private lazy val spark: SparkSession = {
    prevDefault = SparkSession.getDefaultSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-rule-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = {
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    prevDefault.foreach { s =>
      SparkSession.setDefaultSession(s)
      SparkSession.setActiveSession(s)
    }
    super.afterAll()
  }

  private def setup(): Unit = {
    import spark.implicits._
    // duplicate row in ls ("abc" twice): multiplicities must survive
    Seq((1, "abc"), (2, "abc"), (3, "xyz"), (4, "ab"), (5, "")).toDF("lid", "ls")
      .createOrReplaceTempView("lt")
    Seq((10, "abd"), (11, "abc"), (12, "zzzz"), (13, "a"), (14, "xyzw")).toDF("rid", "rs")
      .createOrReplaceTempView("rt")
  }

  /** Edit distance over code points, the unit of Spark's `levenshtein`
    * (2 for any pair whose lengths differ by more than one). */
  private def lev(a0: String, b0: String): Int = {
    val a = a0.codePoints().toArray
    val b = b0.codePoints().toArray
    if (math.abs(a.length - b.length) > 1) return 2
    val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("SQL cartesian lev<=1 join: rewritten plan, identical results") {
    setup()
    val sql = "SELECT lid, rid FROM lt, rt WHERE levenshtein(ls, rs) <= 1"
    val df = spark.sql(sql)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("Generate"), plan)

    val got = df.collect().map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq
    // naive expectation computed in Scala
    val lt = Seq((1, "abc"), (2, "abc"), (3, "xyz"), (4, "ab"), (5, ""))
    val rt = Seq((10, "abd"), (11, "abc"), (12, "zzzz"), (13, "a"), (14, "xyzw"))
    val expected = (for { (li, lsv) <- lt; (ri, rsv) <- rt if lev(lsv, rsv) <= 1 }
      yield (li, ri)).sorted
    assert(got == expected)
    assert(Set((1, 11), (2, 11)).subsetOf(got.toSet)) // both "abc" duplicates matched
  }

  test("other comparison spellings also rewrite; extra predicates survive") {
    setup()
    val df = spark.sql(
      "SELECT lid, rid FROM lt, rt WHERE levenshtein(ls, rs) < 2 AND lid + rid > 12")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("Generate"), plan)
    val got = df.collect().map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq
    assert(got.nonEmpty && got.forall(p => p._1 + p._2 > 12))
  }

  test("joins with an equi-condition are left alone") {
    setup()
    val df = spark.sql(
      "SELECT lid, rid FROM lt JOIN rt ON lid + 9 = rid WHERE levenshtein(ls, rs) <= 1")
    // an equi-conjunct exists, so the hash join on it stays the plan
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"), plan)
    // lev("ab","a") = 1 and 4+9 = 13, so (4,13) belongs in the output
    assert(df.collect().map(r => (r.getInt(0), r.getInt(1))).toSet ==
      Set((1, 10), (2, 11), (4, 13)))
  }

  test("a null-safe equi-condition also suppresses the rewrite") {
    setup()
    val df = spark.sql(
      "SELECT lid, rid FROM lt JOIN rt ON lid + 9 <=> rid WHERE levenshtein(ls, rs) <= 1")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"), plan) // <=> is hash-joinable too
    assert(df.collect().map(r => (r.getInt(0), r.getInt(1))).toSet ==
      Set((1, 10), (2, 11), (4, 13)))
  }

  test("nondeterministic lev arguments are not rewritten (the args evaluate twice)") {
    setup()
    val df = spark.sql(
      "SELECT lid, rid FROM lt, rt " +
        "WHERE levenshtein(concat(ls, substr(uuid(), 1, 1)), rs) <= 1")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"), plan)
  }

  test("long strings block on length keys, not exploded variants; results exact") {
    import spark.implicits._
    // strings around and far past the 255 threshold; pairs at lev 0/1 on
    // both sides of it, plus a cross-regime near-boundary pair
    val base = "x" * 300
    val at = "y" * 255
    Seq((1, base), (2, base + "Q"), (3, base.dropRight(1) + "Z"), (4, at), (5, "y" * 254), (6, "short"))
      .toDF("lid", "ls").createOrReplaceTempView("ltl")
    Seq((10, base), (11, base + "Q"), (12, "z" * 300), (13, at), (14, "y" * 256), (15, "shore"))
      .toDF("rid", "rs").createOrReplaceTempView("rtl")
    val df = spark.sql("SELECT lid, rid FROM ltl, rtl WHERE levenshtein(ls, rs) <= 1")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
    val got = df.collect().map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq
    // lev pairs: (1,10)=0, (1,11)=1 (append Q), (2,11)=0, (2,10)=1,
    // (3,10)=1 (substitute), (3,11)? base[-1]->Z vs base+Q = 2, no;
    // (4,13)=0, (4,14)=1 (append y), (5,13)=1, (5,14)? 254 vs 256 gap 2 no;
    // (6,15)=1 ("short"->"shore" substitute)
    assert(got == Seq((1, 10), (1, 11), (2, 10), (2, 11), (3, 10),
      (4, 13), (4, 14), (5, 13), (6, 15)))
  }

  // the small alphabet of SimilarityJoinSpec: two supplementary
  // characters (two UTF-16 units each) that share a high surrogate
  private val alphabet = Seq("a", "b", "c", "\uD83D\uDE00", "\uD83D\uDE01")
  private def genCodePoints(n: Gen[Int]): Gen[Vector[String]] =
    n.flatMap(k => Gen.listOfN(k, Gen.oneOf(alphabet)).map(_.toVector))
  /** `cps` with one random substitution, insertion or deletion. */
  private def genEdit(cps: Vector[String]): Gen[Vector[String]] = for {
    i <- Gen.choose(0, cps.length - 1)
    c <- Gen.oneOf(alphabet)
    op <- Gen.choose(0, 2)
  } yield op match {
    case 0 => cps.updated(i, c)
    case 1 => cps.patch(i, Seq(c), 0)
    case _ => cps.patch(i, Nil, 1)
  }

  test("SQL lev<=1 join ≡ naive filter, duplicate rows and the 255 boundary included (property)") {
    import spark.implicits._
    // each side: short strings (repeats likely, plus three exact
    // duplicate rows) and strings within one edit of a shared base of
    // 254–256 characters, so pairs fall in both regimes and across them
    val genCase = for {
      base <- genCodePoints(Gen.choose(254, 256))
      side = for {
        short <- Gen.listOfN(12, genCodePoints(Gen.choose(0, 4)))
        long <- Gen.listOfN(4, Gen.oneOf(Gen.const(base), genEdit(base)))
      } yield (short ++ short.take(3) ++ long).map(_.mkString)
      ls <- side
      rs <- side
    } yield (ls, rs)
    val prop = Prop.forAllNoShrink(genCase) { case (ls, rs) =>
      ls.toDF("ls").createOrReplaceTempView("lp")
      rs.toDF("rs").createOrReplaceTempView("rp")
      val df = spark.sql("SELECT ls, rs FROM lp, rp WHERE levenshtein(ls, rs) <= 1")
      val plan = df.queryExecution.executedPlan.toString
      val got = df.collect().map(r => (r.getString(0), r.getString(1))).toSeq.sorted
      val want = (for { a <- ls; b <- rs if lev(a, b) <= 1 } yield (a, b)).sorted
      plan.contains("Generate") && !plan.contains("CartesianProduct") && got == want
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }
}
