package graft.operators

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkSpec

/** SURVEY §5: "similarity join J14 (naive vs blocked equivalence — property
  * test with ScalaCheck random strings: blocked join ≡ filter lev ≤ 1)".
  */
class SimilarityJoinSpec extends SparkSpec {
  import spark.implicits._

  test("deletionVariants = the string plus each single-deletion, deduped") {
    val out = Seq("abc", "", "aa").toDF("s")
      .select(sort_array(SimilarityJoin.deletionVariants(col("s"))).as("v"))
      .as[Seq[String]].collect()
    assert(out(0) == Seq("ab", "abc", "ac", "bc"))
    assert(out(1) == Seq(""))
    assert(out(2) == Seq("a", "aa")) // both deletions give "a" — deduped
  }

  test("deletionVariants of null is null (row drops out via explode)") {
    val df = Seq((1, Option.empty[String]), (2, Some("x"))).toDF("id", "s")
    val n = df.select(col("id"), explode(SimilarityJoin.deletionVariants(col("s")))).count()
    assert(n == 2) // only "x" and its one deletion ""
  }

  private def naivePairs(left: Seq[String], right: Seq[String]): Set[(String, String)] =
    (for {
      a <- left; b <- right
      if levenshteinDist(a, b) <= 1
    } yield (a, b)).toSet

  /** Edit distance over code points, the unit of Spark's `levenshtein`. */
  private def levenshteinDist(a0: String, b0: String): Int = {
    val a = a0.codePoints().toArray
    val b = b0.codePoints().toArray
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(
        math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  // a small alphabet with two supplementary characters (each two UTF-16
  // units), one of them sharing its high surrogate with the other
  private val alphabet = Seq("a", "b", "c", "\uD83D\uDE00", "\uD83D\uDE01")
  private def genStr(maxLen: Int): Gen[String] =
    Gen.choose(0, maxLen).flatMap(n => Gen.listOfN(n, Gen.oneOf(alphabet)).map(_.mkString))

  test("deletionVariants ≡ deletionVariantsComposed, its built-ins reference (property)") {
    def both(ss: Seq[Option[String]]): Seq[(Option[Seq[String]], Option[Seq[String]])] =
      ss.toDF("s").select(
        sort_array(SimilarityJoin.deletionVariants(col("s"))),
        sort_array(SimilarityJoin.deletionVariantsComposed(col("s"))))
        .as[(Option[Seq[String]], Option[Seq[String]])].collect().toSeq
    // code points, not UTF-16 units: the alphabet's supplementary
    // characters must be deleted whole by both forms
    val prop = Prop.forAll(Gen.listOfN(40, genStr(6))) { ss =>
      both(ss.map(Option(_))).forall { case (native, composed) => native == composed }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
    assert(both(Seq(None, Some(""))) == Seq((None, None), (Some(Seq("")), Some(Seq("")))))
  }

  test("blocked lev<=1 join ≡ naive cross-join filter (property, small alphabet)") {
    // Small alphabet maximizes collisions and near-miss pairs (the "ab"/"ba"
    // false-candidate case the verify step must reject).
    val genCorpus = Gen.listOfN(30, genStr(5))
    val prop = Prop.forAll(genCorpus, genCorpus) { (ls: List[String], rs: List[String]) =>
      val left = ls.distinct.toDF("l")
      val right = rs.distinct.toDF("r")
      val rows = SimilarityJoin.levenshtein1Join(left, "l", right, "r")
        .as[(String, String)].collect().toSeq
      // exactly-once: the witness filter must keep ONE row per matching pair
      // even when the pair shares several variants (equal strings share all)
      rows.distinct == rows && rows.toSet == naivePairs(ls.distinct, rs.distinct)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("lev1_witness: analytic witness is a shared deletion variant (property)") {
    // the exactly-once selector is sound iff, whenever lev(a,b) <= 1, the
    // witness is a member of BOTH deletion neighborhoods — then exactly one
    // joined row satisfies __lv === witness
    def variants(s: String): Set[String] = {
      val cps = s.codePoints().toArray.toSeq.map(Character.toString)
      (s +: cps.indices.map(i => (cps.take(i) ++ cps.drop(i + 1)).mkString)).toSet
    }
    val prop = Prop.forAll(genStr(6), genStr(6)) { (a: String, b: String) =>
      val witness = org.apache.spark.sql.graft.Bridge.column(
        graft.functions.Lev1Witness(
          org.apache.spark.sql.graft.Bridge.expression(col("a")),
          org.apache.spark.sql.graft.Bridge.expression(col("b"))))
      val w = Seq((a, b)).toDF("a", "b")
        .select(witness.as("w"))
        .as[Option[String]].head()
      if (levenshteinDist(a, b) <= 1)
        w.exists(v => variants(a).contains(v) && variants(b).contains(v))
      else w.isEmpty // self-contained: EVERY lev >= 2 pair yields null,
                     // including same-length and ±1-length pairs — the
                     // function is safe for standalone SQL use
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(60), prop)
    assert(res.passed, res.status.toString)
  }

  test("blocked join finds pairs one supplementary character apart") {
    val smiley = "a\uD83D\uDE00b" // "a😀b": two UTF-16 units, one code point
    assert(Seq((smiley, "ab")).toDF("x", "y")
      .select(levenshtein(col("x"), col("y"))).as[Int].head() == 1)
    val left = Seq(smiley, "ab").toDF("l")
    val right = Seq(smiley, "ab").toDF("r")
    val rows = SimilarityJoin.levenshtein1Join(left, "l", right, "r")
      .as[(String, String)].collect().toSeq
    assert(rows.sorted == Seq(("a\uD83D\uDE00b", "a\uD83D\uDE00b"), ("a\uD83D\uDE00b", "ab"),
      ("ab", "a\uD83D\uDE00b"), ("ab", "ab")).sorted)
  }

  test("blocked join on real-shaped keys finds substitution/insert/delete/equal") {
    val aliases = Seq((1, "fleetwoodmac"), (2, "pearljam"), (3, "nirvana")).toDF("id", "alias")
    val probes = Seq(("fleetwod mac", "fleetwodmac"), ("pearl jam", "pearljam"),
      ("nirvanna", "nirvanna"), ("queen", "queen")).toDF("probe", "key")
    val hits = SimilarityJoin.levenshtein1Join(probes, "key", aliases, "alias")
      .select("probe", "id").as[(String, Int)].collect().toSet
    assert(hits == Set(("fleetwod mac", 1), ("pearl jam", 2), ("nirvanna", 3)))
  }
}
