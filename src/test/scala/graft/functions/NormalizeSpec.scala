package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkSpec

class NormalizeSpec extends SparkSpec {
  import spark.implicits._

  private def key(s: String): String = {
    val df = Seq(s).toDF("v").select(normalize.searchKey(col("v")).as("k"))
    df.as[String].head()
  }

  test("Transliterate.ascii handles diacritics and special letters") {
    assert(Transliterate.ascii("Motörhead") == "Motorhead")
    assert(Transliterate.ascii("Beyoncé") == "Beyonce")
    assert(Transliterate.ascii("Sigur Rós") == "Sigur Ros")
    assert(Transliterate.ascii("Mø") == "Mo")
    assert(Transliterate.ascii("Straße") == "Strasse")
    assert(Transliterate.ascii("Æther œuvre") == "AEther oeuvre")
    assert(Transliterate.ascii("Łódź") == "Lodz")
    assert(Transliterate.ascii("Đorđe") == "Dorde")
    // typographic punctuation (clean(), benchmark.py:14-21)
    assert(Transliterate.ascii("don’t — stop…") == "don't - stop...")
  }

  test("searchKey matches the reference probe-side semantics (util.py:14-16)") {
    // unidecode → lower → remove "(live)" → strip non-alnum
    assert(key("Pearl Jam") == "pearljam")
    assert(key("Black (Live)") == "black")        // lower() runs before the strip
    assert(key("Hotellounge (Be the Death of Me)") == "hotelloungebethedeathofme")
    assert(key("Motörhead!!!") == "motorhead")
    assert(key("AC/DC") == "acdc")
    assert(key("R.E.M.") == "rem")
    assert(key("__under_score__") == "underscore") // python [^a-zA-Z0-9] drops _
  }

  private def keyOpt(s: String): Option[String] = {
    val df = Seq(s).toDF("v").select(normalize.searchKey(col("v")).as("k"))
    df.as[Option[String]].head()
  }

  test("non-Latin scripts transliterate to distinct keys (ADVICE r01)") {
    assert(Transliterate.ascii("Кино") == "Kino")
    assert(Transliterate.ascii("Щёлково") == "Shchelkovo") // ё NFD-decomposes to е + mark
    assert(key("Ленинград") == "leningrad")
    assert(key("Μάριος") == "marios") // tonos stripped by NFD before mapping
    assert(key("Кино") != key("Ленинград"))
  }

  test("keys that normalize to empty are null — non-matchable, never ''") {
    assert(keyOpt("!!!").isEmpty)
    assert(keyOpt("(Live)").isEmpty)
    assert(keyOpt("永遠").isEmpty) // unmapped CJK strips to nothing → null
    assert(keyOpt("Pearl Jam").contains("pearljam"))
  }

  // what the key's passes act on: ASCII, "(live)" in any case, nested and
  // cut short; Latin-1 accents, Cyrillic, Greek; CJK, combining marks,
  // the two letters whose lowercase is ASCII (U+0130, U+212A) and NBSP;
  // emoji (surrogate pairs)
  private val tokens = Seq(
    "a", "Z", "q", "0", "9", " ", "_", "-", "!", "(", ")", "/",
    "(live)", "(LiVe)", "((live)live)", "(liv", "e)", "LIVE", "(LIVE)",
    "é", "Ö", "ß", "ø", "Æ", "ı", "Щ", "ё", "Ж", "Μ", "ά", "ς",
    "永", "遠", "\u0301", "\u0308", "\u0130", "\u212A", "\u00A0", "（",
    "\uD83D\uDE00", "\uD83C\uDFB8")
  private val genText: Gen[String] =
    Gen.choose(0, 10).flatMap(n => Gen.listOfN(n, Gen.oneOf(tokens)).map(_.mkString))

  /** (native, composed) keys of `df`'s column `s`. */
  private def bothKeys(df: DataFrame): Seq[(Option[String], Option[String])] =
    df.select(normalize.searchKey(col("s")), normalize.searchKeyComposed(col("s")))
      .as[(Option[String], Option[String])].collect().toSeq

  // an RDD-backed frame runs whole-stage codegen; a local one folds into
  // a local relation while it plans, on interpreted expressions
  private def codegen(ss: Seq[Option[String]]): DataFrame = {
    val df = spark.sparkContext.parallelize(ss, 2).toDF("s")
    val plan = df.select(normalize.searchKey(col("s"))).queryExecution.executedPlan
    assert(plan.exists(_.isInstanceOf[WholeStageCodegenExec]), s"not codegen'd:\n$plan")
    df
  }
  private def interpreted(ss: Seq[Option[String]]): DataFrame = ss.toDF("s")

  test("searchKey ≡ searchKeyComposed, its built-ins reference, codegen and interpreted (property)") {
    for ((path, frame) <- Seq("codegen" -> codegen _, "interpreted" -> interpreted _)) {
      val prop = Prop.forAll(Gen.listOfN(60, genText)) { ss =>
        bothKeys(frame(ss.map(Option(_)))).forall { case (native, composed) => native == composed }
      }
      val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
      assert(res.passed, s"$path: ${res.status}")
      assert(bothKeys(frame(Seq(None, Some("")))) == Seq((None, None), (None, None)), path)
    }
  }

  test("searchKey drops each (live) once, left to right, as regexp_replace does") {
    val goldens = Seq(
      "((live)live)" -> Some("live"), // the removal joins a new "(live)", not re-scanned
      "x(live" -> Some("xlive"),
      "(LIVE)" -> None,
      "Black (Live) (live)x" -> Some("blackx"),
      "(lívé)" -> None) // transliterated before the drop
    for (frame <- Seq(codegen _, interpreted _)) {
      val got = bothKeys(frame(goldens.map(g => Option(g._1))))
      assert(got == goldens.map(g => (g._2, g._2)))
    }
  }

  test("store-vs-probe divergence is pinned (SURVEY §7.4.3)") {
    // the reference's SQL side (\W) KEEPS underscores; probe side drops them
    val df = Seq("a_b").toDF("v")
      .select(
        normalize.searchKeySqlSide(col("v")).as("sql_side"),
        normalize.searchKey(col("v")).as("probe_side"))
    val r = df.head()
    assert(r.getString(0) == "a_b")
    assert(r.getString(1) == "ab")
  }

  test("unaccent is null-safe and codegen-evaluated over a DataFrame") {
    val df = Seq(Some("Beyoncé"), None, Some("ø")).toDF("v")
      .select(normalize.unaccent(col("v")).as("a"))
    assert(df.as[Option[String]].collect().toSeq ==
      Seq(Some("Beyonce"), None, Some("o")))
  }

  test("cleanPunct folds typographic punctuation only") {
    val df = Seq("“Don’t‐stop…”").toDF("v")
      .select(normalize.cleanPunct(col("v")).as("c"))
    assert(df.as[String].head() == "\"Don't-stop...\"")
  }
}
