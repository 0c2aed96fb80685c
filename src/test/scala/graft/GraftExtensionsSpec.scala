package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** SQL-surface registration: the native expressions must be callable from
  * `spark.sql` once the extension is installed. Extensions bind at session
  * build time, and `getOrCreate` silently reuses any default session — so
  * this suite clears the default first and restores it after.
  */
class GraftExtensionsSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var prevDefault: Option[SparkSession] = None

  private lazy val spark: SparkSession = {
    prevDefault = SparkSession.getDefaultSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
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

  test("all graft functions are callable from SQL") {
    val row = spark.sql(
      """SELECT
        |  unaccent('Motörhead') AS u,
        |  rolling_hash('ab') AS rh,
        |  size(token_hashes('a b c')) AS nt,
        |  size(shingle_hashes('a b c d', 3)) AS ns,
        |  size(shingle_hashes_all('a b a b', 2)) AS nsa,
        |  shingles_all('a b a b', 2) AS sall,
        |  simhash(token_hashes('x y z')) AS sh,
        |  lsh_bucket(array(cast(1.0 as float), cast(-1.0 as float)), 4, 0) AS lb,
        |  size(deletion_variants('abc')) AS dv,
        |  lev1_witness('abc', 'abd') AS w,
        |  lev1_witness('abc', 'abcde') AS w2,
        |  quantized_dot(array(cast(1.0 as float)), array(cast(2.0 as float))) AS qd,
        |  dot_product(array(cast(1.0 as float)), array(cast(2.0 as float))) AS dp,
        |  int8_dot(array(cast(3 as tinyint)), array(cast(-2 as tinyint))) AS i8,
        |  remove_token_spans('a b c d', array(1L), array(3L)) AS rts
        |""".stripMargin).head()
    assert(row.getString(0) == "Motorhead")
    assert(row.getLong(1) == 97L * 31 + 98)
    assert(row.getInt(2) == 3)
    assert(row.getInt(3) == 2)
    assert(row.getInt(4) == 3) // "a b","b a","a b" — duplicates kept
    assert(row.getSeq[String](5) == Seq("a b", "b a", "a b"))
    assert(row.getLong(6) >= 0 && row.getLong(6) < (1L << 30))
    assert(row.getLong(7) >= 0 && row.getLong(7) < 16)
    assert(row.getInt(8) == 4) // abc + ab/ac/bc
    assert(row.getString(9) == "ab") // analytic witness: first mismatch at index 2
    assert(row.isNullAt(10)) // length gap 2 -> lev >= 2, no witness
    assert(row.getLong(11) == 1000L * 2000)
    assert(row.getDouble(12) == 2.0)
    assert(row.getLong(13) == -6L)
    assert(row.getString(14) == "a d") // tokens [1,3) cut
  }

  test("lang_id and minhash_sig are callable from SQL") {
    val row = spark.sql(
      """SELECT
        |  lang_id('the cat and the dog') AS en,
        |  lang_id('zzz qqq') AS und,
        |  minhash_sig(shingle_hashes('a b c d e', 3), 8) AS mh,
        |  minhash_sig(shingle_hashes('a b', 3), 8) AS mh_empty
        |""".stripMargin).head()
    assert(row.getString(0) == "en")
    assert(row.getString(1) == "und")
    assert(row.getSeq[Long](2).length == 8)
    assert(row.isNullAt(3)) // no shingles -> null signature
  }

  test("gate_stats, gram_repetition and shingle_hashes_wide_all from SQL") {
    val row = spark.sql(
      """SELECT
        |  gate_stats('The cat and the dog', array('the', 'and')) AS gs,
        |  gram_repetition('go go go', 2) AS rep,
        |  gram_repetition('one', 2) AS rep_null,
        |  size(shingle_hashes_wide_all('a b a b', 2)) AS nw,
        |  shingle_hashes_wide_all('x y', 2)[0] AS w0
        |""".stripMargin).head()
    val gs = row.getStruct(0)
    assert((gs.getLong(0), gs.getLong(1), gs.getLong(2)) == ((5L, 15L, 3L)))
    val rep = row.getStruct(1)
    assert((rep.getLong(0), rep.getLong(1), rep.getLong(2)) == ((2L, 1L, 2L)))
    assert(row.isNullAt(2)) // < n tokens → null
    assert(row.getInt(3) == 3) // duplicates kept
    // wide key = h31("x y")·(1e9+7) + h37("x y"), both plain rolling folds
    val h31 = (("x".head.toInt * 31 + 32) * 31L + 'y'.toInt) % 1000000007L
    val h37 = (("x".head.toInt * 37 + 32) * 37L + 'y'.toInt) % 1000000007L
    assert(row.getLong(4) == h31 * 1000000007L + h37)
  }

  test("non-literal arity/param misuse fails analysis, not execution") {
    val e = intercept[Exception](spark.sql("SELECT rolling_hash('a', 'b')").head())
    assert(e.getMessage.contains("expects 1 argument"))
  }

  test("strip_markup from SQL ≡ the Column API composition") {
    val row = spark.sql(
      "SELECT strip_markup('<p>a <b>b</b></p><script>x</script> &amp; c') AS s").head()
    assert(row.getString(0) == "a b & c")
  }

  test("html_text from SQL: structural tier with attribute text") {
    val row = spark.sql(
      """SELECT html_text('<div title="a>b">x</div>') AS s""").head()
    assert(row.getString(0) == "a>b x")
  }
}
