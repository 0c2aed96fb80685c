package graft.musicbrainz

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Batch matcher over the fixture export — §3.2 semantics: fuzzy artist
  * lookup, duo-split fallback, two-phase song lookup, relevance ranking,
  * and the A6 accuracy counters (replica of `benchmark.py:245-274`) — and
  * the single-join artist lookup's equivalence with the three-lookup
  * composition it replaced.
  */
class MatchOpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val export = MbFixtureExport.cached(spark)

  private lazy val queries = Seq(
    (1, "Nirvana", Option.empty[String], "Come as You Are"),  // exact
    (2, "Nirvanna", None, "Come as You Are"),                 // artist lev=1
    (3, "Motorhead", None, "Ace of Spades"),                  // unaccented probe
    (4, "Alpha", Some("Beta"), "Duet Song"),                  // duo fallback
    (5, "Nirvana", None, "Hitsong"),                          // single-from boost
    (6, "Queen", None, "Bohemian"),                           // no artist match
    (7, "Nirvana", None, "CAYA"),                             // work-alias hit
    (8, "Nirvana", None, "Come as"),                          // phase-1 prefix
    (9, "Nirvana", None, "Come as You Arf"),                  // phase-2 lev
    (10, "Nirvana", None, "Oldie")                            // wrong-expectation row
  ).toDF("query_id", "artist_name", "artist2_name", "title")

  private lazy val matches =
    MatchOps.matchSongs(queries, export).cache()

  test("matched albums per query (artist fuzz, duo fallback, two phases)") {
    val got = matches.select("query_id", "album_mb_id").as[(Int, String)]
      .collect().toMap
    assert(got == Map(
      1 -> "g-201", 2 -> "g-201", 3 -> "g-212", 4 -> "g-210", 5 -> "g-205",
      7 -> "g-201", 8 -> "g-201", 9 -> "g-201", 10 -> "g-202"))
    assert(!got.contains(6)) // missing: no artist within distance 1
  }

  test("matched song detail: alias provenance and artist fields") {
    val m7 = matches.filter(col("query_id") === 7)
      .select("song_mb_id", "matched_alias", "artist_mb_id", "country_id")
      .as[(String, String, String, String)].head()
    assert(m7 == (("r-100", "caya", "a-1", "us")))
  }

  test("relevance boosts: single-from song ranks its source album first") {
    val m5 = matches.filter(col("query_id") === 5)
      .select("song_mb_id", "relevance").as[(String, Int)].head()
    // score 2 × 10 (single-from) × 1 (not main) × 10 (exact) = 200
    assert(m5 == (("r-102", 200)))
  }

  test("accuracy counters (A6): total/correct/missing/wrong") {
    val golden = Seq(
      (1, "g-201"), (2, "g-201"), (3, "g-212"), (4, "g-210"), (5, "g-205"),
      (6, "g-000"), // matcher finds nothing → missing
      (7, "g-201"), (8, "g-201"), (9, "g-201"),
      (10, "g-777") // matcher finds g-202 → wrong
    ).toDF("query_id", "musicbrainz_id")
    val stats = MatchOps.accuracy(golden, matches)
      .as[(Long, Long, Long, Long)].head()
    assert(stats == ((10L, 1L, 1L, 8L))) // total, missing, wrong, correct
  }

  /** The artist lookup as three separate similarity joins — whole display
    * name, then the "&" split's head and rejoined tail for the queries the
    * whole name missed — composed with an anti-join, a left join and a
    * collect_set. The reference the single-join batch lookup must equal.
    */
  private def threeLookupPairs(q: DataFrame, alias: DataFrame): DataFrame = {
    val direct = MatchOps.searchArtists(
      q.select(col("query_id"), col("full_name").as("qname")), alias)
    val unmatched = q.join(direct.select(col("query_id").as("m_id")).distinct(),
      col("query_id") === col("m_id"), "left_anti")
    val parts = unmatched.select(col("query_id"), split(col("full_name"), "&").as("parts"))
    val mainHits = MatchOps.searchArtists(
      parts.select(col("query_id"), element_at(col("parts"), 1).as("qname")), alias)
    val secondHits = MatchOps.searchArtists(
      parts.select(col("query_id"), array_join(slice(col("parts"), 2, 1000), "&").as("qname")), alias)
      .select(col("query_id").as("s_id"), col("artist_id").as("second_artist_ok"))
    val directPairs = direct.withColumn("second_required", lit(false))
      .withColumn("second_ids", lit(null).cast("array<int>"))
    // a second artist missing from the export does not veto
    // (`benchmark.py:92-95,183`)
    val fallbackPairs = mainHits
      .join(secondHits.groupBy(col("s_id")).agg(collect_set(col("second_artist_ok")).as("second_ids")),
        col("query_id") === col("s_id"), "left")
      .drop("s_id")
      .withColumn("second_required", col("second_ids").isNotNull && size(col("second_ids")) > 0)
    directPairs.unionByName(fallbackPairs)
  }

  /** `base` plus `extra` rows, each column cast to `base`'s type; columns
    * `extra` lacks are null. */
  private def plus(base: DataFrame, extra: DataFrame): DataFrame =
    base.unionByName(extra.select(base.schema.fields.toSeq.map { f =>
      (if (extra.columns.contains(f.name)) col(f.name) else lit(null)).cast(f.dataType).as(f.name)
    }: _*))

  /** The fixture export plus a single artist whose own name contains "&"
    * ("Simon & Garfunkel", 60) and the two artists its split would find
    * (Simon 61, Garfunkel 62). "Mrs Robinson" exists by the duo artist
    * (album g-950, 1968) and, earlier, by Simon with Garfunkel as second
    * artist (g-951, 1960): a fallback that ran despite a whole-name hit
    * would pick the earlier g-951.
    */
  private lazy val richExport = {
    val e = export
    GenerateDataset.Export(
      mbArtist = plus(e.mbArtist, Seq(
        (60, "a-60", "Simon & Garfunkel"), (61, "a-61", "Simon"), (62, "a-62", "Garfunkel"))
        .toDF("id", "mb_id", "name")),
      mbArtistAlias = plus(e.mbArtistAlias, Seq(
        (60, "simongarfunkel"), (61, "simon"), (62, "garfunkel")).toDF("artist_id", "alias")),
      mbAlbum = plus(e.mbAlbum, Seq(
        (950, "g-950", "Bookends", 1968, false, false, true),
        (951, "g-951", "Early Takes", 1960, false, false, false))
        .toDF("id", "mb_id", "title", "release_year", "is_single", "is_soundtrack", "is_main_album")),
      mbSong = plus(e.mbSong, Seq(
        (900, "r-900", "Mrs Robinson", 60, Option.empty[Int], 950, false, 5),
        (901, "r-901", "Mrs Robinson", 61, Some(62), 951, false, 5))
        .toDF("id", "mb_id", "title", "artist_id", "second_artist_id", "album_id", "is_single", "score")),
      mbSongAlias = plus(e.mbSongAlias, Seq(
        (900, "mrsrobinson"), (901, "mrsrobinson")).toDF("song_id", "alias")))
  }

  private lazy val lookupCases = Seq(
    (101, Some("Alpha"), Some("Zyxwvut"), "Duet Song"),          // second artist not in export
    (102, Some("Alpha"), Some("Nirvana"), "Duet Song"),          // second artist found, but not the song's
    (103, Some("Simon & Garfunkel"), None, "Mrs Robinson"),      // one artist, "&" in its own name
    (104, Some("Simon"), Some("Garfunkel"), "Mrs Robinson"),     // whole-name hit suppresses the split
    (105, Some("Alphaa"), Some("Beta"), "Duet Song"),            // typo before the "&"
    (106, Some("Alpha"), Some("Betta"), "Duet Song"),            // typo after the "&"
    (107, Some("Alpha & "), None, "Duet Song"),                  // "&" with an empty tail
    (108, Option.empty[String], None, "Come as You Are"),        // null name
    (109, Some(""), None, "Come as You Are"),                    // empty name
    (110, Some("  "), Some(" "), "Duet Song"),                   // blank names around the "&"
    (111, Option.empty[String], Some("Beta"), "Beta Song"),      // null main, real second
    (112, Some("&"), None, "Duet Song")                          // nothing but the "&"
  ).toDF("query_id", "artist_name", "artist2_name", "title")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  test("single-join artist lookup returns what the three-lookup composition did") {
    for ((what, qs, ex) <- Seq(
        ("fixture queries", queries, export),
        ("lookup edge cases", lookupCases, richExport))) {
      val got = MatchOps.matchSongs(qs, ex)
      val want = MatchOps.winners(MatchOps.scoredWith(qs, ex, threeLookupPairs))
      assert(got.columns.toSeq == want.columns.toSeq, what)
      assert(rows(got) == rows(want), what)
    }
    // the cases are not vacuous: each exercises the branch it names
    val got = MatchOps.matchSongs(lookupCases, richExport)
      .select("query_id", "album_mb_id").as[(Int, String)].collect().toMap
    assert(got == Map(101 -> "g-210", 103 -> "g-950", 104 -> "g-950",
      105 -> "g-210", 106 -> "g-210", 107 -> "g-210"))
  }
}
