package graft.musicbrainz

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.SparkSpec

/** End-to-end accuracy harness in the reference's own input format: a
  * UTF-8-BOM golden CSV (SURVEY S2/§5) replayed through the batch matcher
  * over the fixture export, counters pinned exactly.
  */
class GoldenCsvSpec extends SparkSpec {
  import spark.implicits._

  private val header = "id,title,album_id,album_title,release_year,musicbrainz_id," +
    "artist_id,artist_name,artist_country_id,artist_musicbrainz_id," +
    "artist2_id,artist2_name,artist2_country_id,artist2_musicbrainz_id"

  private lazy val csvPath: String = {
    val rows = Seq(
      header,
      // quoted title with comma; correct expectation
      "1,\"Come as You Are\",11,Nevermind,1991,g-201,1,Nirvana,us,a-1,,,,",
      // misspelled artist, still expected correct
      "2,Come as You Are,11,Nevermind,1991,g-201,1,Nirvanna,us,a-1,,,,",
      // duo row: second artist columns populated
      "3,Duet Song,30,Shared Album,1995,g-210,3,Alpha,us,a-3,4,Beta,us,a-4",
      // no match in the corpus → missing
      "4,Bohemian,99,A Night at the Opera,1975,g-000,9,Queen,gb,a-9,,,,",
      // wrong expectation → wrong
      "5,Oldie,12,Latecomer,1992,g-777,1,Nirvana,us,a-1,,,,",
      // no expected MBID (empty → null) but the matcher DOES match → wrong,
      // not dropped (reference benchmark.py:247 — Python != is None-safe)
      "6,Oldie,13,Unlinked Album,1992,,1,Nirvana,us,a-1,,,,")
    val p = Paths.get("/tmp/graft_golden_test.csv")
    // UTF-8 BOM first — exactly like the reference's benchmark/default.csv
    Files.write(p, ("﻿" + rows.mkString("\n")).getBytes(StandardCharsets.UTF_8))
    p.toString
  }

  test("BOM'd golden CSV: header parsed clean, quoted fields intact") {
    val df = GoldenCsv.read(spark, csvPath)
    assert(df.columns.head == "id") // BOM stripped — not "﻿id"
    assert(df.count() == 6)
    val q = GoldenCsv.toQueries(df)
    val r3 = q.filter($"query_id" === 3).as[(Long, String, String, String)].head()
    assert(r3 == ((3L, "Alpha", "Beta", "Duet Song")))
    val r1 = q.filter($"query_id" === 1).select("artist2_name").head()
    assert(r1.isNullAt(0))
  }

  test("the reference's REAL 2954-row benchmark CSV parses clean") {
    // read-only real artifact (/root/reference/benchmark/default.csv):
    // UTF-8 BOM, quoted comma-bearing titles, empty-string MBIDs, duo rows
    val real = "/root/reference/benchmark/default.csv"
    assume(java.nio.file.Files.isReadable(java.nio.file.Paths.get(real)))
    val df = GoldenCsv.read(spark, real).cache()
    assert(df.columns.head == "id") // BOM stripped on the real header too
    assert(df.count() == 2954)
    // the 50 no-expectation rows arrive as nulls — the case the null-safe
    // accuracy()/diffReport() branches exist for
    assert(df.filter($"musicbrainz_id".isNull).count() == 50)
    val q = GoldenCsv.toQueries(df)
    assert(q.filter($"artist2_name".isNotNull).count() == 63) // duo rows
    assert(q.filter($"title".contains(",")).count() == 39) // quoted commas intact
    assert(q.filter($"query_id".isNull).count() == 0) // every id numeric

    // end-to-end: all 2954 real-world queries (accented artists, quoted
    // titles, duos) through the FULL matcher against the fixture export —
    // real text through searchKey/deletion-variants/relevance without
    // error, and the null-safe counter invariant holds at scale
    val stats = MatchOps.accuracy(
      GoldenCsv.toExpectations(df),
      MatchOps.matchSongs(q, MbFixtureExport.cached(spark)))
      .as[(Long, Long, Long, Long)].head()
    assert(stats._1 == 2954)
    assert(stats._1 == stats._2 + stats._3 + stats._4) // total = missing+wrong+correct
    df.unpersist()
  }

  test("full harness replica: CSV → matcher → exact counters") {
    val golden = GoldenCsv.read(spark, csvPath)
    val matches = MatchOps.matchSongs(
      GoldenCsv.toQueries(golden), MbFixtureExport.cached(spark))
    val stats = MatchOps.accuracy(GoldenCsv.toExpectations(golden), matches)
      .as[(Long, Long, Long, Long)].head()
    assert(stats == ((6L, 1L, 2L, 3L))) // total, missing, wrong, correct
  }

  test("diffReport: one row per wrong/missing query, expected vs got") {
    val golden = GoldenCsv.read(spark, csvPath)
    val matches = MatchOps.matchSongs(
      GoldenCsv.toQueries(golden), MbFixtureExport.cached(spark))
    val diff = MatchOps.diffReport(GoldenCsv.toDbExpectations(golden), matches)
      .select("status", "query_id", "artist_name", "title",
        "db_album_mb_id", "db_album_title", "mb_album_mb_id", "mb_album_title")
      .as[(String, Long, String, String, Option[String], String, Option[String], Option[String])]
      .collect().sortBy(_._2)
    assert(diff.length == 3)
    // query 4: no match in the corpus → missing, MB side null
    assert(diff(0) == (("missing", 4L, "Queen", "Bohemian",
      Some("g-000"), "A Night at the Opera", None, None)))
    // query 5: matched Oldie (g-202) but the CSV expects g-777 → wrong
    assert(diff(1) == (("wrong", 5L, "Nirvana", "Oldie",
      Some("g-777"), "Latecomer", Some("g-202"), Some("Oldie"))))
    // query 6: matched g-202 but the CSV has NO expected MBID → wrong,
    // null-safely listed (a `=!=` comparison would have dropped the row)
    assert(diff(2) == (("wrong", 6L, "Nirvana", "Oldie",
      None, "Unlinked Album", Some("g-202"), Some("Oldie"))))
  }

  test("explainQuery: full candidate set for one query with the winner flagged") {
    val golden = GoldenCsv.read(spark, csvPath)
    def explained() = MatchOps.explainQuery(
      GoldenCsv.toQueries(golden), MbFixtureExport.cached(spark), queryId = 1)
      .select("matched_alias", "album_mb_id", "phase", "relevance", "chosen")
      .as[(String, String, Int, Double, Boolean)].collect()
    // both sides of the matcher's index gate
    val rows = explained()
    assert(OnJoinPath(spark)(explained()).toSeq.sortBy(_.toString) == rows.toSeq.sortBy(_.toString))
    // two phase-1 prefix hits on song 100's aliases, both resolving to the
    // canonical album g-201; the exact-alias row gets the ×10 boost and wins
    assert(rows.map(r => (r._1, r._2, r._3)).toSet ==
      Set(("comeasyouare", "g-201", 1), ("comeasyouarework", "g-201", 1)))
    val chosen = rows.filter(_._5)
    assert(chosen.map(_._1).toSeq == Seq("comeasyouare"))
    assert(chosen.head._4 == rows.map(_._4).max) // 200 = 2 × main-album × exact
  }
}
