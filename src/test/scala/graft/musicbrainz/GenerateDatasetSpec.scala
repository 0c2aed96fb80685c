package graft.musicbrainz

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

import graft.SparkSpec

/** End-to-end dataset generation over the hand-curated fixture — every
  * FIXTURES.md §2.3 scenario pinned with hand-computed expectations.
  */
class GenerateDatasetSpec extends SparkSpec {
  import spark.implicits._

  private lazy val export = MbFixtureExport.cached(spark)

  test("country hierarchy walk (sql/1): direct code, 1-hop parent, none") {
    val c = CountryOps.areaCountry(MbFixture.sources(spark))
      .as[(Int, Option[String])].collect().toMap
    assert(c(1).contains("be")) // direct iso code
    assert(c(4).contains("us")) // Seattle → US via part-of edge
    assert(c(2).contains("be")) // Ghent → BE
    assert(c(5).isEmpty)        // orphan area
  }

  test("country_id is the lowercase ISO code, for every letter") {
    val codes = ('A' to 'Z').sliding(2).map(_.mkString).toSeq :+ "Gb"
    val src = MbFixture.sources(spark).copy(
      area = codes.indices.toDF("id"),
      iso31661 = codes.zipWithIndex.map(_.swap).toDF("area", "code"),
      lAreaArea = Seq.empty[(Int, Int, Int)].toDF("link", "entity0", "entity1"))
    val c = CountryOps.areaCountry(src).as[(Int, String)].collect().toMap
    assert(c == codes.indices.map(i => i -> codes(i).toLowerCase).toMap)
  }

  test("mb_artist (sql/3): score = url count, filter country='be' OR score>8") {
    val rows = export.mbArtist
      .select("id", "mb_id", "name", "country_id", "score")
      .as[(Int, String, String, Option[String], Int)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(1, 2, 3, 4)) // 5: score 3/us out; 7: score 0 out
    assert(rows(0) == ((1, "a-1", "Nirvana", Some("us"), 10)))
    assert(rows(1) == ((2, "a-2", "Motörhead", Some("be"), 2))) // in via country
    assert(rows(2)._5 == 9 && rows(3)._5 == 12)
  }

  test("mb_artist_alias (sql/4): own ∪ alias ∪ credit ∪ renamed, normalized + deduped") {
    val byArtist = export.mbArtistAlias.as[(Int, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(byArtist(1) == Seq("nirvana", "nirvanaus", "oldname"))
    assert(byArtist(2) == Seq("motorhead")) // ö → o, credit name dedups with own
    assert(byArtist(3) == Seq("alpha"))
    assert(byArtist(4) == Seq("beta"))
    assert(!byArtist.contains(5) && !byArtist.contains(7))
  }

  test("mb_album: canonical winners with rg-year (incl. unofficial releases) + flags") {
    val rows = export.mbAlbum
      .select("id", "mb_id", "title", "release_year", "is_soundtrack", "is_single", "is_main_album")
      .as[(Int, String, String, Option[Int], Boolean, Boolean, Boolean)]
      .collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(201, 202, 205, 206, 208, 210, 212))
    // S1: Nevermind wins over same-year single; its release_year is the
    // group min over ALL releases — the 1989 unofficial pressing
    assert(rows(0) == ((201, "g-201", "Nevermind", Some(1989), false, false, true)))
    // S2: single >1y earlier than the album → single wins
    assert(rows(1) == ((202, "g-202", "Oldie", Some(1990), false, true, false)))
    // S3: explicit single-from → compilation beats the single
    assert(rows(2) == ((205, "g-205", "Hits Collection", Some(1992), false, false, false)))
    // S4: compilation genuinely 2y earlier than the main album
    assert(rows(3) == ((206, "g-206", "Early Comp", Some(1989), false, false, false)))
    // S5: VA soundtrack reachable only via the secondary-type branch
    assert(rows(4) == ((208, "g-208", "Movie OST", Some(1994), true, false, false)))
    // S7: duo album appears exactly once despite two emitting artists
    assert(rows(5) == ((210, "g-210", "Shared Album", Some(1995), false, false, true)))
    assert(rows(6) == ((212, "g-212", "Ace of Spades", Some(1980), false, false, true)))
  }

  test("mb_song: canonical album choice, flags, language, second artist, score") {
    val rows = export.mbSong
      .select("id", "mb_id", "mb_work_id", "title", "artist_id", "second_artist_id",
        "album_id", "is_single", "language", "score")
      .as[(Int, String, Option[String], String, Int, Option[Int], Int, Boolean, Option[String], Int)]
      .collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(100, 101, 102, 103, 104, 106, 107, 108))
    assert(rows(0) == ((100, "r-100", Some("w-600"), "Come as You Are", 1, None, 201, false, Some("en"), 2)))
    assert(rows(1) == ((101, "r-101", None, "Oldie", 1, None, 202, false, None, 2)))
    // S3: is_single on mb_song stores the single-FROM flag (main.py:288)
    assert(rows(2) == ((102, "r-102", None, "Hitsong", 1, None, 205, true, None, 2)))
    // zxx language via iso_code_3; 'und' row filtered out
    assert(rows(3) == ((103, "r-103", Some("w-601"), "Deep Cut", 1, None, 206, false, Some("zxx"), 2)))
    assert(rows(4) == ((104, "r-104", None, "Movie Song", 1, None, 208, false, None, 1)))
    // S6: recording 105 (null-year releases only) is absent
    assert(rows(5) == ((106, "r-106", None, "Duet Song", 3, Some(4), 210, false, None, 1)))
    assert(rows(6) == ((107, "r-107", None, "Beta Song", 4, None, 210, false, None, 1)))
    assert(rows(7) == ((108, "r-108", None, "Ace of Spades", 2, None, 212, false, None, 2)))
  }

  test("explainRecording: Nevermind case — candidates with sort keys, winner flagged") {
    // README.md:26-41 worked example: "Come as You Are" appears on the
    // same-year single (g-200) and on Nevermind (g-201, main album)
    val src = MbFixture.sources(spark)
    val rows = CanonicalOps.explainRecording(src, export.mbArtist, "r-100")
      .select("release_group_mb_id", "year_value", "reference_priority",
        "type_priority", "chosen")
      .as[(String, Int, Int, Int, Boolean)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq("g-200", "g-201"))
    // single: not main album → year penalty 1991+1, type_priority 4
    assert(rows(0) == (("g-200", 1992, 1, 4, false)))
    // main album: no penalty, type_priority 1 → the canonical choice
    assert(rows(1) == (("g-201", 1991, 1, 1, true)))
  }

  test("Export.unpersist releases every hinge the pass materialized") {
    val sc = spark.sparkContext
    // the shared session also holds the fixture export's caches: compare
    // against what it held before this pass, not against nothing
    MbFixtureExport.cached(spark)
    def held() = (sc.getPersistentRDDs.keySet, Bridge.cacheEntries(spark))
    val before = held()
    val e = GenerateDataset(MbFixture.sources(spark))
    val dir = java.nio.file.Files.createTempDirectory("graft_generate").toString
    GenerateDataset.write(e, dir)
    assert(held()._1 != before._1, "the pass held no hinge: the check below proves nothing")
    e.unpersist()
    assert(held() == before)
    // the released pass wrote the same five tables the fixture export holds
    val back = GenerateDataset.read(spark, dir)
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
    assert(rows(back.mbArtist) == rows(export.mbArtist))
    assert(rows(back.mbArtistAlias) == rows(export.mbArtistAlias))
    assert(rows(back.mbAlbum) == rows(export.mbAlbum))
    assert(rows(back.mbSong) == rows(export.mbSong))
    assert(rows(back.mbSongAlias) == rows(export.mbSongAlias))
  }

  /** The candidate set as the reference's two queries compose it: the
    * spine built twice, once semi-joined to the release group's credit,
    * once to the soundtrack secondary type, then UNION ALL and the
    * `MIN(date_year)` grouping. */
  private def twoBranchCandidates(src: MbSources, mbArtist: DataFrame): DataFrame = {
    import MbConstants._
    val spine = src.recording.select(
        col("id").as("recording_id"), col("gid").as("recording_mb_id"),
        col("name").as("recording_name"), col("artist_credit").as("rec_credit"))
      .join(src.artistCreditName.filter(col("position") === 0)
        .select(col("artist_credit").as("acn0_credit"), col("artist").as("artist_id")),
        col("rec_credit") === col("acn0_credit"))
      .join(mbArtist.select(col("id").as("exp_artist")),
        col("artist_id") === col("exp_artist"), "left_semi")
      .join(src.track.select(col("medium").as("tr_medium"), col("recording").as("tr_rec")),
        col("recording_id") === col("tr_rec"))
      .join(src.medium.select(col("id").as("med_id"), col("release").as("med_rel")),
        col("tr_medium") === col("med_id"))
      .join(src.release.filter(col("status") === ReleaseStatusOfficial)
        .select(col("id").as("rel_id"), col("release_group").as("rel_rg")),
        col("med_rel") === col("rel_id"))
      .join(src.releaseCountry.select(col("release").as("rc_rel"), col("date_year")),
        col("rel_id") === col("rc_rel"))
      .join(src.releaseGroup.select(
        col("id").as("release_group_id"), col("gid").as("release_group_mb_id"),
        col("name").as("release_group_name"), col("type").as("release_type"),
        col("artist_credit").as("rg_credit")),
        col("rel_rg") === col("release_group_id"))
    val credited = spine.join(
      src.artistCreditName.select(
        col("artist_credit").as("acnrg_credit"), col("artist").as("acnrg_artist")).distinct(),
      col("rg_credit") === col("acnrg_credit") && col("acnrg_artist") === col("artist_id"),
      "left_semi")
    val soundtrack = spine.join(
      src.releaseGroupSecondaryTypeJoin.filter(col("secondary_type") === SecondarySoundtrack)
        .select(col("release_group").as("st_rg")).distinct(),
      col("release_group_id") === col("st_rg"), "left_semi")
    credited.unionByName(soundtrack)
      .join(src.lRecordingWork.select(
        col("entity0").as("lrw_rec"), col("entity1").as("lrw_work"), col("link_order")),
        col("recording_id") === col("lrw_rec") && col("link_order") <= 1, "left")
      .join(src.work.select(col("id").as("work_id"), col("gid").as("work_mb_id")),
        col("lrw_work") === col("work_id"), "left")
      .groupBy(
        col("artist_id"), col("recording_id"), col("recording_mb_id"),
        col("recording_name"), col("rec_credit"), col("release_group_id"),
        col("release_group_mb_id"), col("release_group_name"), col("release_type"),
        col("work_id"), col("work_mb_id"))
      .agg(min(col("date_year")).as("release_year"))
  }

  test("candidates ≡ the reference's two-branch union, one row per reached candidate") {
    val base = MbFixture.sources(spark)
    def plus(df: DataFrame, rows: DataFrame) = df.union(rows.toDF(df.columns: _*))
    // g-213: Nirvana's own soundtrack, which both queries reach, on two
    // official releases (1996, 1993); g-214: a various-artists compilation
    // without the soundtrack type, which neither reaches
    val src = base.copy(
      recording = plus(base.recording, Seq((109, "r-109", "Score Theme", 10)).toDF()),
      releaseGroup = plus(base.releaseGroup,
        Seq((213, "g-213", "Nirvana Score", 1, 10), (214, "g-214", "VA Hits", 1, 99)).toDF()),
      releaseGroupSecondaryTypeJoin = plus(base.releaseGroupSecondaryTypeJoin,
        Seq((213, MbConstants.SecondarySoundtrack), (214, MbConstants.SecondaryCompilation)).toDF()),
      release = plus(base.release, Seq((314, 213, 1), (315, 213, 1), (316, 214, 1)).toDF()),
      releaseCountry = plus(base.releaseCountry,
        Seq((314, Option(1996)), (315, Option(1993)), (316, Option(1997))).toDF()),
      medium = plus(base.medium, Seq((414, 314), (415, 315), (416, 316)).toDF()),
      track = plus(base.track, Seq((414, 109), (415, 109), (416, 100)).toDF()))
    val artists = ArtistOps.mbArtist(src)
    val reference = twoBranchCandidates(src, artists)
    val got = CanonicalOps.candidates(src, artists)
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq.sortBy(_.toString)
    assert(rows(got.select(reference.columns.map(col).toSeq: _*)) == rows(reference))

    val byRg = got.select("release_group_mb_id", "recording_mb_id", "release_year")
      .as[(String, String, Option[Int])].collect().groupBy(_._1)
    assert(byRg("g-213").toSeq == Seq(("g-213", "r-109", Some(1993))))
    assert(!byRg.contains("g-214"))
    assert(byRg.contains("g-208")) // the fixture's VA soundtrack: query 2 only

    val scores = got
      .join(artists.select(col("id").as("a_id"), col("score")), col("artist_id") === col("a_id"))
      .select(col("artist_score"), col("score")).as[(Int, Int)].collect()
    assert(scores.length == got.count() && scores.forall { case (a, s) => a == s })
  }

  test("mb_song_alias (sql/5): name ∪ recording alias ∪ work name ∪ work alias") {
    val a100 = export.mbSongAlias.filter(col("song_id") === 100)
      .select("alias").as[String].collect().sorted.toSeq
    // recording name and its alias normalize to the same key → deduped;
    // unlike the canonical query, sql/5 has NO link_order constraint, so
    // the order-2 work also contributes an alias
    assert(a100 == Seq("caya", "comeasyouare", "comeasyouarework", "wrongorderwork"))
    val a104 = export.mbSongAlias.filter(col("song_id") === 104)
      .select("alias").as[String].collect().toSeq
    assert(a104 == Seq("moviesong"))
  }
}
