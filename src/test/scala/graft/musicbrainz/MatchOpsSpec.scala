package graft.musicbrainz

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}

import graft.SparkSpec
import graft.functions.normalize
import graft.operators.{Relational, SimilarityJoin, SizeGate}

/** Batch matcher over the fixture export — §3.2 semantics: fuzzy artist
  * lookup, duo-split fallback, two-phase song lookup, relevance ranking,
  * and the A6 accuracy counters (replica of `benchmark.py:245-274`) — and
  * the equivalence of both sides of the matcher's index gate with the
  * three-lookup composition the single-join lookup replaced, ranked by the
  * window-based ranking the fused one replaced.
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

  /** The ranking as separate relational steps over the join path's
    * per-row candidates: the second-artist veto and the phases, the
    * serving projection's DISTINCT behind a query_id repartition, a
    * min-phase window, then [[Relational.relativeThresholdTopOne]]'s two
    * windows. The reference the fused ranking must equal.
    */
  private def referenceScored(cand: DataFrame): DataFrame = {
    val distinct = cand
      .filter(!col("second_required") ||
        (col("second_artist_id").isNotNull && array_contains(col("second_ids"), col("second_artist_id"))))
      .withColumn("phase",
        when(col("alias").startsWith(col("tkey")), 1)
          .when(length(col("alias")) < SimilarityJoin.MaxLen && levenshtein(col("alias"), col("tkey"), 1) >= 0, 2))
      .filter(col("phase").isNotNull)
      .select(
        col("query_id"), col("tkey"), col("phase"),
        col("song_mb_id"), col("alias").as("matched_alias"), col("song_title"),
        col("single_relationship"), col("recording_score"),
        col("album_title"), col("release_year"), col("is_single"), col("is_soundtrack"),
        col("is_main_album"), col("album_mb_id"),
        col("artist_name_mb"), col("artist_mb_id"), col("country_id"))
      .repartition(col("query_id"))
      .distinct()
    val relevance = col("recording_score") *
      when(col("single_relationship"), 10).otherwise(1) *
      when(col("is_main_album"), 10).otherwise(1) *
      when(normalize.searchKey(col("matched_alias")) === col("tkey"), 10).otherwise(1)
    distinct
      .withColumn("min_phase", min(col("phase")).over(Window.partitionBy(col("query_id"))))
      .filter(col("phase") === col("min_phase"))
      .drop("min_phase")
      .withColumn("relevance", relevance)
  }

  private def referenceWinners(cand: DataFrame): DataFrame =
    Relational.relativeThresholdTopOne(referenceScored(cand), Seq(col("query_id")),
      col("relevance"), 10.0, MatchOps.winnerOrder(col))
      .drop("tkey", "phase")

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

  private val bothCases = Seq(
    ("fixture queries", () => queries, () => export),
    ("lookup edge cases", () => lookupCases, () => richExport))

  test("single-join artist lookup returns what the three-lookup composition did") {
    for ((what, qs, ex) <- bothCases) OnJoinPath(spark) {
      assert(ex().matcherIndex.isEmpty, s"$what: the join path is not forced")
      val got = MatchOps.matchSongs(qs(), ex())
      val want = referenceWinners(MatchOps.candidatesWith(qs(), ex(), threeLookupPairs))
      assert(got.columns.toSeq == want.columns.toSeq, what)
      assert(rows(got) == rows(want), what)
    }
    // the cases are not vacuous: each exercises the branch it names
    val got = OnJoinPath(spark) {
      MatchOps.matchSongs(lookupCases, richExport)
        .select("query_id", "album_mb_id").as[(Int, String)].collect().toMap
    }
    assert(got == expectedLookupCases)
  }

  private val expectedLookupCases = Map(101 -> "g-210", 103 -> "g-950", 104 -> "g-950",
    105 -> "g-210", 106 -> "g-210", 107 -> "g-210")

  test("index path returns what the join path and the three-lookup composition did") {
    for ((what, qs, ex) <- bothCases) {
      assert(ex().matcherIndex.isDefined, s"$what: the export does not pass the index gate")
      val got = MatchOps.matchSongs(qs(), ex())
      val joined = OnJoinPath(spark) {
        val j = MatchOps.matchSongs(qs(), ex())
        (j.columns.toSeq, rows(j))
      }
      val want = referenceWinners(MatchOps.candidatesWith(qs(), ex(), threeLookupPairs))
      assert(got.columns.toSeq == joined._1, what)
      assert(got.columns.toSeq == want.columns.toSeq, what)
      assert(rows(got) == joined._2, what)
      assert(rows(got) == rows(want), what)
    }
    val got = MatchOps.matchSongs(lookupCases, richExport)
      .select("query_id", "album_mb_id").as[(Int, String)].collect().toMap
    assert(got == expectedLookupCases)
  }

  /** A title key of [[SimilarityJoin.MaxLen]] characters, and aliases of
    * 254, 255 and 256 characters within edit distance 1 of it that do not
    * start with it: only the shortest is under the phase-2 length guard. */
  private val longKey = "k" * SimilarityJoin.MaxLen
  private val longAliases = Seq("k" * 254, "j" + "k" * 254, "j" + "k" * 255)
  /** Aliases whose search key is a title key they do not equal: accented
    * (a phase-2 match of "abc" and "xy") and with "(Live)" (a phase-1 match
    * of "abc"), so the relevance's exact-alias factor compares keys. */
  private val keyedAliases = Seq("abç", "xÿ", "abc (Live)", "abc(live)")

  /** Random per-row candidate sets in the join path's shape, over small
    * domains so that they hold relevance ties, null release_year /
    * country_id / recording_score, verbatim duplicate rows, both phases,
    * second-artist vetoes, non-ASCII and "(Live)" aliases and aliases
    * around the length guard. */
  private def randomCandidates(seed: Long, nQueries: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    def pick[A](xs: A*): A = xs(rnd.nextInt(xs.size))
    def flag = rnd.nextBoolean()
    val rows = (1 to nQueries).flatMap { q =>
      val tkey = pick("abc", "abcd", "xy", longKey)
      val required = rnd.nextInt(4) == 0
      val secondIds = if (required) pick(Seq(1L), Seq(1L, 2L)) else pick(Seq.empty[Long], null)
      val fresh = Seq.fill(rnd.nextInt(9)) {
        Seq[Any](q.toLong, tkey, required, secondIds, pick[Any](1L, 2L, 3L, null),
          pick("r-1", "r-2", "r-3"), pick("t1", "t2"), flag, pick[Any](1, 2, 10, null),
          pick(Seq("abc", "abcd", "abcde", "abd", "ab", "abx", "xy", "xyz", "zzz") ++
            keyedAliases ++ longAliases: _*),
          pick("a1", "a2"), pick[Any](1990, 1991, null), flag, flag, flag,
          pick("g-1", "g-2", "g-3"), pick("n1", "n2"), pick("a-1", "a-2"), pick[Any]("us", "gb", null))
      }
      fresh ++ fresh.filter(_ => rnd.nextInt(3) == 0)
    }
    val schema = StructType(Seq(
      StructField("query_id", LongType), StructField("tkey", StringType),
      StructField("second_required", BooleanType), StructField("second_ids", ArrayType(LongType)),
      StructField("second_artist_id", LongType), StructField("song_mb_id", StringType),
      StructField("song_title", StringType), StructField("single_relationship", BooleanType),
      StructField("recording_score", IntegerType), StructField("alias", StringType),
      StructField("album_title", StringType), StructField("release_year", IntegerType),
      StructField("is_single", BooleanType), StructField("is_soundtrack", BooleanType),
      StructField("is_main_album", BooleanType), StructField("album_mb_id", StringType),
      StructField("artist_name_mb", StringType), StructField("artist_mb_id", StringType),
      StructField("country_id", StringType)))
    spark.createDataFrame(java.util.Arrays.asList(rows.map(Row.fromSeq): _*), schema)
  }

  /** `df` as a local relation: a frame whose projections Catalyst's
    * `ConvertToLocalRelation` evaluates, interpreted, while it plans. */
  private def local(df: DataFrame): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** [[MatchOps.collected]] without its phase pre-filter: every row
    * reaches the ranking, as on the index path. */
  private def unfiltered(cand: DataFrame): DataFrame =
    cand.groupBy(col("query_id"), col("tkey"), col("second_required"), col("second_ids"))
      .agg(collect_list(struct(MatchOps.ServingFields.map(col): _*)).as("rows"))

  test("the fused ranking returns what the window-based ranking did on random candidate sets") {
    val longRows = scala.collection.mutable.Set.empty[String]
    val exactMatches = scala.collection.mutable.Set.empty[String]
    for (seed <- 1L to 4L) {
      val cand = randomCandidates(seed, 60).cache()
      val wantScored = referenceScored(cand)
      val want = referenceWinners(cand)
      // an executed plan over the join path's rows and over every row, and
      // a local frame, whose ranking Catalyst evaluates while it plans
      for ((what, perQuery) <- Seq("collected" -> MatchOps.collected(cand),
          "unfiltered" -> unfiltered(cand), "local" -> local(unfiltered(cand)))) {
        val scored = MatchOps.scored(perQuery)
        assert(scored.columns.toSeq == wantScored.columns.toSeq)
        assert(rows(scored) == rows(wantScored), s"seed $seed, $what: candidates")
        val got = MatchOps.winners(perQuery)
        assert(got.columns.toSeq == want.columns.toSeq)
        assert(rows(got) == rows(want), s"seed $seed, $what: winners")
        if (what == "local") for (df <- Seq(scored, got)) {
          val plan = df.queryExecution.optimizedPlan
          assert(plan.flatMap(_.expressions.flatMap(_.collect { case r: RankCandidates => r })).isEmpty,
            s"seed $seed: the local frame did not fold the ranking:\n$plan")
        }
      }
      // the sets are not vacuous: duplicates, both phases, vetoes, ties
      assert(cand.count() > cand.distinct().count(), s"seed $seed: no duplicate rows")
      assert(wantScored.select("phase").distinct().count() == 2, s"seed $seed: one phase only")
      val tied = wantScored.groupBy("query_id", "relevance").count().filter(col("count") > 1)
      assert(tied.count() > 0, s"seed $seed: no relevance ties")
      val vetoed = cand.filter(col("second_required") && col("second_artist_id") === 3L)
      assert(vetoed.count() > 0, s"seed $seed: no vetoed row")
      longRows ++= cand.filter(col("tkey") === longKey).select("alias").as[String].collect()
      exactMatches ++= wantScored.filter(col("tkey") === normalize.searchKey(col("matched_alias")))
        .select("matched_alias").as[String].collect()
      cand.unpersist()
    }
    // nor is the widened domain: each long alias is a row of the long key,
    // and each keyed alias a candidate that scores as an exact match
    for (a <- longAliases) assert(longRows(a), s"no ${a.length}-character alias")
    for (a <- keyedAliases) assert(exactMatches(a), s"'$a' is no exact-match candidate")
  }

  test("explainQuery's chosen row is matchSongs' row, on both sides of the index gate") {
    for ((what, qs, ex) <- bothCases; onJoin <- Seq(false, true)) {
      def run[A](body: => A): A = if (onJoin) OnJoinPath(spark)(body) else body
      run {
        assert(ex().matcherIndex.isDefined != onJoin, s"$what: wrong path")
        val matched = MatchOps.matchSongs(qs(), ex())
        val ids = qs().select("query_id").as[Int].collect().toSeq
        ids.foreach { id =>
          val explained = MatchOps.explainQuery(qs(), ex(), id)
          val chosen = explained.filter(col("chosen")).drop("tkey", "phase", "chosen")
          val want = matched.filter(col("query_id") === id)
          assert(chosen.columns.toSeq == want.columns.toSeq, s"$what $id")
          assert(rows(chosen) == rows(want), s"$what, query $id, join path $onJoin")
        }
      }
    }
  }

  test("an in-process export under the broadcast threshold serves on its matcher index, not read back") {
    val e = GenerateDataset(MbFixture.sources(spark))
    try {
      // each hinge leaf is sized by its stored rows, not by the joins behind it
      val hingeBytes = e.hinges.map(SizeGate.estimate)
      assert(hingeBytes.forall(b => b > 0 && b < 1024 * 1024), s"hinge estimates $hingeBytes")
      val tableBytes = Seq(e.mbArtist, e.mbArtistAlias, e.mbAlbum, e.mbSong, e.mbSongAlias)
        .map(SizeGate.estimate)
      assert(e.matcherIndex.isDefined, s"the in-process export misses the index gate: $tableBytes")
      assert(rows(MatchOps.matchSongs(queries, e)) == rows(matches))
    } finally e.unpersist()
  }

  test("the export owns its matcher index: built once, released by unpersist, one per export") {
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("graft_match_index").toString
    GenerateDataset.write(export, dir)
    val persistedBefore = sc.getPersistentRDDs.keySet
    val first = GenerateDataset.read(spark, dir)
    val second = GenerateDataset.read(spark, dir)
    def ids(i: MatcherIndex) = Set(i.artists.id, i.serving.id)
    def answers(e: GenerateDataset.Export) =
      rows(MatchOps.matchSongs(queries, e).select("query_id", "album_mb_id"))

    val want = answers(first)
    val index = first.matcherIndex.get
    for (_ <- 1 to 3) assert(answers(first) == want)
    assert(first.matcherIndex.get eq index, "a later batch built a second index")
    assert(answers(second) == want)
    val other = second.matcherIndex.get
    assert(other ne index)
    assert((ids(index) & ids(other)).isEmpty, "two exports share an index broadcast")
    assert(ids(index).subsetOf(org.apache.spark.graft.CoreBridge.broadcastsHeld()))

    first.unpersist()
    second.unpersist()
    eventually(timeout(Span(30, Seconds))) {
      val held = org.apache.spark.graft.CoreBridge.broadcastsHeld()
      assert((held & (ids(index) ++ ids(other))).isEmpty, s"index broadcasts left: $held")
    }
    assert(sc.getPersistentRDDs.keySet == persistedBefore)
    // a read-back export still serves after unpersist, on a fresh index
    assert(answers(first) == want)
    assert(first.matcherIndex.get ne index)
    first.unpersist()
  }
}
