package graft.musicbrainz

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.normalize
import graft.operators.{Relational, SimilarityJoin}

/** The fuzzy search/eval engine (`/root/reference/src/benchmark.py`)
  * re-expressed as a **batch matcher**: a DataFrame of (artist, title)
  * queries joined against the export tables, instead of one Postgres
  * round-trip per query (SURVEY §3.2).
  *
  * Pipeline per query batch:
  *   artist lookup — the whole display name, plus the head and rejoined
  *     tail of the duo split (F14) for names with "&"; whole-name hits
  *     win, else the split's
  *   → the serving rows of each artist (song ⋈ song alias ⋈ album ⋈
  *     artist, J13)
  *   → two-phase song lookup (prefix LIKE, else lev ≤ 1) — both phases
  *     computed set-based, phase 1 preferred per query (`benchmark.py:124-126`)
  *   → multiplicative relevance + relative-threshold argmax (A4).
  *
  * The first two steps run on one of two paths, gated by export size (see
  * [[matchSongs]]); the rest is one shared ranking:
  *   - index path: the export's [[MatcherIndex]], built once and probed by
  *     native expressions — a batch is one narrow map over the query frame;
  *   - join path: ONE lev ≤ 1 similarity join (J14) for the whole batch
  *     with role-tagged probes and one aggregate per query, then the
  *     4-join serving query.
  */
object MatchOps {

  // probe roles of the batch lookup: the whole display name, and the head
  // and rejoined tail of its "&" split (`benchmark.py:176-183`)
  private val WholeName = 0
  private val SplitHead = 1
  private val SplitTail = 2

  private def duoHead(name: Column): Column = element_at(split(name, "&"), 1)
  private def duoTail(name: Column): Column = array_join(slice(split(name, "&"), 2, 1000), "&")

  /** Artist lookup (`benchmark.py:69-79`): DISTINCT artist ids whose alias
    * is within edit distance 1 of the normalized query name. The reference's
    * `levenshtein_less_equal` θ-scan becomes the deletion-neighborhood
    * equi-join. → (query_id, artist_id).
    */
  def searchArtists(queries: DataFrame, mbArtistAlias: DataFrame): DataFrame =
    aliasHits(queries.select(col("query_id"), lit(WholeName).as("role"), col("qname")), mbArtistAlias)
      .select(col("query_id"), col("artist_id"))
      .distinct()

  /** The one similarity join behind every artist lookup: probes
    * (query_id, role, qname) against the alias table → (query_id, role,
    * artist_id), one row per matching (probe, alias) pair — callers
    * deduplicate in whatever aggregate they need anyway.
    */
  private def aliasHits(probes: DataFrame, mbArtistAlias: DataFrame): DataFrame = {
    val keyed = probes
      .select(col("query_id").as("qa_id"), col("role").as("qa_role"),
        normalize.searchKey(col("qname")).as("qkey"))
      .filter(col("qkey").isNotNull)
    SimilarityJoin.levenshtein1Join(
      keyed, "qkey",
      // aliases are distinct by construction (UNIQUE(artist_id, alias));
      // every caller aggregates the hits per query, which absorbs any
      // upstream duplicates anyway, so a pre-distinct here would only
      // add a full alias-table shuffle per lookup
      mbArtistAlias.select(col("artist_id"), col("alias")), "alias",
      // reference parity (`benchmark.py:76-77`): only the STORED alias is
      // length-guarded — a 255-char probe still matches a 254-char alias
      maxLenLeft = SimilarityJoin.MaxLen + 1)
      .select(col("qa_id").as("query_id"), col("qa_role").as("role"), col("artist_id"))
  }

  /** Candidate (query_id, artist_id, second_required, second_ids) pairs of
    * a batch — the reference's lookup-then-fallback
    * (`benchmark.py:159-183`) as one join and one aggregate per query:
    *   - whole-name hits, when there are any, are the query's artists;
    *   - otherwise the split head's hits are, and the tail's hits become
    *     the required second artists (F14). An empty tail lookup leaves
    *     `second_required` false: the reference only adds the IN-constraint
    *     when the second lookup found ids (`benchmark.py:92-95,183` — an
    *     empty list is falsy), so a missing second artist does NOT veto.
    * Split probes exist only for names containing "&": without one the
    * head IS the whole name and the tail is empty, so the split could
    * never find anything the whole name missed.
    */
  private def artistPairs(q: DataFrame, mbArtistAlias: DataFrame): DataFrame = {
    def probe(role: Int, name: Column) = struct(lit(role).as("role"), name.as("qname"))
    val whole = probe(WholeName, col("full_name"))
    val probes = q
      .select(col("query_id"), explode(
        when(col("full_name").contains("&"), array(whole,
          probe(SplitHead, duoHead(col("full_name"))),
          probe(SplitTail, duoTail(col("full_name")))))
          .otherwise(array(whole))).as("p"))
      .select(col("query_id"), col("p.role").as("role"), col("p.qname").as("qname"))
    def hitsOf(role: Int) = collect_set(when(col("role") === role, col("artist_id")))
    val hasDirect = size(col("direct")) > 0
    aliasHits(probes, mbArtistAlias)
      .groupBy(col("query_id"))
      .agg(hitsOf(WholeName).as("direct"), hitsOf(SplitHead).as("head"),
        hitsOf(SplitTail).as("second_ids"))
      .select(col("query_id"),
        explode(when(hasDirect, col("direct")).otherwise(col("head"))).as("artist_id"),
        (!hasDirect && size(col("second_ids")) > 0).as("second_required"),
        col("second_ids"))
  }

  /** Every surviving candidate row per query with its phase and relevance —
    * the frame [[matchSongs]] takes its argmax over. Public so single-case
    * triage ([[explainQuery]]) can show the losers too.
    * `queries` columns: query_id (a key), artist_name, artist2_name
    * (nullable), title.
    */
  def scoredCandidates(queries: DataFrame, export: GenerateDataset.Export): DataFrame =
    export.matcherIndex match {
      case Some(index) => ranked(indexedCandidates(displayNames(queries), index))
      case None => scoredWith(queries, export, artistPairs)
    }

  /** (query_id, title, full_name): the display name "A & B" when a second
    * artist exists (`benchmark.py:159-162`). */
  private def displayNames(queries: DataFrame): DataFrame =
    queries.select(
      col("query_id"), col("title"),
      when(col("artist2_name").isNotNull,
        concat(col("artist_name"), lit(" & "), col("artist2_name")))
        .otherwise(col("artist_name")).as("full_name"))

  /** The index path's candidates: per query, [[MatcherIndex.artistLookup]]
    * on the display name and its split, then one row per serving row of
    * each artist found — no join, no exchange, no broadcast of its own. */
  private def indexedCandidates(q: DataFrame, index: MatcherIndex): DataFrame = {
    val name = col("full_name")
    val hasSplit = name.contains("&")
    q.select(col("query_id"), normalize.searchKey(col("title")).as("tkey"),
        index.artistLookup(normalize.searchKey(name),
          when(hasSplit, normalize.searchKey(duoHead(name))),
          when(hasSplit, normalize.searchKey(duoTail(name)))).as("hits"))
      .filter(col("tkey").isNotNull)
      .select(col("query_id"), col("tkey"), col("hits.second_ids").as("second_ids"),
        explode(col("hits.artist_ids")).as("artist_id"))
      .select(col("query_id"), col("tkey"), (size(col("second_ids")) > 0).as("second_required"),
        col("second_ids"), explode(index.servingRows(col("artist_id"))).as("s"))
      .select(col("query_id"), col("tkey"), col("second_required"), col("second_ids"), col("s.*"))
  }

  /** The join path's candidates over any artist lookup `(q, mbArtistAlias)
    * → (query_id, artist_id, second_required, second_ids)`, `q` being
    * (query_id, title, full_name) — the seam the equivalence spec runs a
    * reference lookup through — ranked as [[scoredCandidates]] ranks. */
  private[musicbrainz] def scoredWith(
      queries: DataFrame, export: GenerateDataset.Export,
      lookup: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val q = displayNames(queries)

    // the 4-join serving query (`benchmark.py:96-117`)
    val songs = export.mbSong.select(
      col("id").as("song_id"), col("mb_id").as("song_mb_id"), col("title").as("song_title"),
      col("artist_id").as("s_artist_id"), col("second_artist_id"),
      col("album_id"), col("is_single").as("single_relationship"), col("score").as("recording_score"))
    val albums = export.mbAlbum.select(
      col("id").as("a_id"), col("mb_id").as("album_mb_id"), col("title").as("album_title"),
      col("release_year"), col("is_single"), col("is_soundtrack"), col("is_main_album"))
    val artists = export.mbArtist.select(
      col("id").as("ar_id"), col("name").as("artist_name_mb"),
      col("mb_id").as("artist_mb_id"), col("country_id"))

    val qk = q.select(col("query_id").as("qq_id"), normalize.searchKey(col("title")).as("tkey"))
      .filter(col("tkey").isNotNull)

    ranked(lookup(q, export.mbArtistAlias)
      .join(qk, col("query_id") === col("qq_id"))
      .join(songs, col("artist_id") === col("s_artist_id"))
      .join(export.mbSongAlias.select(col("song_id").as("al_song"), col("alias")),
        col("song_id") === col("al_song"))
      .join(albums, col("album_id") === col("a_id"))
      .join(artists, col("s_artist_id") === col("ar_id")))
  }

  /** The ranking both paths share. `cand` columns: query_id, tkey,
    * second_required, second_ids and the serving row's fields
    * ([[MatcherIndex.servingRows]]). */
  private def ranked(cand: DataFrame): DataFrame = {
    val distinct = cand
      .filter(!col("second_required") ||
        (col("second_artist_id").isNotNull && array_contains(col("second_ids"), col("second_artist_id"))))
      // two phases in one pass: 1 = prefix match (`benchmark.py:85`),
      // 2 = bounded edit distance with the length guard (`:87-91`)
      .withColumn("phase",
        when(col("alias").startsWith(col("tkey")), 1)
          .when(length(col("alias")) < SimilarityJoin.MaxLen && levenshtein(col("alias"), col("tkey"), 1) >= 0, 2))
      .filter(col("phase").isNotNull)
      // DISTINCT of the serving query's projection (`benchmark.py:97`),
      // keyed on query_id alone: a subset of the distinct key satisfies the
      // aggregate's clustering, so dedup and ranking windows share one
      // partitioning. When the join path's joins stream the query side,
      // that is the lookup aggregate's query_id exchange and the planner
      // drops this repartition as redundant; otherwise (always, on the
      // index path) it is one query_id exchange, not one over all 17
      // columns plus the windows' own
      .select(
        col("query_id"), col("tkey"), col("phase"),
        col("song_mb_id"), col("alias").as("matched_alias"), col("song_title"),
        col("single_relationship"), col("recording_score"),
        col("album_title"), col("release_year"), col("is_single"), col("is_soundtrack"),
        col("is_main_album"), col("album_mb_id"),
        col("artist_name_mb"), col("artist_mb_id"), col("country_id"))
      .repartition(col("query_id"))
      .distinct()

    // phase-1 rows win when any exist for the query (`benchmark.py:124-126`)
    val wPhase = Window.partitionBy(col("query_id"))
    val phased = distinct
      .withColumn("min_phase", min(col("phase")).over(wPhase))
      .filter(col("phase") === col("min_phase"))

    // relevance (`benchmark.py:43-49`): score × 10^[single_from] ×
    // 10^[main_album] × 10^[exact alias match]
    val relevance = col("recording_score") *
      when(col("single_relationship"), 10).otherwise(1) *
      when(col("is_main_album"), 10).otherwise(1) *
      when(normalize.searchKey(col("matched_alias")) === col("tkey"), 10).otherwise(1)

    phased.withColumn("relevance", relevance)
  }

  /** A4 winner ordering: (earliest year, highest relevance); Python's `max`
    * tie-break is list-order-nondeterministic — pinned by ids. The trailing
    * artist_mb_id makes this a TOTAL order over distinct candidate rows
    * (duo queries export the same recording once per matched artist id,
    * identical in every other sort key) — without it both matchSongs and
    * explainQuery's `chosen` would tie-break by partition arrival order.
    */
  private val winnerOrder: Seq[Column] =
    Seq(col("release_year").asc_nulls_last, col("relevance").desc,
      col("album_mb_id").asc, col("song_mb_id").asc, col("matched_alias").asc,
      col("artist_mb_id").asc,
      // Residual discriminators: candidate rows are DISTINCT over a wider
      // projection than the six keys above (equal relevance can arise from
      // different multiplier combinations, e.g. single×1×exact vs
      // 1×main_album×exact on the same recording), so without these a tied
      // pair would leave row_number — and explainQuery's `chosen` flag —
      // partition-arrival-nondeterministic. Together with the six keys this
      // covers every column of the distinct projection → a TOTAL order.
      col("recording_score").desc, col("single_relationship").asc,
      col("is_main_album").asc, col("song_title").asc, col("album_title").asc,
      col("is_single").asc, col("is_soundtrack").asc,
      col("artist_name_mb").asc, col("country_id").asc_nulls_last)

  /** Full matcher. Returns one row per query_id that matched:
    * (query_id, song_mb_id, matched_alias, title, album_title, album_mb_id,
    *  release_year, artist_name_mb, artist_mb_id, country_id, relevance).
    *
    * Path gate: when the export's five tables together estimate at most
    * `spark.sql.autoBroadcastJoinThreshold` bytes (summed
    * [[graft.operators.SizeGate.estimate]] — the threshold at which the join
    * path's planner broadcasts them in every batch anyway), the batch runs
    * on the export's [[MatcherIndex]], which the first such call builds
    * and [[GenerateDataset.Export.unpersist]] releases. Above it, or with
    * the threshold at -1, the batch runs the join path. Both give the
    * same rows.
    */
  def matchSongs(queries: DataFrame, export: GenerateDataset.Export): DataFrame =
    winners(scoredCandidates(queries, export))

  /** A4: keep ≥ max/10, pick the first row under the winner ordering. */
  private[musicbrainz] def winners(scored: DataFrame): DataFrame =
    Relational.relativeThresholdTopOne(
      scored,
      Seq(col("query_id")),
      col("relevance"), 10.0,
      winnerOrder)
      .drop("tkey", "phase", "min_phase")

  /** Single-case debugger (the reference's `--artist`/`--title` triage runs,
    * `src/benchmark.py:221-224`): the FULL scored candidate set for one
    * query — every (song, alias, album) row with its phase and relevance,
    * `chosen` marking the row [[matchSongs]] returns. The one-row query
    * filter keeps the whole DAG probe-sized.
    */
  def explainQuery(
      queries: DataFrame, export: GenerateDataset.Export, queryId: Long): DataFrame = {
    val one = queries.filter(col("query_id") === queryId)
    // `chosen` re-applies the SAME threshold + row_number logic as
    // [[Relational.relativeThresholdTopOne]] rather than equi-joining the
    // winner back: candidate rows are distinct over a projection wider than
    // any natural key (duo queries export a recording once per matched
    // artist id), so a key join could flag several rows. Non-passing rows
    // sort after passing ones, making rank 1 exactly the matchSongs winner.
    val wAll = Window.partitionBy(col("query_id"))
    val passes = col("relevance") * 10.0 >= col("__maxscore")
    val rank = Window.partitionBy(col("query_id"))
      .orderBy(when(passes, 0).otherwise(1).asc +: winnerOrder: _*)
    scoredCandidates(one, export)
      .withColumn("__maxscore", max(col("relevance")).over(wAll))
      .withColumn("__rn", row_number().over(rank))
      .withColumn("chosen", passes && col("__rn") === 1)
      .drop("__maxscore", "__rn")
      .orderBy(col("phase").asc, col("relevance").desc, col("album_mb_id").asc)
  }

  /** Human-curation diff (A6 completion, `src/benchmark.py:252-267`): one
    * row per missing or wrong query — the expected (DB) album next to the
    * matched (MB) album — instead of just the four counters.
    * `golden` shape: [[GoldenCsv.toDbExpectations]] (query_id, artist_name,
    * title, db_album_mb_id, db_album_title, db_album_year).
    */
  def diffReport(golden: DataFrame, matches: DataFrame): DataFrame = {
    val m = matches.select(
      col("query_id").as("mq_id"), col("album_mb_id").as("mb_album_mb_id"),
      col("album_title").as("mb_album_title"), col("release_year").as("mb_album_year"),
      col("song_mb_id").as("mb_recording_id"))
    // null-safe "wrong" branch: a golden row with NO expected MBID (null
    // after CSV read) that nevertheless matched is INCORRECT in the
    // reference (`benchmark.py:247` — Python `!=` is None-safe); `=!=`
    // would return null and silently drop it.
    golden.join(m, col("query_id") === col("mq_id"), "left")
      .withColumn("status",
        when(col("mb_album_mb_id").isNull, "missing")
          .when(!(col("mb_album_mb_id") <=> col("db_album_mb_id")), "wrong"))
      .filter(col("status").isNotNull)
      .drop("mq_id")
  }

  /** Eval counters (A6, `benchmark.py:245-274`): join matches back to the
    * golden expectations and count Total / Correct / Missing / Wrong.
    * `golden` columns: query_id, musicbrainz_id (expected album MBID).
    */
  def accuracy(golden: DataFrame, matches: DataFrame): DataFrame = {
    val joined = golden
      .join(matches.select(col("query_id").as("mq_id"), col("album_mb_id")),
        col("query_id") === col("mq_id"), "left")
    // null-safe like [[diffReport]]: a match against a null expectation is
    // "wrong" (not dropped), so total == missing + wrong + correct always.
    joined.agg(
      count(lit(1)).as("total"),
      sum(when(col("album_mb_id").isNull, 1).otherwise(0)).as("missing"),
      sum(when(col("album_mb_id").isNotNull && !(col("album_mb_id") <=> col("musicbrainz_id")), 1)
        .otherwise(0)).as("wrong"),
      sum(when(col("album_mb_id").isNotNull && (col("album_mb_id") <=> col("musicbrainz_id")), 1)
        .otherwise(0)).as("correct"))
  }
}
