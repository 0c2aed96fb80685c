package graft.musicbrainz

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.DataType

import graft.functions.normalize
import graft.operators.SimilarityJoin

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
  *     artist, J13), gathered into one array per query
  *   → ONE native ranking expression over that array ([[ranked]],
  *     [[RankingKernel]]'s one loop): the second-artist veto, the
  *     two-phase song lookup (prefix LIKE, else lev ≤ 1; phase 1 preferred
  *     per query, `benchmark.py:124-126`), the serving query's DISTINCT,
  *     multiplicative relevance and the relative-threshold argmin under
  *     [[winnerOrder]] (A4) — no window, no exchange, no lambda.
  *
  * The first two steps run on one of two paths, gated by export size (see
  * [[matchSongs]]); both hand the ranking one row per query:
  *   - index path: the export's [[MatcherIndex]], built once and probed by
  *     native expressions — a batch is one narrow projection;
  *   - join path: ONE lev ≤ 1 similarity join (J14) for the whole batch
  *     with role-tagged probes and one aggregate per query, then the
  *     4-join serving query, its rows collected per query.
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

  /** Every min-phase candidate row per query with its phase and relevance:
    * the rows [[matchSongs]] picks its winner from, losers included.
    * `queries` columns: query_id (a key), artist_name, artist2_name
    * (nullable), title. */
  def scoredCandidates(queries: DataFrame, export: GenerateDataset.Export): DataFrame =
    scored(perQuery(queries, export))

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
    winners(perQuery(queries, export))

  /** Single-case debugger (the reference's `--artist`/`--title` triage runs,
    * `src/benchmark.py:221-224`): the FULL scored candidate set for one
    * query — every (song, alias, album) row with its phase and relevance,
    * `chosen` marking the ranking's winner, the row [[matchSongs]] returns
    * (candidates are distinct, so exactly one). The one-row query filter
    * keeps the whole DAG probe-sized. */
  def explainQuery(
      queries: DataFrame, export: GenerateDataset.Export, queryId: Long): DataFrame =
    perQuery(queries.filter(col("query_id") === queryId), export)
      .select(col("query_id"), col("tkey"), ranked.as("r"))
      .select(col("query_id"), col("tkey"), col("r.winner").as("w"), explode(col("r.candidates")).as("c"))
      .select(col("query_id"), col("tkey"), col("c.*"), (col("c") <=> col("w")).as("chosen"))
      .orderBy(col("phase").asc, col("relevance").desc, col("album_mb_id").asc)

  /** (query_id, tkey, second_required, second_ids, rows), `rows` being the
    * query's serving rows, from the path [[matchSongs]]'s gate picks. */
  private def perQuery(queries: DataFrame, export: GenerateDataset.Export): DataFrame =
    export.matcherIndex match {
      case Some(index) => indexed(queries, index)
      case None => collected(candidatesWith(queries, export, artistPairs))
    }

  /** (query_id, title, full_name): the display name "A & B" when a second
    * artist exists (`benchmark.py:159-162`). */
  private def displayNames(queries: DataFrame): DataFrame =
    queries.select(
      col("query_id"), col("title"),
      when(col("artist2_name").isNotNull,
        concat(col("artist_name"), lit(" & "), col("artist2_name")))
        .otherwise(col("artist_name")).as("full_name"))

  /** The index path: [[MatcherIndex.artistLookup]] on the display name and
    * its split, then the serving rows of every artist found — a narrow
    * projection of the query frame, so Catalyst folds a local frame into a
    * local relation while it plans. */
  private def indexed(queries: DataFrame, index: MatcherIndex): DataFrame = {
    val name = col("full_name")
    val hasSplit = name.contains("&")
    displayNames(queries)
      .select(col("query_id"), normalize.searchKey(col("title")).as("tkey"),
        index.artistLookup(normalize.searchKey(name),
          when(hasSplit, normalize.searchKey(duoHead(name))),
          when(hasSplit, normalize.searchKey(duoTail(name)))).as("hits"))
      .filter(col("tkey").isNotNull)
      .select(col("query_id"), col("tkey"),
        (size(col("hits.second_ids")) > 0).as("second_required"), col("hits.second_ids").as("second_ids"),
        index.servingRows(col("hits.artist_ids")).as("rows"))
  }

  /** A serving row's fields ([[MatcherIndex.servingRows]]), as the join
    * path names them; all but the first are the serving query's projection
    * (`benchmark.py:97`), named as [[Projection]] names them. */
  private[musicbrainz] val ServingFields = Seq(
    "second_artist_id", "song_mb_id", "alias", "song_title", "single_relationship",
    "recording_score", "album_title", "release_year", "is_single", "is_soundtrack",
    "is_main_album", "album_mb_id", "artist_name_mb", "artist_mb_id", "country_id")
  private[musicbrainz] val Projection = ServingFields.tail.map(f => if (f == "alias") "matched_alias" else f)

  /** The join path's candidates — (query_id, tkey, second_required,
    * second_ids, [[ServingFields]]), one row per serving row — over any
    * artist lookup `(q, mbArtistAlias) → (query_id, artist_id,
    * second_required, second_ids)`, `q` being (query_id, title, full_name):
    * the seam the equivalence spec runs a reference lookup through. */
  private[musicbrainz] def candidatesWith(
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
    lookup(q, export.mbArtistAlias)
      .join(qk, col("query_id") === col("qq_id"))
      .join(songs, col("artist_id") === col("s_artist_id"))
      .join(export.mbSongAlias.select(col("song_id").as("al_song"), col("alias")),
        col("song_id") === col("al_song"))
      .join(albums, col("album_id") === col("a_id"))
      .join(artists, col("s_artist_id") === col("ar_id"))
      .select((Seq("query_id", "tkey", "second_required", "second_ids") ++ ServingFields).map(col): _*)
  }

  /** The join path's candidates collected per query (a lookup gives all
    * artists of a query one second_required/second_ids), without the rows
    * no phase keeps, which the ranking would drop after the exchange. */
  private[musicbrainz] def collected(cand: DataFrame): DataFrame =
    cand.filter(phase(col("alias"), col("tkey")).isNotNull)
      .groupBy(col("query_id"), col("tkey"), col("second_required"), col("second_ids"))
      .agg(collect_list(struct(ServingFields.map(col): _*)).as("rows"))

  /** The song lookup's phases (`benchmark.py:85,87-91`): 1 = prefix match,
    * 2 = edit distance ≤ 1 under the length guard, null = no match. */
  private def phase(alias: Column, tkey: Column): Column =
    when(alias.startsWith(tkey), 1)
      .when(length(alias) < SimilarityJoin.MaxLen && levenshtein(alias, tkey, 1) >= 0, 2)

  /** The whole ranking of a [[perQuery]] row as one native expression
    * → struct(candidates, winner), `winner` null when there is none: the
    * veto, phases, DISTINCT, relevance and A4 pick of [[RankingKernel]]. */
  private def ranked: Column = Bridge.column(RankCandidates(
    Bridge.expression(col("tkey")), Bridge.expression(col("second_required")),
    Bridge.expression(col("second_ids")), Bridge.expression(col("rows"))))

  /** [[ranked]]'s winner per query; a query without one has no row. The
    * winner is [[EvaluatedOnce]]: Catalyst would otherwise push the filter
    * below the projection, as a copy of the whole lookup and ranking, on
    * any query frame that does not fold into a local relation. */
  private[musicbrainz] def winners(perQuery: DataFrame): DataFrame =
    perQuery.select(col("query_id"), EvaluatedOnce(ranked("winner")).as("w"))
      .filter(col("w").isNotNull)
      .select(col("query_id"), col("w.*")).drop("phase")

  /** [[ranked]]'s candidates, one row each. The ranking is a projection
    * below the explode, so a local frame folds it while it plans. */
  private[musicbrainz] def scored(perQuery: DataFrame): DataFrame =
    perQuery.select(col("query_id"), col("tkey"), ranked("candidates").as("cs"))
      .select(col("query_id"), col("tkey"), explode(col("cs")).as("c"))
      .select(col("query_id"), col("tkey"), col("c.*"))

  /** A4 winner ordering over the fields `key` names: (earliest year,
    * highest relevance); Python's `max` tie-break is list-order-
    * nondeterministic — pinned by ids. The trailing keys cover every
    * projected column, a TOTAL order over distinct candidates (duo queries
    * export a recording once per matched artist id; single×1×exact and
    * 1×main×exact tie on relevance), so neither the pick nor explainQuery's
    * `chosen` depends on the candidates' order. */
  private[musicbrainz] def winnerOrder(key: String => Column): Seq[Column] =
    Seq(key("release_year").asc_nulls_last, key("relevance").desc,
      key("album_mb_id").asc, key("song_mb_id").asc, key("matched_alias").asc,
      key("artist_mb_id").asc, key("recording_score").desc, key("single_relationship").asc,
      key("is_main_album").asc, key("song_title").asc, key("album_title").asc,
      key("is_single").asc, key("is_soundtrack").asc,
      key("artist_name_mb").asc, key("country_id").asc_nulls_last)

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

/** `child`, which no optimizer rule may copy: declared nondeterministic, so
  * no filter is pushed through, and no projection collapsed into, the
  * projection that computes it — the idiom Spark documents for a costly
  * UDF (`asNondeterministic`). Its value is `child`'s, evaluated once per
  * row. */
private[musicbrainz] case class EvaluatedOnce(child: Expression) extends UnaryExpression {
  override lazy val deterministic: Boolean = false
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def eval(input: InternalRow): Any = child.eval(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = child.genCode(ctx)
  override protected def withNewChildInternal(newChild: Expression): EvaluatedOnce =
    copy(child = newChild)
}

private[musicbrainz] object EvaluatedOnce {
  def apply(c: Column): Column = Bridge.column(EvaluatedOnce(Bridge.expression(c)))
}
