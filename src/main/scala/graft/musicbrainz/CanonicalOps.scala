package graft.musicbrainz

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.normalize
import graft.operators.Relational

/** The heart of the reference (`/root/reference/src/main.py:76-325`): for
  * every recording of every exported artist, choose the **canonical release
  * group** ("which album is the original home of this song?") and emit the
  * `mb_album` / `mb_song` export rows.
  *
  * The reference runs 3 parameterized Postgres queries + Python argmin *per
  * artist* (~8 h, `README.md:191`). Here the artist id is a join key, not a
  * loop variable (SURVEY J8): one DAG computes all artists at once —
  *   candidate join graph (J1/J5) → decorrelated aggregates (J9-J11) →
  *   single-from membership (J6/J7) → window argmin (A3) → flag derivation
  *   (F10-F12) → deterministic conflict resolution (A5/S7).
  *
  * Scale notes: the join graph shuffles on recording/release/release-group
  * ids (all high-cardinality, well-distributed); dimension-sized inputs
  * (link tables, language) are broadcast. The argmin is one hash partition
  * by (artist, recording) — no global sort anywhere.
  */
object CanonicalOps {
  import MbConstants._

  /** All "single X is taken from album Y" relations, per artist
    * (`src/main.py:77-95`): (artist, single-title search key, album gid).
    * The per-artist Python dict {key → set(gid)} becomes a distinct
    * relation joined on (artist, key, gid).
    */
  def singleFromRelations(src: MbSources): DataFrame = {
    val singleFromLinks = src.link.filter(col("link_type") === SingleFromLinkType)
      .select(col("id").as("sf_link"))
    src.artistCreditName.select(col("artist"), col("artist_credit").as("acn_credit"))
      .join(src.releaseGroup.select(
        col("id").as("sg_id"), col("name").as("sg_name"), col("artist_credit").as("sg_credit")),
        col("acn_credit") === col("sg_credit"))
      .join(src.lReleaseGroupReleaseGroup, col("sg_id") === col("entity0"))
      .join(broadcast(singleFromLinks), col("link") === col("sf_link"))
      .join(src.releaseGroup.select(col("id").as("alb_id"), col("gid").as("album_gid")),
        col("entity1") === col("alb_id"))
      .select(col("artist"), normalize.searchKey(col("sg_name")).as("single_key"),
        col("album_gid"))
      .filter(col("single_key").isNotNull)
      .distinct()
  }

  /** The candidate set: one row per (artist, recording, release group, work)
    * an exported artist is position-0-credited on, with
    * `release_year = MIN(release_country.date_year)` over official releases
    * and the artist's export `artist_score` — every row either of the
    * reference's two per-artist queries returns (`src/main.py:97-144` and
    * the soundtrack variant `:146-192`): one spine under one filter, since
    * a row both queries return collapses in the `MIN` grouping anyway.
    */
  def candidates(src: MbSources, mbArtist: DataFrame): DataFrame = {
    val artists = mbArtist.select(col("id").as("exp_artist"), col("score").as("artist_score"))
    val rec = src.recording.select(
      col("id").as("recording_id"), col("gid").as("recording_mb_id"),
      col("name").as("recording_name"), col("artist_credit").as("rec_credit"))
    val acn0 = src.artistCreditName.filter(col("position") === 0)
      .select(col("artist_credit").as("acn0_credit"), col("artist").as("artist_id"))
    val officialRelease = src.release.filter(col("status") === ReleaseStatusOfficial)
      .select(col("id").as("rel_id"), col("release_group").as("rel_rg"))
    val rg = src.releaseGroup.select(
      col("id").as("release_group_id"), col("gid").as("release_group_mb_id"),
      col("name").as("release_group_name"), col("type").as("release_type"),
      col("artist_credit").as("rg_credit"))
    // query 1's test (`src/main.py:130-142`): the release group's credit
    // includes the same artist (cross-branch equality P11)
    val rgCredit = src.artistCreditName.select(
      col("artist_credit").as("acnrg_credit"), col("artist").as("acnrg_artist")).distinct()
    // query 2's test (`src/main.py:146-192`): a soundtrack release group,
    // with NO credit constraint — catches various-artists soundtracks
    val soundtrackRg = src.releaseGroupSecondaryTypeJoin
      .filter(col("secondary_type") === SecondarySoundtrack)
      .select(col("release_group").as("st_rg")).distinct()

    // spine: recording → track → medium → official release →
    // release_country → release_group, for exported artists only
    // (`src/main.py:130-139`); ids in mb_artist are unique, so the inner
    // join carries the score without adding rows. Both tests join sides
    // distinct on their keys, so they add a match column, never a row.
    val spine = rec
      .join(acn0, col("rec_credit") === col("acn0_credit"))
      .join(artists, col("artist_id") === col("exp_artist"))
      .join(src.track.select(col("medium").as("tr_medium"), col("recording").as("tr_rec")),
        col("recording_id") === col("tr_rec"))
      .join(src.medium.select(col("id").as("med_id"), col("release").as("med_rel")),
        col("tr_medium") === col("med_id"))
      .join(officialRelease, col("med_rel") === col("rel_id"))
      .join(src.releaseCountry.select(col("release").as("rc_rel"), col("date_year")),
        col("rel_id") === col("rc_rel"))
      .join(rg, col("rel_rg") === col("release_group_id"))
      .join(rgCredit,
        col("rg_credit") === col("acnrg_credit") && col("acnrg_artist") === col("artist_id"),
        "left")
      .join(soundtrackRg, col("release_group_id") === col("st_rg"), "left")
      .filter(col("acnrg_credit").isNotNull || col("st_rg").isNotNull)

    // left join work via l_recording_work (link_order <= 1 — J5 non-equi term)
    val withWork = spine
      .join(src.lRecordingWork.select(
        col("entity0").as("lrw_rec"), col("entity1").as("lrw_work"), col("link_order")),
        col("recording_id") === col("lrw_rec") && col("link_order") <= 1, "left")
      .join(src.work.select(col("id").as("work_id"), col("gid").as("work_mb_id")),
        col("lrw_work") === col("work_id"), "left")

    // GROUP BY recording.id, release_group.id, work.id (+ artist — the loop
    // variable) with MIN(date_year); the other columns (incl. the
    // recording's credit, needed downstream for the second-artist lookup)
    // are functionally dependent on the group keys
    withWork.groupBy(
      col("artist_id"), col("artist_score"), col("recording_id"), col("recording_mb_id"),
      col("recording_name"), col("rec_credit"), col("release_group_id"),
      col("release_group_mb_id"), col("release_group_name"), col("release_type"),
      col("work_id"), col("work_mb_id"))
      .agg(min(col("date_year")).as("release_year"))
  }

  /** Decorrelated per-entity aggregates (SURVEY J9-J12), each one
    * `groupBy → agg` + later left join instead of a correlated subquery:
    */
  /** `release_group_year` = MIN(date_year) over ALL releases of the group —
    * official or not (`src/main.py:104-109`). */
  def releaseGroupYear(src: MbSources): DataFrame =
    src.releaseCountry.select(col("release").as("rc2_rel"), col("date_year"))
      .join(src.release.select(col("id").as("rel2_id"), col("release_group").as("rel2_rg")),
        col("rc2_rel") === col("rel2_id"))
      .groupBy(col("rel2_rg").as("rgy_rg"))
      .agg(min(col("date_year")).as("release_group_year"))

  /** secondary types per release group (`src/main.py:110`) — collect_set,
    * sorted for determinism; membership-only consumption (F10). */
  def secondaryTypes(src: MbSources): DataFrame =
    src.releaseGroupSecondaryTypeJoin
      .groupBy(col("release_group").as("st2_rg"))
      .agg(sort_array(collect_set(col("secondary_type"))).as("secondary_types"))

  /** recording score = #tracks across ALL releases (`src/main.py:114`). */
  def recordingScore(src: MbSources): DataFrame =
    src.track.select(col("medium").as("sc_medium"), col("recording").as("sc_rec"))
      .join(src.medium.select(col("id").as("sc_med_id"), col("release").as("sc_rel")),
        col("sc_medium") === col("sc_med_id"))
      .join(src.release.select(col("id").as("sc_rel_id")), col("sc_rel") === col("sc_rel_id"),
        "left_semi")
      .groupBy(col("sc_rec"))
      .agg(count(lit(1)).cast("int").as("recording_score"))

  /** second artist = credit position 1 (`src/main.py:115-120`); position is
    * unique within a credit, min() only guards dirty data. */
  def secondArtist(src: MbSources): DataFrame =
    src.artistCreditName.filter(col("position") === 1)
      .groupBy(col("artist_credit").as("sa_credit"))
      .agg(min(col("artist")).as("second_artist_id"))

  /** work language (`src/main.py:121-128`): first of iso_code_1/iso_code_3
    * ('zxx' only) per work. The reference's `LIMIT 1` has no ORDER BY —
    * nondeterministic (SURVEY §7.4.4); pinned here to the lowest language id.
    */
  def workLanguageCode(src: MbSources): DataFrame =
    src.workLanguage.select(col("work").as("wl_work"), col("language").as("wl_lang"))
      .join(src.language.select(
        col("id").as("lang_id"), col("iso_code_1"), col("iso_code_3")),
        col("wl_lang") === col("lang_id"))
      .filter(col("iso_code_1").isNotNull || col("iso_code_3") === "zxx")
      .groupBy(col("wl_work"))
      .agg(min_by(coalesce(col("iso_code_1"), col("iso_code_3")), col("lang_id")).as("language"))

  /** Candidates + every derived field + sort-key columns — the set-based
    * `process_entry` + `Entry.sort_key` (`src/main.py:196-230, 50-73`).
    * Rows with NULL release_year are dropped (`:197-198`).
    */
  def scoredCandidates(src: MbSources, mbArtist: DataFrame): DataFrame = {
    val sf = singleFromRelations(src).withColumn("is_single_from", lit(true))
    val enriched = candidates(src, mbArtist)
      .filter(col("release_year").isNotNull)
      .join(releaseGroupYear(src), col("release_group_id") === col("rgy_rg"), "left")
      .join(secondaryTypes(src), col("release_group_id") === col("st2_rg"), "left")
      .join(recordingScore(src), col("recording_id") === col("sc_rec"), "left")
      // second artist rides on the RECORDING's credit (`src/main.py:115-120`)
      .join(secondArtist(src), col("rec_credit") === col("sa_credit"), "left")
      .join(workLanguageCode(src), col("work_id") === col("wl_work"), "left")
      // is_single_from probe (`src/main.py:202-203`): the candidate's ALBUM
      // carries a "single from" relation whose single title matches the
      // recording title — per artist, on the normalized key (J6/J7)
      .join(sf,
        sf("artist") === col("artist_id") &&
          col("single_key") === normalize.searchKey(col("recording_name")) &&
          col("album_gid") === col("release_group_mb_id"),
        "left")
      .drop("rgy_rg", "st2_rg", "sc_rec", "sa_credit", "wl_work",
        "artist", "single_key", "album_gid", "rec_credit")
      .withColumn("is_single_from", coalesce(col("is_single_from"), lit(false)))
      .withColumn("recording_score", coalesce(col("recording_score"), lit(0)))

    // flag derivation F10/F11 (`src/main.py:30-37`): null secondary array =
    // main album; soundtrack checked before compilation in type_priority
    val noSecondaries = col("secondary_types").isNull || size(col("secondary_types")) === 0
    val isMainAlbum = col("release_type") === TypeAlbum && noSecondaries
    val isSoundtrack = col("release_type") === TypeAlbum && !noSecondaries &&
      array_contains(col("secondary_types"), SecondarySoundtrack)
    val isCompilation = col("release_type") === TypeAlbum && !noSecondaries &&
      array_contains(col("secondary_types"), SecondaryCompilation)

    // sort key (`src/main.py:50-73`): F12 year penalty — +1 unless the album
    // is what the single came from, or a main album (the NULL→9999 branch is
    // unreachable here: null years were filtered above; kept for parity)
    enriched
      .withColumn("is_main_album", isMainAlbum)
      .withColumn("is_soundtrack_album", isSoundtrack)
      .withColumn("is_compilation_album", isCompilation)
      .withColumn("year_value",
        when(col("release_year").isNull, lit(9999))
          .when(col("is_single_from") || col("is_main_album"), col("release_year"))
          .otherwise(col("release_year") + 1))
      .withColumn("reference_priority", when(col("is_single_from"), 0).otherwise(1))
      .withColumn("type_priority",
        when(col("is_main_album"), 1)
          .when(col("is_soundtrack_album"), 2)
          .when(col("is_compilation_album"), 3)
          .otherwise(4))
  }

  /** The canonical-choice sort key (`src/main.py:50-73` `Entry.sort_key`),
    * with (release_group_id, work_id) appended as a deterministic tie-break
    * where the reference relies on Postgres result order (SURVEY §7.4.4).
    */
  private val canonicalOrder = Seq(
    col("year_value").asc, col("reference_priority").asc, col("type_priority").asc,
    col("release_group_id").asc, col("work_id").asc_nulls_first)

  /** Argmin per (artist, recording): the canonical release group (A3,
    * `src/main.py:242`), with the artist's `artist_score` — the input both
    * [[exportTables]] read. Lazy: it is the whole candidates DAG, so a
    * caller that builds both exports materializes it once first
    * ([[GenerateDataset.apply]] does).
    */
  def bestMatches(src: MbSources, mbArtist: DataFrame): DataFrame =
    Relational.topOnePerGroup(
      scoredCandidates(src, mbArtist),
      Seq(col("artist_id"), col("recording_mb_id")),
      canonicalOrder)

  /** Single-recording debugger (the reference's `--recording_id` dump,
    * `src/main.py:235-247,332`): every scored candidate for one recording
    * gid with its sort-key columns, `chosen` marking the argmin row
    * [[bestMatches]] keeps. The gid equality filter pushes through the
    * candidate aggregate into the recording scan, so only that recording's
    * join subtree executes — a probe, not a corpus pass.
    */
  def explainRecording(
      src: MbSources, mbArtist: DataFrame, recordingMbId: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("artist_id"), col("recording_mb_id"))
      .orderBy(canonicalOrder: _*)
    scoredCandidates(src, mbArtist)
      .filter(col("recording_mb_id") === recordingMbId)
      .withColumn("chosen", row_number().over(w) === 1)
      .orderBy(col("artist_id") +: canonicalOrder: _*)
  }

  /** The two export tables (`src/main.py:249-325`) over [[bestMatches]].
    * Cross-artist id collisions (an album credited to several exported
    * artists; in dirty data also a recording) are resolved
    * deterministically: the reference iterates artists by score DESC and
    * lets `ON CONFLICT DO UPDATE` last-write-win, so the LOWEST-score
    * artist wins; ties pinned by artist_id asc (SURVEY §7.4.1).
    */
  def exportTables(best: DataFrame): (DataFrame, DataFrame) = {
    val conflictOrder = Seq(col("artist_score").asc, col("artist_id").asc)

    val mbAlbum = Relational.lastWriteWins(
      best.select(
        col("release_group_id").as("id"), col("release_group_mb_id").as("mb_id"),
        col("release_group_name").as("title"), col("release_group_year").as("release_year"),
        col("is_soundtrack_album").as("is_soundtrack"),
        (col("release_type") === TypeSingle).as("is_single"),
        col("is_main_album"), col("artist_score"), col("artist_id")).distinct(),
      Seq(col("id")), conflictOrder)
      .drop("artist_score", "artist_id")

    val mbSong = Relational.lastWriteWins(
      best.select(
        col("recording_id").as("id"), col("recording_mb_id").as("mb_id"),
        // the serving column name is the sql/2 contract's `mb_work_id`
        // (`sql/2:35`, written by `src/main.py:310`) — consumers written
        // against the reference schema must keep working after a swap-in
        col("work_mb_id").as("mb_work_id"),
        col("recording_name").as("title"), col("artist_id"),
        col("second_artist_id"), col("release_group_id").as("album_id"),
        // mb_song.is_single stores the single-from flag (`src/main.py:288`)
        col("is_single_from").as("is_single"), col("language"),
        col("recording_score").as("score"), col("artist_score")),
      Seq(col("id")), conflictOrder)
      .drop("artist_score")

    (mbAlbum, mbSong)
  }
}
