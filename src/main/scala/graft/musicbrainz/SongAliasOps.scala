package graft.musicbrainz

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.normalize

/** `sql/5_song_alias_data.sql` re-expressed (SURVEY U2): song aliases from
  * 4 sources — recording name ∪ recording aliases ∪ linked work names ∪
  * work aliases — normalized and deduplicated.
  */
object SongAliasOps {

  /** → mb_song_alias(song_id, alias). `sql/5:7` joins `mb_song` back to
    * `recording` through the gid; here that join is unnecessary, because
    * `mbSong.id` IS the recording id and `title` the recording name
    * ([[CanonicalOps.exportTables]]). Normalization uses
    * [[normalize.searchKey]] on both store and probe sides (SURVEY §7.4.3);
    * empty keys are null and dropped. `ON CONFLICT DO NOTHING` → distinct
    * on (song_id, alias), which also subsumes the UNION's own distinct, so
    * the branches are unioned ALL and deduplicated once. The same distinct
    * makes every lookup of an exported song, and of a work, a semi join:
    * a branch's size estimate is then that of its source table (times the
    * work alias table for the one branch that pairs two), not the product
    * of every joined table's.
    */
  def songAliases(src: MbSources, mbSong: DataFrame): DataFrame = {
    val ids = mbSong.select(col("id").as("known_id"))
    def exported(df: DataFrame, id: String) =
      df.join(ids, col(id) === col("known_id"), "left_semi")
    // ids keep mb_song's type in every branch of the union
    def asSongId(c: Column) = c.cast(mbSong.schema("id").dataType).as("song_id")

    val own = mbSong.select(col("id").as("song_id"), col("title").as("name"))
    val recAlias = exported(src.recordingAlias, "recording")
      .select(asSongId(col("recording")), col("name"))
    val links = exported(src.lRecordingWork, "entity0").select(col("entity0"), col("entity1"))
    val workName = links
      .join(src.work.select(col("id").as("w_id"), col("name").as("w_name")),
        col("entity1") === col("w_id"))
      .select(asSongId(col("entity0")), col("w_name").as("name"))
    val workAlias = links
      .join(src.work.select(col("id").as("w_id")), col("entity1") === col("w_id"), "left_semi")
      .join(src.workAlias.select(col("work").as("wa_work"), col("name").as("wa_name")),
        col("entity1") === col("wa_work"))
      .select(asSongId(col("entity0")), col("wa_name").as("name"))

    Seq(own, recAlias, workName, workAlias).reduce(_ union _)
      .select(col("song_id"), normalize.searchKey(col("name")).as("alias"))
      .filter(col("alias").isNotNull)
      .distinct()
  }
}
