package graft.musicbrainz

import org.apache.spark.sql.DataFrame
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
    * the branches are unioned ALL and deduplicated once.
    */
  def songAliases(src: MbSources, mbSong: DataFrame): DataFrame = {
    val songRec = mbSong.select(
      col("id").as("song_id"), col("id").as("rec_id"), col("title").as("rec_name"))

    val own = songRec.select(col("song_id"), col("rec_name").as("name"))
    val recAlias = songRec
      .join(src.recordingAlias.select(col("recording"), col("name")),
        col("rec_id") === col("recording"))
      .select(col("song_id"), col("name"))
    val workLinked = songRec
      .join(src.lRecordingWork.select(col("entity0"), col("entity1")),
        col("rec_id") === col("entity0"))
      .join(src.work.select(col("id").as("w_id"), col("name").as("w_name")),
        col("entity1") === col("w_id"))
    val workName = workLinked.select(col("song_id"), col("w_name").as("name"))
    val workAlias = workLinked
      .join(src.workAlias.select(col("work").as("wa_work"), col("name").as("wa_name")),
        col("w_id") === col("wa_work"))
      .select(col("song_id"), col("wa_name").as("name"))

    Seq(own, recAlias, workName, workAlias).reduce(_ union _)
      .select(col("song_id"), normalize.searchKey(col("name")).as("alias"))
      .filter(col("alias").isNotNull)
      .distinct()
  }
}
