package graft.musicbrainz

import org.apache.spark.graft.CoreBridge
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graft.Bridge

import graft.operators.SizeGate

/** §3.1 end-to-end: MusicBrainz-shaped sources → the 5-table export dataset
  * (`/root/reference/README.md:21`; schema contract `sql/2_export_tables.sql`).
  *
  * The reference's pipeline is `sql/1` → `sql/3` → `python src/main.py`
  * (~8 h) → `sql/4` → `sql/5` (~12 min); this is the same dependency chain
  * as three materialized hinges (see [[apply]]) with one lazy DAG per
  * output on top. Call `.write.parquet` (or JDBC) per table — a single
  * atomic overwrite replaces the reference's per-artist upsert
  * transactions (SURVEY S5/S7/S9).
  */
object GenerateDataset {

  final case class Export(
      mbArtist: DataFrame,
      mbArtistAlias: DataFrame,
      mbAlbum: DataFrame,
      mbSong: DataFrame,
      mbSongAlias: DataFrame,
      hinges: Seq[DataFrame] = Nil) {
    private def tables = Seq(mbArtist, mbArtistAlias, mbAlbum, mbSong, mbSongAlias)

    /** The five tables' summed size estimate: the matcher's index gate. */
    private lazy val tableBytes: BigInt =
      tables.map(SizeGate.estimate).sum

    private var index: Option[MatcherIndex] = None

    /** The matcher's index over this export, built by the first call that
      * passes the gate and reused by every later one; None while the
      * tables exceed `spark.sql.autoBroadcastJoinThreshold` (see
      * [[MatchOps.matchSongs]]). A memo [[unpersist]] can reset, not a
      * lazy val: a read-back export still serves after `unpersist`, on a
      * fresh index. */
    private[musicbrainz] def matcherIndex: Option[MatcherIndex] = synchronized {
      if (tableBytes > mbArtist.sparkSession.sessionState.conf.autoBroadcastJoinThreshold) None
      else {
        if (index.isEmpty) index = Some(MatcherIndex(this))
        index
      }
    }

    /** Release what [[GenerateDataset.apply]] holds: the stored rows behind
      * every [[Hinge]] in `hinges` (including the `best` hinge, which no
      * exported frame exposes), any cache a caller put on the five
      * frames, and the broadcasts of the matcher's index. A frame built on
      * a released hinge can no longer run: write the export first, then
      * read the written tables back.
      */
    def unpersist(): Unit = {
      tables.foreach(_.unpersist())
      hinges.foreach(Hinge.release)
      synchronized {
        index.foreach(_.destroy())
        index = None
      }
    }
  }

  /** The export fans out into FIVE sinks that share three intermediates:
    * the filtered artist set, `best` (the candidates DAG of
    * [[CanonicalOps.bestMatches]], which both [[CanonicalOps.exportTables]]
    * read) and the song table. Each is a [[Hinge]]:
    * materialized once, here, and handed downstream as a plan leaf. No sink
    * re-executes an upstream DAG (which measured 140 s against 30 s for 10k
    * synthetic artists), and no sink plan, or AQE re-plan of it, carries
    * one. `apply` is therefore eager: it runs the three hinges' jobs before
    * it returns. [[Export.unpersist]] releases them.
    */
  def apply(src: MbSources): Export = {
    val artists = Hinge(ArtistOps.mbArtist(src))
    val best = Hinge(CanonicalOps.bestMatches(src, artists))
    val (album, song0) = CanonicalOps.exportTables(best)
    val song = Hinge(song0)
    Export(
      mbArtist = artists,
      mbArtistAlias = ArtistOps.artistAliases(src, artists),
      mbAlbum = album,
      mbSong = song,
      mbSongAlias = SongAliasOps.songAliases(src, song),
      hinges = Seq(artists, best, song))
  }

  /** Persist the export as parquet, one directory per table — the engine's
    * replacement for the reference's pg_dump/pg_restore shipping step
    * (`README.md:206-227`, SURVEY S9). Each table is written atomically
    * (overwrite), replacing the per-artist upsert transactions (S7).
    * Every table is written as its plan leaves it, with no layout step:
    * the matcher reads each alias table whole (into its index, or joined
    * on the song id and on deletion variants), never by an equi-join or
    * a point probe on `alias`.
    */
  def write(export: Export, dir: String): Unit = {
    export.mbArtist.write.mode("overwrite").parquet(s"$dir/mb_artist")
    export.mbAlbum.write.mode("overwrite").parquet(s"$dir/mb_album")
    export.mbSong.write.mode("overwrite").parquet(s"$dir/mb_song")
    export.mbArtistAlias.write.mode("overwrite").parquet(s"$dir/mb_artist_alias")
    export.mbSongAlias.write.mode("overwrite").parquet(s"$dir/mb_song_alias")
  }

  /** Ship the export to a serving database over JDBC — the final leg of the
    * reference's deployment story (`README.md:206-227` dumps the 5 tables
    * with pg_dump and restores them into the serving Postgres). `overwrite`
    * is Spark's drop-recreate-insert — NOT atomic from a concurrent
    * reader's view (readers mid-write see a missing or partial table).
    * Like the reference's restore flow, load into a FRESH schema/database
    * (the `table` mapper re-points the names) and switch the serving
    * alias over once the load commits; don't overwrite live tables in
    * place.
    *
    * `writePartitions` bounds write parallelism: every task holds one JDBC
    * connection, and a 1000-executor cluster must not open 32k connections
    * against one serving DB — coalesce (no shuffle) narrows the plan to at
    * most that many concurrent inserts. Batch size and any dialect options
    * (user, password, driver, `batchsize`, `isolationLevel`) pass through
    * `options`.
    */
  def writeJdbc(
      export: Export,
      url: String,
      options: Map[String, String] = Map.empty,
      table: String => String = name => s"musicbrainz.$name",
      writePartitions: Int = 8): Unit = {
    def ship(df: DataFrame, name: String): Unit =
      df.coalesce(writePartitions)
        .write.format("jdbc")
        .option("url", url).options(options)
        .option("dbtable", table(name))
        .mode("overwrite").save()
    ship(export.mbArtist, "mb_artist")
    ship(export.mbArtistAlias, "mb_artist_alias")
    ship(export.mbAlbum, "mb_album")
    ship(export.mbSong, "mb_song")
    ship(export.mbSongAlias, "mb_song_alias")
  }

  /** Re-open a JDBC-shipped export — the serving-side reader twin of
    * [[writeJdbc]] (parity checks, or running the matcher against the
    * serving DB exactly as the reference's benchmark does).
    */
  def readJdbc(
      spark: org.apache.spark.sql.SparkSession,
      url: String,
      options: Map[String, String] = Map.empty,
      table: String => String = name => s"musicbrainz.$name"): Export = {
    def rd(name: String): DataFrame =
      spark.read.format("jdbc")
        .option("url", url).options(options)
        .option("dbtable", table(name)).load()
    Export(
      mbArtist = rd("mb_artist"),
      mbArtistAlias = rd("mb_artist_alias"),
      mbAlbum = rd("mb_album"),
      mbSong = rd("mb_song"),
      mbSongAlias = rd("mb_song_alias"))
  }

  /** Re-open a written export. */
  def read(spark: org.apache.spark.sql.SparkSession, dir: String): Export =
    Export(
      mbArtist = spark.read.parquet(s"$dir/mb_artist"),
      mbArtistAlias = spark.read.parquet(s"$dir/mb_artist_alias"),
      mbAlbum = spark.read.parquet(s"$dir/mb_album"),
      mbSong = spark.read.parquet(s"$dir/mb_song"),
      mbSongAlias = spark.read.parquet(s"$dir/mb_song_alias"))
}

/** A materialized intermediate several sinks share. `Hinge(df)` runs `df`
  * once (`localCheckpoint`: rows kept in the block manager, memory then
  * disk) and returns a frame whose plan is ONE leaf over those rows. The
  * leaf's size, for join planning and the matcher's index gate, is the
  * bytes its stored blocks take, not `df`'s estimate: over a chain of
  * joins that multiplies the inputs' sizes (10²³ bytes for a few hundred
  * stored). A cached frame
  * (`persist`) would instead embed `df`'s whole plan in every consumer —
  * nested caches nest those plans, and every AQE re-plan of a consumer
  * renders them again (4.8 MB of plan text per re-plan for `mb_song_alias`
  * at 5k generated artists, against 41 KB over leaves).
  */
private[musicbrainz] object Hinge {
  def apply(df: DataFrame): DataFrame = {
    val stored = df.localCheckpoint()
    Bridge.withLeafSize(stored, CoreBridge.storedBytes(leaf(stored).rdd))
  }

  private def leaf(df: DataFrame): LogicalRDD =
    df.queryExecution.logical.collectFirst { case r: LogicalRDD => r }.get

  /** Drop the stored rows under a frame made by [[apply]]. `unpersist()` on
    * the frame cannot: it consults only the CacheManager, and the rows
    * belong to the RDD under the frame's `LogicalRDD` leaf. */
  def release(df: DataFrame): Unit = leaf(df).rdd.unpersist(blocking = false)
}
