package graft.musicbrainz

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The fixture's export dataset, computed once and held as local rows
  * across suites — every assertion otherwise re-executes the full ~30-join
  * generation DAG. Local rows, unlike cached frames, survive another
  * suite's `clearCache()`, and their size estimates are their real size,
  * so the matcher's index gate sees a small export (the matcher specs
  * force the join path with [[OnJoinPath]]).
  */
object MbFixtureExport {
  private var memo: Option[GenerateDataset.Export] = None

  def cached(spark: SparkSession): GenerateDataset.Export = synchronized {
    memo.getOrElse {
      val e = GenerateDataset(MbFixture.sources(spark))
      def local(df: DataFrame) =
        spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
      val c = GenerateDataset.Export(
        mbArtist = local(e.mbArtist),
        mbArtistAlias = local(e.mbArtistAlias),
        mbAlbum = local(e.mbAlbum),
        mbSong = local(e.mbSong),
        mbSongAlias = local(e.mbSongAlias))
      e.unpersist()
      memo = Some(c)
      c
    }
  }
}

/** Run `body` with the matcher on its join path: auto-broadcast off, so no
  * export passes [[MatchOps.matchSongs]]'s index gate. Collect inside. */
object OnJoinPath {
  def apply[A](spark: SparkSession)(body: => A): A = {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }
}
