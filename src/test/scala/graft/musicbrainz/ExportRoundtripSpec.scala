package graft.musicbrainz

import graft.SparkSpec

/** The write→read roundtrip of the 5-table export (SURVEY S5/S9): an
  * atomic parquet overwrite per table, alias tables key-partitioned, and
  * the matcher works identically over the re-opened dataset.
  */
class ExportRoundtripSpec extends SparkSpec {
  import spark.implicits._

  test("export writes, re-reads, and still serves the matcher") {
    val dir = "/tmp/graft_export_roundtrip"
    val export = MbFixtureExport.cached(spark)
    GenerateDataset.write(export, dir)
    val reopened = GenerateDataset.read(spark, dir)

    assert(reopened.mbArtist.count() == export.mbArtist.count())
    assert(reopened.mbSongAlias.as[(Int, String)].collect().toSet ==
      export.mbSongAlias.as[(Int, String)].collect().toSet)

    val queries = Seq((1, "Nirvana", Option.empty[String], "Come as You Are"))
      .toDF("query_id", "artist_name", "artist2_name", "title")
    val m = MatchOps.matchSongs(queries, reopened)
      .select("album_mb_id").as[String].collect().toSeq
    assert(m == Seq("g-201"))
  }
}
