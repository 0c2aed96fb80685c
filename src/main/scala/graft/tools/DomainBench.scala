package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.musicbrainz.{GenerateDataset, MatchOps, MbSources}

/** Domain-pipeline throughput harness: synthesizes a MusicBrainz-shaped
  * corpus of N artists (each with one 10-track album, one single cut from
  * it, aliases on everything) entirely with `spark.range` — no driver
  * loops — then times the full `GenerateDataset` DAG through the parquet
  * sink and reports artists/sec.
  *
  * Baseline comparison (BASELINE.md): the reference generates its dataset
  * with a per-artist Postgres loop in ~8 h for the full MusicBrainz corpus
  * (~2.4M artists ⇒ ~80 artists/sec on a t2.large) plus ~12 min of alias
  * SQL. Hardware differs (this host is 32-way), but the shape difference
  * is the point: one set-based DAG vs 2.4M round-trips.
  *
  * Usage: runMain graft.tools.DomainBench [nArtists]
  */
object DomainBench {

  /** Distinct-looking artist tag: 8 hex chars of md5(id). */
  private def artistTag(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    substring(md5(id.cast("string")), 1, 8)

  /** Synthetic MB-shaped sources. Id spaces are offset so nothing collides:
    * recordings at 100M, release groups at 10M/20M, releases 30M/40M,
    * mediums 50M/60M. Every artist passes the export filter (9 urls ⇒
    * score > 8). Area chains exercise the country walk (areas 11+ climb
    * toward 1-10 in steps of 10; chains longer than 3 hops resolve null).
    */
  def synth(spark: SparkSession, n: Long): MbSources = {
    import spark.implicits._
    val artists = spark.range(1, n + 1)

    val area = spark.range(1, 111).select(col("id").cast("int").as("id"))
    val iso31661 = spark.range(1, 11).select(
      col("id").cast("int").as("area"),
      concat(lit("C"), col("id")).as("code"))
    val lAreaArea = spark.range(11, 111).select(
      lit(graft.musicbrainz.MbConstants.AreaPartOfLink).as("link"),
      (col("id") - 10).cast("int").as("entity0"),
      col("id").cast("int").as("entity1"))

    // hash-derived names: sequential-id names ("Artist 1234") are all
    // within lev-1 of ~dozens of neighbors, which blows the deletion-
    // variant candidate sets far past anything real name data produces —
    // the matcher bench would measure the harness, not the matcher
    val artist = artists.select(
      col("id").cast("int").as("id"),
      concat(lit("a-"), col("id")).as("gid"),
      concat(lit("Artist "), artistTag(col("id"))).as("name"),
      (col("id") % 110 + 1).cast("int").as("area"))
    val lArtistUrl = artists.select(col("id"), explode(sequence(lit(1), lit(9))).as("u"))
      .select(col("id").cast("int").as("entity0"), col("u").as("url"))
    val artistAlias = artists.select(
      col("id").cast("int").as("artist"),
      concat(lit("The Artist "), artistTag(col("id"))).as("name"))
    val artistCredit = artists.select(col("id").cast("int").as("id"))
    val artistCreditName = artists.select(
      col("id").cast("int").as("artist_credit"), col("id").cast("int").as("artist"),
      lit(0).as("position"), concat(lit("Artist "), artistTag(col("id"))).as("name"))

    // one album RG (type 1) + one single RG (type 2) per artist; the single
    // is named after track 0 so the name-based single matching has work
    val rgAlbum = artists.select(
      (col("id") + 10000000L).cast("int").as("id"),
      concat(lit("g-al-"), col("id")).as("gid"),
      concat(lit("Album of "), artistTag(col("id"))).as("name"),
      lit(1).as("type"), col("id").cast("int").as("artist_credit"))
    val rgSingle = artists.select(
      (col("id") + 20000000L).cast("int").as("id"),
      concat(lit("g-sg-"), col("id")).as("gid"),
      concat(lit("Song 0 of "), artistTag(col("id"))).as("name"),
      lit(2).as("type"), col("id").cast("int").as("artist_credit"))
    val releaseGroup = rgAlbum.union(rgSingle)

    val relAlbum = artists.select(
      (col("id") + 30000000L).cast("int").as("id"),
      (col("id") + 10000000L).cast("int").as("release_group"),
      lit(graft.musicbrainz.MbConstants.ReleaseStatusOfficial).as("status"))
    val relSingle = artists.select(
      (col("id") + 40000000L).cast("int").as("id"),
      (col("id") + 20000000L).cast("int").as("release_group"),
      lit(graft.musicbrainz.MbConstants.ReleaseStatusOfficial).as("status"))
    val release = relAlbum.union(relSingle)
    val releaseCountry = release.select(
      col("id").as("release"),
      // albums 1991, singles 1991 (same-year single → canonical album wins)
      lit(1991).as("date_year"))

    val medium = artists.select(
      (col("id") + 50000000L).cast("int").as("id"),
      (col("id") + 30000000L).cast("int").as("release"))
      .union(artists.select(
        (col("id") + 60000000L).cast("int").as("id"),
        (col("id") + 40000000L).cast("int").as("release")))

    // 10 recordings per artist; all on the album medium, track 0 also on
    // the single medium
    val recs = artists.select(col("id").as("aid"),
      explode(sequence(lit(0), lit(9))).as("k"))
    val recording = recs.select(
      (col("aid") * 16 + col("k") + 100000000L).cast("int").as("id"),
      concat(lit("r-"), col("aid"), lit("-"), col("k")).as("gid"),
      concat(lit("Song "), col("k"), lit(" of "), artistTag(col("aid"))).as("name"),
      col("aid").cast("int").as("artist_credit"))
    val track = recs.select(
      (col("aid") + 50000000L).cast("int").as("medium"),
      (col("aid") * 16 + col("k") + 100000000L).cast("int").as("recording"))
      .union(artists.select(
        (col("id") + 60000000L).cast("int").as("medium"),
        (col("id") * 16 + 100000000L).cast("int").as("recording")))
    val recordingAlias = recs.filter(col("k") === 0).select(
      (col("aid") * 16 + col("k") + 100000000L).cast("int").as("recording"),
      concat(lit("Lead Single of "), artistTag(col("aid"))).as("name"))

    import spark.implicits._
    val emptyLink3 = Seq.empty[(Int, Int, Int)].toDF("link", "entity0", "entity1")
    MbSources(
      artist = artist, area = area, iso31661 = iso31661, lAreaArea = lAreaArea,
      lArtistUrl = lArtistUrl, artistAlias = artistAlias,
      artistCredit = artistCredit, artistCreditName = artistCreditName,
      lArtistArtist = emptyLink3,
      link = Seq.empty[(Int, Int)].toDF("id", "link_type"),
      linkAttribute = Seq.empty[(Int, Int)].toDF("link", "attribute_type"),
      releaseGroup = releaseGroup,
      releaseGroupSecondaryTypeJoin =
        Seq.empty[(Int, Int)].toDF("release_group", "secondary_type"),
      lReleaseGroupReleaseGroup = emptyLink3,
      release = release, releaseCountry = releaseCountry,
      medium = medium, track = track,
      recording = recording, recordingAlias = recordingAlias,
      lRecordingWork = Seq.empty[(Int, Int, Int)].toDF("entity0", "entity1", "link_order"),
      work = Seq.empty[(Int, String, String)].toDF("id", "gid", "name"),
      workAlias = Seq.empty[(Int, String)].toDF("work", "name"),
      language = Seq.empty[(Int, Option[String], String)].toDF("id", "iso_code_1", "iso_code_3"),
      workLanguage = Seq.empty[(Int, Int)].toDF("work", "language"))
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(100000L)
    val outDir = "/tmp/graft_domain_bench"
    val spark = BenchUtil.session("spark.sql.shuffle.partitions" -> "32")
    val src = synth(spark, n)
    val t0 = System.nanoTime()
    val export = GenerateDataset(src)
    GenerateDataset.write(export, outDir)
    val sec = (System.nanoTime() - t0) / 1e9
    val back = GenerateDataset.read(spark, outDir)
    val counts = Map(
      "artists" -> back.mbArtist.count(), "albums" -> back.mbAlbum.count(),
      "songs" -> back.mbSong.count(), "artist_aliases" -> back.mbArtistAlias.count(),
      "song_aliases" -> back.mbSongAlias.count())
    val cjson = counts.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    println(f"""{"metric":"domain_generate","n_artists":$n,"sec":$sec%.2f,"artists_per_sec":${n / sec}%.0f,"counts":$cjson}""")

    // serving-side throughput: replay one fuzzy chart-entry query per
    // artist against the freshly written export (the reference replays its
    // golden CSV one Postgres round-trip at a time, src/benchmark.py).
    // Queries are read back from parquet, title-cased like chart data.
    val queries = spark.range(1, n + 1).select(
      col("id").as("query_id"),
      concat(lit("artist "), artistTag(col("id"))).as("artist_name"),
      lit(null).cast("string").as("artist2_name"),
      concat(lit("song "), col("id") % 10, lit(" of "), artistTag(col("id"))).as("title"))
    val t1 = System.nanoTime()
    val nMatched = MatchOps.matchSongs(queries, back).count()
    val msec = (System.nanoTime() - t1) / 1e9
    println(f"""{"metric":"domain_match","n_queries":$n,"matched":$nMatched,"sec":$msec%.2f,"queries_per_sec":${n / msec}%.0f}""")
    spark.stop()
  }
}
