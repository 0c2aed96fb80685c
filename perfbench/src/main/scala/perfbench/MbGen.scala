package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.musicbrainz.{GenerateDataset, MbConstants, MbSources}

/** A seeded, MusicBrainz-shaped source corpus, built on the driver so that
  * the expected export is known exactly.
  *
  * Every branch of the export pipeline gets rows: skewed recordings per
  * artist, albums with reissues and earlier non-official promos, singles
  * that sometimes predate their album (with and without a "single from"
  * link), compilations, various-artists soundtracks, work links with work
  * aliases and languages, recording aliases (including "(Live)" variants
  * that normalize away), renamed artists, two-artist credits, recordings
  * with no official release, and artists the export filter drops.
  *
  * Names are built so the fuzzy matcher has exactly one right answer:
  * artist keys share one length and carry 8-hex tags at Hamming distance
  * ≥ 3 from each other, so a one-character typo stays within
  * Levenshtein 1 of its own artist only; song titles of one artist carry
  * 6-hex tags with the same property. The model records the canonical
  * album of each recording ([[Model.canonical]]) as ground truth.
  */
object MbGen {

  private val Words = Vector(
    "amber", "blaze", "cedar", "delta", "ember", "flint", "grove", "haven",
    "ivory", "jolly", "karma", "lunar", "maple", "noble", "ocean", "pearl",
    "quill", "raven", "solar", "tidal", "umbra", "vivid", "waltz", "yield")
  /** Title words of queries for songs that do not exist: never in [[Words]]. */
  private val MissWords = Vector("zesty", "xenon", "query", "bogus", "fjord")

  private val Hex = "0123456789ABCDEF"

  /** The search key graft.functions.normalize.searchKey computes, for the
    * ASCII names this generator emits. */
  def key(s: String): String =
    s.toLowerCase.replace("(live)", "").replaceAll("[^a-z0-9]+", "")

  /** Random hex tags of one length with pairwise Hamming distance ≥ 3:
    * two tags within distance 2 agree on every position outside some
    * pair of positions, so each tag is indexed under all its
    * two-wildcard patterns and a candidate sharing any pattern is
    * redrawn. */
  final class TagSpace(len: Int, rnd: Random) {
    private val seen = mutable.HashSet.empty[String]
    private val pairs = for (i <- 0 until len; j <- i + 1 until len) yield (i, j)
    private def patterns(t: String): Seq[String] = pairs.map { case (i, j) =>
      val c = t.toCharArray; c(i) = '*'; c(j) = '*'; new String(c)
    }
    def next(): String = {
      var t = ""
      var p: Seq[String] = Nil
      do {
        t = Array.fill(len)(Hex(rnd.nextInt(16))).mkString
        p = patterns(t)
      } while (p.exists(seen.contains))
      seen ++= p
      t
    }
  }

  final case class Artist(id: Int, name: String, area: Int, urls: Int,
      alias: Option[String], oldName: Option[(Int, String)])
  final case class Rg(id: Int, gid: String, name: String, tpe: Int,
      credit: Int, secondary: Option[Int])
  final case class Release(id: Int, rg: Int, status: Int, year: Int)
  final case class Recording(id: Int, gid: String, title: String, credit: Int,
      artist: Int, second: Option[Int], aliases: Seq[String],
      work: Option[Work])
  final case class Work(id: Int, gid: String, name: String, alias: String,
      languages: Seq[Int])

  /** The generated corpus plus everything the checks need. */
  final case class Model(
      artists: Vector[Artist],
      variousArtist: Artist,
      rgs: Vector[Rg],
      releases: Vector[Release],
      tracks: Vector[(Int, Int)],          // (release, recording)
      recordings: Vector[Recording],
      duoCredits: Vector[(Int, Int, Int)], // (credit, main, second)
      variousCredit: Int,
      singleFrom: Vector[(Int, Int)],      // (single rg, album rg)
      exported: Set[Int],
      canonical: Map[Int, Int],            // recording → canonical rg
      chosenSingleFrom: Set[Int]) {        // recordings whose choice is a single-from album
    lazy val rgById: Map[Int, Rg] = rgs.map(r => r.id -> r).toMap
    lazy val artistById: Map[Int, Artist] = artists.map(a => a.id -> a).toMap
    /** Exported songs per artist, in id order. */
    lazy val songsByArtist: Map[Int, Vector[Recording]] =
      recordings.filter(r => canonical.contains(r.id)).groupBy(_.artist)
        .map { case (a, rs) => a -> rs.sortBy(_.id) }
  }

  private val LangEn = 1
  private val LangNl = 2
  private val LangZxx = 3
  private val LangQaa = 4
  private val Languages: Seq[(Int, Option[String], String)] = Seq(
    (LangEn, Some("en"), "eng"), (LangNl, Some("nl"), "nld"),
    (LangZxx, None, "zxx"), (LangQaa, None, "qaa"))

  // link ids: 1 = rename (type 103 + attribute 1094), 2 = type 103 with
  // another attribute, 3 = an unrelated artist-artist link, 4 = single-from
  private val LinkRename = 1
  private val LinkNotRename = 2
  private val LinkOther = 3
  private val LinkSingleFrom = 4

  def model(nArtists: Int, seed: Long): Model = {
    val rnd = new Random(seed)
    val artistTags = new TagSpace(8, rnd)
    def artistName(): String = s"${Words(rnd.nextInt(Words.size)).capitalize} ${artistTags.next()}"

    // areas: 1-10 carry codes (area 1 is Belgium), 11-110 climb by 10
    val beAreas = Vector(1, 11, 21, 31)
    val otherAreas = (1 to 110).filterNot(beAreas.contains).toVector
    var nextOld = nArtists + 1 // renamed artists' old identities follow
    val artists = (1 to nArtists).map { id =>
      val be = rnd.nextDouble() < 0.15
      val area = if (be) beAreas(rnd.nextInt(4)) else otherAreas(rnd.nextInt(otherAreas.size))
      val urls = if (rnd.nextDouble() < 0.85) 9 + rnd.nextInt(6) else rnd.nextInt(9)
      val name = artistName()
      val alias = if (rnd.nextDouble() < 0.4) Some(s"The $name") else None
      val old = if (rnd.nextDouble() < 0.05) { nextOld += 1; Some((nextOld - 1, artistName())) } else None
      Artist(id, name, area, urls, alias, old)
    }.toVector
    val various = Artist(nextOld, "Various Artists", 2, 0, None, None)
    def countryBe(area: Int): Boolean = beAreas.contains(area)
    val exported = artists.filter(a => countryBe(a.area) || a.urls > 8).map(_.id).toSet

    val rgs = ArrayBuffer.empty[Rg]
    val releases = ArrayBuffer.empty[Release]
    val tracks = ArrayBuffer.empty[(Int, Int)]
    val recordings = ArrayBuffer.empty[Recording]
    val duoCredits = ArrayBuffer.empty[(Int, Int, Int)]
    val singleFrom = ArrayBuffer.empty[(Int, Int)]
    var rgSeq = 10000000
    var relSeq = 30000000
    var recSeq = 100000000
    var workSeq = 70000000
    var duoSeq = 5000000
    val variousCredit = 9000000
    def newRg(name: String, tpe: Int, credit: Int, secondary: Option[Int]): Rg = {
      rgSeq += 1
      val r = Rg(rgSeq, s"rg-$rgSeq", name, tpe, credit, secondary)
      rgs += r; r
    }
    def newRelease(rg: Int, status: Int, year: Int): Int = {
      relSeq += 1; releases += Release(relSeq, rg, status, year); relSeq
    }
    // soundtracks collect recordings of many artists; one is open at a time
    var soundtrack: Option[(Rg, Int, Int)] = None // (rg, official release, fill)

    for (a <- artists) {
      val songTags = new TagSpace(6, rnd)
      val nRec = math.min(40, 3 + (-math.log(1 - rnd.nextDouble()) * 6).toInt)
      val nAlb = math.max(1, nRec / 5)
      val albums = (0 until nAlb).map { k =>
        val year = 1965 + rnd.nextInt(56)
        val rg = newRg(s"Album $k of ${a.name}", MbConstants.TypeAlbum, a.id, None)
        val official = newRelease(rg.id, MbConstants.ReleaseStatusOfficial, year)
        val reissue =
          if (rnd.nextDouble() < 0.3)
            Some(newRelease(rg.id, MbConstants.ReleaseStatusOfficial, year + 5 + rnd.nextInt(16)))
          else None
        // an earlier promo moves only mb_album.release_year, never the choice
        val promo = if (rnd.nextDouble() < 0.2) Some(newRelease(rg.id, 2, year - 1)) else None
        (rg, year, official +: (reissue.toSeq ++ promo.toSeq))
      }
      val recs = (0 until nRec).map { k =>
        recSeq += 1
        val title = s"${Words(rnd.nextInt(Words.size)).capitalize} " +
          s"${Words(rnd.nextInt(Words.size)).capitalize} ${songTags.next()}"
        val duo = if (rnd.nextDouble() < 0.1) {
          var b = 1 + rnd.nextInt(nArtists)
          if (b == a.id) b = if (b == nArtists) 1 else b + 1
          duoSeq += 1
          duoCredits += ((duoSeq, a.id, b))
          Some((duoSeq, b))
        } else None
        val aliases = Seq(
          if (rnd.nextDouble() < 0.1) Some(s"$title (Live)") else None,
          if (rnd.nextDouble() < 0.1) Some(s"$title Remix") else None).flatten
        val work = if (rnd.nextDouble() < 0.3) {
          workSeq += 1
          val langs = rnd.nextInt(10) match {
            case 0 | 1 | 2 => Seq(LangEn)
            case 3 => Seq(LangNl)
            case 4 => Seq(LangZxx)
            case 5 => Seq(LangQaa)
            case 6 => Seq(LangQaa, LangNl)
            case _ => Nil
          }
          Some(Work(workSeq, s"w-$workSeq", title, s"$title Part 1", langs))
        } else None
        Recording(recSeq, s"rec-$recSeq", title, duo.fold(a.id)(_._1), a.id,
          duo.map(_._2), aliases, work)
      }
      recordings ++= recs
      // 3% of recordings exist only on a non-official bootleg
      val (bootleg, placed) = recs.partition(_ => rnd.nextDouble() < 0.03)
      if (bootleg.nonEmpty) {
        val rg = newRg(s"Bootleg of ${a.name}", MbConstants.TypeAlbum, a.id, None)
        val rel = newRelease(rg.id, 2, 1990)
        bootleg.foreach(r => tracks += ((rel, r.id)))
      }
      placed.zipWithIndex.foreach { case (r, i) =>
        val (alb, year, rels) = albums(i % albums.size)
        rels.foreach(rel => tracks += ((rel, r.id)))
        if (rnd.nextDouble() < 0.25) {
          // a single named after the song, -3..+1 years around its album
          val sg = newRg(r.title, MbConstants.TypeSingle, a.id, None)
          tracks += ((newRelease(sg.id, MbConstants.ReleaseStatusOfficial, year - 3 + rnd.nextInt(5)), r.id))
          if (rnd.nextDouble() < 0.6) singleFrom += ((sg.id, alb.id))
        }
        if (rnd.nextDouble() < 0.05) {
          val (st, rel, fill) = soundtrack match {
            case Some(s) if s._3 < 10 => s
            case _ =>
              val st = newRg("Original Soundtrack", MbConstants.TypeAlbum, variousCredit,
                Some(MbConstants.SecondarySoundtrack))
              (st, newRelease(st.id, MbConstants.ReleaseStatusOfficial, 1960 + rnd.nextInt(63)), 0)
          }
          soundtrack = Some((st, rel, fill + 1))
          tracks += ((rel, r.id))
        }
      }
      if (placed.size >= 4 && rnd.nextDouble() < 0.15) {
        // a later compilation with three hits and one recording found
        // nowhere else
        recSeq += 1
        val bonus = Recording(recSeq, s"rec-$recSeq",
          s"${Words(rnd.nextInt(Words.size)).capitalize} ${Words(rnd.nextInt(Words.size)).capitalize} ${songTags.next()}",
          a.id, a.id, None, Nil, None)
        recordings += bonus
        val comp = newRg(s"Best of ${a.name}", MbConstants.TypeAlbum, a.id,
          Some(MbConstants.SecondaryCompilation))
        val rel = newRelease(comp.id, MbConstants.ReleaseStatusOfficial, albums.map(_._2).max + 3)
        (placed.take(3) :+ bonus).foreach(r => tracks += ((rel, r.id)))
      }
    }

    val rgById = rgs.map(r => r.id -> r).toMap
    val choice = canonicalAlbums(rgById, releases.toVector, tracks.toVector,
      recordings.toVector, singleFrom.toVector, exported)
    val canonical = choice.map { case (rec, (rg, _)) => rec -> rg }
    Model(artists, various, rgs.toVector, releases.toVector, tracks.toVector,
      recordings.toVector, duoCredits.toVector, variousCredit, singleFrom.toVector,
      exported, canonical, choice.collect { case (rec, (_, true)) => rec }.toSet)
  }

  /** The canonical release group of every exported recording, by the
    * export's documented rules: candidates are the release groups of the
    * recording's official releases that credit its main artist or are
    * soundtracks; the year is the earliest official release containing
    * it; non-main albums that the recording's single did not come from
    * pay one year; ties go to the single-from album, then main album <
    * soundtrack < compilation < other, then the lowest id. */
  private def canonicalAlbums(
      rgById: Map[Int, Rg], releases: Vector[Release], tracks: Vector[(Int, Int)],
      recordings: Vector[Recording], singleFrom: Vector[(Int, Int)],
      exported: Set[Int]): Map[Int, (Int, Boolean)] = {
    val relById = releases.map(r => r.id -> r).toMap
    val sfAlbumsBySingleKey: Map[(Int, String), Set[Int]] = singleFrom.map { case (sg, alb) =>
      val s = rgById(sg)
      ((s.credit, key(s.name)), alb)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val recById = recordings.map(r => r.id -> r).toMap
    tracks.groupBy(_._2).iterator.flatMap { case (recId, ts) =>
      val rec = recById(recId)
      if (!exported(rec.artist)) None
      else {
        val years = ts.map(t => relById(t._1))
          .filter(_.status == MbConstants.ReleaseStatusOfficial)
          .groupBy(_.rg).map { case (rg, rs) => rg -> rs.map(_.year).min }
        val cands = years.toSeq.flatMap { case (rgId, year) =>
          val rg = rgById(rgId)
          val credited = rg.credit == rec.artist // solo credits carry the artist's id
          val isSoundtrack = rg.tpe == MbConstants.TypeAlbum &&
            rg.secondary.contains(MbConstants.SecondarySoundtrack)
          if (!credited && !isSoundtrack) None
          else {
            val sf = sfAlbumsBySingleKey.get((rec.artist, key(rec.title))).exists(_.contains(rgId))
            val main = rg.tpe == MbConstants.TypeAlbum && rg.secondary.isEmpty
            val typePrio =
              if (main) 1 else if (isSoundtrack) 2
              else if (rg.tpe == MbConstants.TypeAlbum &&
                rg.secondary.contains(MbConstants.SecondaryCompilation)) 3
              else 4
            val yearValue = if (sf || main) year else year + 1
            Some(((yearValue, if (sf) 0 else 1, typePrio, rgId), (rgId, sf)))
          }
        }
        if (cands.isEmpty) None else Some(recId -> cands.minBy(_._1)._2)
      }
    }.toMap
  }

  /** The model as the 25 MusicBrainz source tables. */
  def sources(spark: SparkSession, m: Model): Map[String, DataFrame] = {
    import spark.implicits._
    val all = m.artists ++ m.artists.flatMap(a => a.oldName.map { case (id, n) =>
      Artist(id, n, 2, 0, None, None)
    }) :+ m.variousArtist
    val solo = m.artists.map(a => (a.id, a.id, 0, a.name))
    val duo = m.duoCredits.flatMap { case (c, main, second) =>
      Seq((c, main, 0, m.artists(main - 1).name), (c, second, 1, m.artists(second - 1).name))
    }
    val various = Seq((m.variousCredit, m.variousArtist.id, 0, m.variousArtist.name))
    val renames = m.artists.flatMap(a => a.oldName.map { case (old, _) => (LinkRename, old, a.id) })
    // links the rename filter must reject: wrong attribute, wrong type
    val decoys = m.artists.filter(_.id % 97 == 0).map(a => (LinkNotRename, a.id, a.id % m.artists.size + 1)) ++
      m.artists.filter(_.id % 89 == 0).map(a => (LinkOther, a.id, a.id % m.artists.size + 1))
    val mediumOf = (rel: Int) => rel + 20000000
    val works = m.recordings.flatMap(_.work)
    Map(
      "artist" -> all.map(a => (a.id, s"a-${a.id}", a.name, a.area)).toDF("id", "gid", "name", "area"),
      "area" -> (1 to 110).toDF("id"),
      "iso_3166_1" -> ((1 to 10).map(i => (i, if (i == 1) "BE" else s"C$i"))).toDF("area", "code"),
      "l_area_area" -> (11 to 110).map(i => (MbConstants.AreaPartOfLink, i - 10, i))
        .toDF("link", "entity0", "entity1"),
      "l_artist_url" -> all.flatMap(a => Seq.fill(a.urls)(a.id)).toDF("entity0"),
      "artist_alias" -> m.artists.flatMap(a => a.alias.map(n => (a.id, n))).toDF("artist", "name"),
      "artist_credit" -> (m.artists.map(_.id) ++ m.duoCredits.map(_._1) :+ m.variousCredit).toDF("id"),
      "artist_credit_name" -> (solo ++ duo ++ various).toDF("artist_credit", "artist", "position", "name"),
      "l_artist_artist" -> (renames ++ decoys).toDF("link", "entity0", "entity1"),
      "link" -> Seq((LinkRename, MbConstants.ArtistRenameLinkType),
        (LinkNotRename, MbConstants.ArtistRenameLinkType), (LinkOther, 5),
        (LinkSingleFrom, MbConstants.SingleFromLinkType)).toDF("id", "link_type"),
      "link_attribute" -> Seq((LinkRename, MbConstants.ArtistRenameAttributeType), (LinkNotRename, 7))
        .toDF("link", "attribute_type"),
      "release_group" -> m.rgs.map(r => (r.id, r.gid, r.name, r.tpe, r.credit))
        .toDF("id", "gid", "name", "type", "artist_credit"),
      "release_group_secondary_type_join" -> m.rgs.flatMap(r => r.secondary.map(s => (r.id, s)))
        .toDF("release_group", "secondary_type"),
      "l_release_group_release_group" -> m.singleFrom.map { case (s, a) => (LinkSingleFrom, s, a) }
        .toDF("link", "entity0", "entity1"),
      "release" -> m.releases.map(r => (r.id, r.rg, r.status)).toDF("id", "release_group", "status"),
      "release_country" -> m.releases.map(r => (r.id, r.year)).toDF("release", "date_year"),
      "medium" -> m.releases.map(r => (mediumOf(r.id), r.id)).toDF("id", "release"),
      "track" -> m.tracks.map { case (rel, rec) => (mediumOf(rel), rec) }.toDF("medium", "recording"),
      "recording" -> m.recordings.map(r => (r.id, r.gid, r.title, r.credit))
        .toDF("id", "gid", "name", "artist_credit"),
      "recording_alias" -> m.recordings.flatMap(r => r.aliases.map(n => (r.id, n))).toDF("recording", "name"),
      "l_recording_work" -> m.recordings.flatMap(r => r.work.map(w => (r.id, w.id, 1)))
        .toDF("entity0", "entity1", "link_order"),
      "work" -> works.map(w => (w.id, w.gid, w.name)).toDF("id", "gid", "name"),
      "work_alias" -> works.map(w => (w.id, w.alias)).toDF("work", "name"),
      "language" -> Languages.toDF("id", "iso_code_1", "iso_code_3"),
      "work_language" -> works.flatMap(w => w.languages.map(l => (w.id, l))).toDF("work", "language"))
  }

  /** The export the pipeline must produce from [[sources]], derived from the
    * model alone: the chart workload serves it, and the generate workload
    * compares the pipeline's output with it. */
  def export(spark: SparkSession, m: Model): GenerateDataset.Export = {
    val t = exportRows(m).map { case (name, (schema, rows)) =>
      name -> spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    }
    GenerateDataset.Export(t("mb_artist"), t("mb_artist_alias"), t("mb_album"), t("mb_song"),
      t("mb_song_alias"))
  }

  /** [[export]] as rows with their schema, per table name. */
  def exportRows(m: Model): Map[String, (StructType, Seq[Row])] = {
    def frame(rows: Seq[Row], fields: (String, DataType)*): (StructType, Seq[Row]) =
      (StructType(fields.map { case (n, t) => StructField(n, t) }), rows)
    def country(area: Int): String = {
      val depth = (area - 1) / 10
      val root = (area - 1) % 10 + 1
      if (depth > 3) null else if (root == 1) "be" else s"c$root"
    }
    val relsOf = m.releases.groupBy(_.rg)
    val tracksOf = m.tracks.groupBy(_._2).map { case (rec, ts) => rec -> ts.size }
    val songs = m.recordings.filter(r => m.canonical.contains(r.id))
    val mbArtist = frame(m.artists.filter(a => m.exported(a.id)).map(a =>
      Row(a.id, s"a-${a.id}", a.name, country(a.area), a.urls)),
      "id" -> IntegerType, "mb_id" -> StringType, "name" -> StringType,
      "country_id" -> StringType, "score" -> IntegerType)
    val mbAlbum = frame(m.canonical.values.toSeq.distinct.sorted.map { id =>
      val rg = m.rgById(id)
      val album = rg.tpe == MbConstants.TypeAlbum
      Row(id, rg.gid, rg.name, relsOf(id).map(_.year).min,
        album && rg.secondary.contains(MbConstants.SecondarySoundtrack),
        rg.tpe == MbConstants.TypeSingle, album && rg.secondary.isEmpty)
    }, "id" -> IntegerType, "mb_id" -> StringType, "title" -> StringType,
      "release_year" -> IntegerType, "is_soundtrack" -> BooleanType,
      "is_single" -> BooleanType, "is_main_album" -> BooleanType)
    def language(w: Work): String = w.languages.sorted.collectFirst {
      case LangEn => "en"
      case LangNl => "nl"
      case LangZxx => "zxx"
    }.orNull
    val mbSong = frame(songs.map { r =>
      Row(r.id, r.gid, r.work.map(_.gid).orNull, r.title, r.artist,
        r.second.map(Int.box).orNull, m.canonical(r.id), m.chosenSingleFrom(r.id),
        r.work.map(language).orNull, tracksOf(r.id))
    }, "id" -> IntegerType, "mb_id" -> StringType, "mb_work_id" -> StringType,
      "title" -> StringType, "artist_id" -> IntegerType, "second_artist_id" -> IntegerType,
      "album_id" -> IntegerType, "is_single" -> BooleanType, "language" -> StringType,
      "score" -> IntegerType)
    val mbArtistAlias = frame(m.artists.filter(a => m.exported(a.id)).flatMap { a =>
      // credit names repeat the artist's own name, so they add no key
      (Seq(a.name) ++ a.alias ++ a.oldName.map(_._2))
        .map(key).distinct.map(k => Row(a.id, k))
    }, "artist_id" -> IntegerType, "alias" -> StringType)
    val mbSongAlias = frame(songs.flatMap { r =>
      (Seq(r.title) ++ r.aliases ++ r.work.toSeq.flatMap(w => Seq(w.name, w.alias)))
        .map(key).distinct.map(k => Row(r.id, k))
    }, "song_id" -> IntegerType, "alias" -> StringType)
    Map("mb_artist" -> mbArtist, "mb_artist_alias" -> mbArtistAlias, "mb_album" -> mbAlbum,
      "mb_song" -> mbSong, "mb_song_alias" -> mbSongAlias)
  }

  /** Write the source tables as parquet under `dir` (one directory each). */
  def writeSources(spark: SparkSession, m: Model, dir: String): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    // 25 small write jobs: run them from a few threads at once
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val writes = sources(spark, m).map { case (name, df) =>
        Future(df.write.mode("overwrite").parquet(s"$dir/$name"))
      }
      writes.foreach(Await.result(_, Duration.Inf))
    } finally pool.shutdown()
  }

  /** Re-open written source tables as the pipeline's input bundle. */
  def readSources(spark: SparkSession, dir: String): MbSources = {
    def rd(name: String): DataFrame = spark.read.parquet(s"$dir/$name")
    MbSources(
      artist = rd("artist"), area = rd("area"), iso31661 = rd("iso_3166_1"),
      lAreaArea = rd("l_area_area"), lArtistUrl = rd("l_artist_url"),
      artistAlias = rd("artist_alias"), artistCredit = rd("artist_credit"),
      artistCreditName = rd("artist_credit_name"), lArtistArtist = rd("l_artist_artist"),
      link = rd("link"), linkAttribute = rd("link_attribute"),
      releaseGroup = rd("release_group"),
      releaseGroupSecondaryTypeJoin = rd("release_group_secondary_type_join"),
      lReleaseGroupReleaseGroup = rd("l_release_group_release_group"),
      release = rd("release"), releaseCountry = rd("release_country"),
      medium = rd("medium"), track = rd("track"), recording = rd("recording"),
      recordingAlias = rd("recording_alias"), lRecordingWork = rd("l_recording_work"),
      work = rd("work"), workAlias = rd("work_alias"), language = rd("language"),
      workLanguage = rd("work_language"))
  }

  /** One chart query with the album the matcher must return (None = miss). */
  final case class Query(id: Long, artist: String, artist2: Option[String],
      title: String, kind: String, expected: Option[String])

  /** Fresh seeded chart batches over an exported model: queries skew
    * toward popular artists (Zipf over a seeded popularity order).
    *
    * The kinds, per mille of queries. Only the duo share is measured: 84
    * of the golden chart CSV's 2954 rows have a second artist (FIXTURES.md
    * §3), 28‰. The repository records nothing else about real chart
    * traffic, so the other shares and the Zipf skew are assumptions, set so
    * that every branch of the matcher gets a few queries in each batch. */
  final class Chart(m: Model, seed: Long) {
    private val rnd = new Random(seed * 31 + 7)
    private val popular = rnd.shuffle(m.songsByArtist.keys.toVector.sorted)
    private val zipfCdf = {
      val w = popular.indices.map(i => 1.0 / (i + 1))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
    }
    private val duoSongs = m.recordings.filter(r => r.second.isDefined && m.canonical.contains(r.id))
    private val renamed = m.artists.filter(a => a.oldName.isDefined && m.songsByArtist.contains(a.id))
    private var nextId = 0L

    private def popularArtist(): Int = {
      val i = java.util.Arrays.binarySearch(zipfCdf, rnd.nextDouble())
      popular(math.min(popular.size - 1, if (i >= 0) i else -i - 1))
    }
    private def typo(s: String, from: Int): String = {
      // swap one tag character for another hex digit: Levenshtein 1
      val i = from + rnd.nextInt(s.length - from)
      val c = s(i)
      val alphabet = if (c.isDigit || ('A' to 'F').contains(c)) Hex else "abcdefghijklmnopqrstuvwxyz"
      var r = c
      while (r == c || r == c.toUpper || r == c.toLower) r = alphabet(rnd.nextInt(alphabet.length))
      s.updated(i, r)
    }
    private def album(rec: Recording): Option[String] = Some(m.rgById(m.canonical(rec.id)).gid)

    def batch(size: Int): Vector[Query] = Vector.fill(size) {
      nextId += 1
      val a = m.artistById(popularArtist())
      val songs = m.songsByArtist(a.id)
      val s = songs(rnd.nextInt(songs.size))
      rnd.nextInt(1000) match {
        case k if k < 422 => Query(nextId, a.name, None, s.title, "exact", album(s))
        case k if k < 572 => Query(nextId, typo(a.name, a.name.length - 8), None, s.title, "artist_typo", album(s))
        case k if k < 722 => Query(nextId, a.name, None, typo(s.title, s.title.length - 6), "title_typo", album(s))
        case k if k < 822 => Query(nextId, a.name, None, s.title.dropRight(2), "title_prefix", album(s))
        case k if k < 850 && duoSongs.nonEmpty =>
          val d = duoSongs(rnd.nextInt(duoSongs.size))
          Query(nextId, m.artistById(d.artist).name, d.second.map(b => m.artistById(b).name),
            d.title, "duo", album(d))
        case k if k < 900 && renamed.nonEmpty =>
          val r = renamed(rnd.nextInt(renamed.size))
          val rs = m.songsByArtist(r.id)
          val song = rs(rnd.nextInt(rs.size))
          Query(nextId, r.oldName.get._2, None, song.title, "renamed", album(song))
        case _ =>
          val title = s"${MissWords(rnd.nextInt(MissWords.size)).capitalize} " +
            s"${MissWords(rnd.nextInt(MissWords.size)).capitalize} ${s.title.takeRight(6)}"
          Query(nextId, a.name, None, title, "unknown", None)
      }
    }
  }

  def queriesFrame(spark: SparkSession, qs: Seq[Query]): DataFrame = {
    import spark.implicits._
    qs.map(q => (q.id, q.artist, q.artist2, q.title)).toDF("query_id", "artist_name", "artist2_name", "title")
  }
}
