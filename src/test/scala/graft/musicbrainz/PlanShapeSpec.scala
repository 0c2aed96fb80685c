package graft.musicbrainz

import org.apache.spark.sql.catalyst.plans.logical.Generate

import graft.SparkSpec
import graft.functions.DeletionVariants

/** Plan-shape regression guards: the generation DAG and the batch matcher
  * are join-heavy enough that one bad refactor (a dropped join key, an
  * accidental both-sides filter) silently degrades to a cartesian /
  * nested-loop plan that "works" on the fixture and dies at scale.
  */
class PlanShapeSpec extends SparkSpec {
  import spark.implicits._

  private def assertNoQuadraticJoin(df: org.apache.spark.sql.DataFrame, what: String): Unit = {
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"$what has a cartesian product:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"$what has a nested-loop join:\n$plan")
  }

  test("dataset generation plans contain no cartesian / nested-loop joins") {
    val src = MbFixture.sources(spark)
    val artists = ArtistOps.mbArtist(src)
    assertNoQuadraticJoin(artists, "mb_artist")
    assertNoQuadraticJoin(ArtistOps.artistAliases(src, artists), "mb_artist_alias")
    val (album, song, _) = CanonicalOps.exportTables(src, artists)
    assertNoQuadraticJoin(album, "mb_album")
    assertNoQuadraticJoin(song, "mb_song")
    assertNoQuadraticJoin(SongAliasOps.songAliases(src, song), "mb_song_alias")
  }

  test("batch matcher plan contains no cartesian / nested-loop joins") {
    val queries = Seq((1, "Nirvana", Option.empty[String], "Come as You Are"))
      .toDF("query_id", "artist_name", "artist2_name", "title")
    val m = MatchOps.matchSongs(queries, MbFixtureExport.cached(spark))
    assertNoQuadraticJoin(m, "matchSongs")
  }

  test("batch matcher explodes the artist alias table into deletion variants once") {
    // a duo query, so the batch carries whole-name AND split probes
    val queries = Seq((1, "Alpha", Option("Beta"), "Duet Song"))
      .toDF("query_id", "artist_name", "artist2_name", "title")
    val plan = MatchOps.matchSongs(queries, MbFixtureExport.cached(spark))
      .queryExecution.optimizedPlan
    val aliasExplodes = plan.collect {
      case g: Generate if g.generator.exists {
        case d: DeletionVariants => d.references.exists(_.name == "alias")
        case _ => false
      } => g
    }
    assert(aliasExplodes.size == 1,
      s"mb_artist_alias exploded ${aliasExplodes.size} times, expected once:\n$plan")
  }
}
