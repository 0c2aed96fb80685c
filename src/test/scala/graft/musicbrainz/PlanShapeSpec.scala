package graft.musicbrainz

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.CoreBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate, RepartitionOperation, Union, Window}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeLike}

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
    val (album, song) = CanonicalOps.exportTables(CanonicalOps.bestMatches(src, artists))
    assertNoQuadraticJoin(album, "mb_album")
    assertNoQuadraticJoin(song, "mb_song")
    assertNoQuadraticJoin(SongAliasOps.songAliases(src, song), "mb_song_alias")
  }

  test("candidates builds its spine once: one release_country read, no union") {
    val src = MbFixture.sources(spark)
    val plan = CanonicalOps.candidates(src, ArtistOps.mbArtist(src)).queryExecution.optimizedPlan
    // date_year is a column of release_country alone
    val reads = plan.collectLeaves().count(_.output.exists(_.name == "date_year"))
    assert(reads == 1, s"candidates reads release_country $reads times:\n$plan")
    assert(plan.collectFirst { case u: Union => u }.isEmpty, s"candidates plans a union:\n$plan")
  }

  /** `p` and every plan it reaches through its children and the plans it
    * embeds: via `innerChildren` a cached relation's cached plan and
    * subqueries; an adaptive root's current plan; a query stage's plan. */
  private def reachable(p: QueryPlan[_]): Seq[QueryPlan[_]] = {
    val embedded = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _ => Nil
    }
    p +: (p.children ++ p.innerChildren ++ embedded).flatMap {
      case c: QueryPlan[_] => reachable(c)
      case _ => Nil
    }
  }

  test("export sinks plan over hinge leaves, never over an upstream hinge's DAG") {
    val e = GenerateDataset(MbFixture.sources(spark))
    // source columns only a hinge's upstream DAG reads: iso_3166_1.code
    // (mb_artist's country walk) and release_country.date_year (the
    // candidates behind best)
    val upstream = Set("code", "date_year")
    try {
      Seq("mb_artist" -> e.mbArtist, "mb_artist_alias" -> e.mbArtistAlias,
        "mb_album" -> e.mbAlbum, "mb_song" -> e.mbSong, "mb_song_alias" -> e.mbSongAlias)
        .foreach { case (name, df) =>
          val plan = df.queryExecution.executedPlan
          val nodes = reachable(plan)
          val nested = nodes.collect {
            case r: InMemoryRelation
                if reachable(r.cachedPlan).exists(_.isInstanceOf[InMemoryRelation]) => r
          }
          assert(nested.isEmpty, s"$name plans over a cache nested in a cache:\n$plan")
          val leafColumns = nodes.filter(_.children.isEmpty).flatMap(_.output.map(_.name))
          val leaked = leafColumns.filter(upstream)
          assert(leaked.isEmpty, s"$name reaches an upstream hinge's sources $leaked:\n$plan")
          // mb_song already holds the recording's id and name, so the
          // song-alias sink never joins back to `recording` — the one
          // source it would read `gid` from
          if (name == "mb_song_alias")
            assert(!leafColumns.contains("gid"), s"$name re-joins recording by gid:\n$plan")
        }
    } finally e.unpersist()
  }

  test("batch matcher plan contains no cartesian / nested-loop joins") {
    val queries = Seq((1, "Nirvana", Option.empty[String], "Come as You Are"))
      .toDF("query_id", "artist_name", "artist2_name", "title")
    val m = MatchOps.matchSongs(queries, MbFixtureExport.cached(spark))
    assertNoQuadraticJoin(m, "matchSongs")
  }

  test("batch matcher explodes the artist alias table into deletion variants once") {
    // a duo query, so the batch carries whole-name AND split probes; on the
    // join path, the one that explodes the alias table at all
    val queries = Seq((1, "Alpha", Option("Beta"), "Duet Song"))
      .toDF("query_id", "artist_name", "artist2_name", "title")
    val plan = OnJoinPath(spark) {
      MatchOps.matchSongs(queries, MbFixtureExport.cached(spark)).queryExecution.optimizedPlan
    }
    val aliasExplodes = plan.collect {
      case g: Generate if g.generator.exists {
        case d: DeletionVariants => d.references.exists(_.name == "alias")
        case _ => false
      } => g
    }
    assert(aliasExplodes.size == 1,
      s"mb_artist_alias exploded ${aliasExplodes.size} times, expected once:\n$plan")
  }

  test("index-path batch: no broadcast exchange, no alias explode, no export table scan") {
    val queries = Seq((1, "Alpha", Option("Beta"), "Duet Song"), (2, "Nirvana", None, "Come as"))
      .toDF("query_id", "artist_name", "artist2_name", "title")
    val export = MbFixtureExport.cached(spark)
    assert(export.matcherIndex.isDefined, "the fixture export does not pass the index gate")
    val m = MatchOps.matchSongs(queries, export)
    assert(m.count() == 2)
    val plan = m.queryExecution.optimizedPlan
    val explodes = plan.collect {
      case g: Generate if g.generator.exists(_.isInstanceOf[DeletionVariants]) => g
    }
    assert(explodes.isEmpty, s"the batch explodes deletion variants:\n$plan")
    // the query frame is the only leaf: no mb_* table is read
    val leaves = plan.collectLeaves()
    assert(leaves.size == 1 && leaves.head.output.exists(_.name == "query_id"),
      s"the batch reads more than its queries:\n$plan")
    val physical = reachable(m.queryExecution.executedPlan)
    assert(!physical.exists(_.isInstanceOf[BroadcastExchangeExec]),
      s"the batch broadcasts:\n${m.queryExecution.executedPlan}")

    // one narrow projection of the query frame: the ranking is one
    // expression, so no operator regroups the batch's rows
    val dir = java.nio.file.Files.createTempDirectory("graft_plan_queries").toString + "/q"
    queries.write.parquet(dir)
    val fileQueries = spark.read.parquet(dir)
    for ((what, q) <- Seq("local" -> queries, "parquet" -> fileQueries)) {
      val optimized = MatchOps.matchSongs(q, export).queryExecution.optimizedPlan
      val wide = optimized.collect {
        case p @ (_: Window | _: Aggregate | _: Generate | _: RepartitionOperation) => p.nodeName
      }
      assert(wide.isEmpty, s"the $what batch plans $wide:\n$optimized")
    }
    // a local query frame folds into a local relation while planning; a
    // file-backed one is one scan-and-project job
    val (localJobs, localPlan) = jobsOf(MatchOps.matchSongs(queries, export))
    assert(localJobs == 0, s"the local batch ran $localJobs jobs:\n$localPlan")
    val (fileJobs, filePlan) = jobsOf(MatchOps.matchSongs(fileQueries, export))
    assert(fileJobs <= 1, s"the parquet batch ran $fileJobs jobs:\n$filePlan")
    assert(!reachable(filePlan).exists(_.isInstanceOf[ShuffleExchangeLike]),
      s"the parquet batch exchanges:\n$filePlan")
  }

  /** Jobs started by `df.collect()`, and its executed plan. */
  private def jobsOf(df: DataFrame): (Int, SparkPlan) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    CoreBridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      df.collect()
      CoreBridge.drainListenerBus(sc)
      (jobs.get(), df.queryExecution.executedPlan)
    } finally sc.removeSparkListener(listener)
  }
}
