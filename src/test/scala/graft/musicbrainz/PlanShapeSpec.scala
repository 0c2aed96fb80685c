package graft.musicbrainz

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.CoreBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, InitCap, LambdaFunction, Lower, RegExpReplace, Upper}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate, LogicalPlan, RepartitionOperation, Union, Window}
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
    val fileQueries = written(queries)
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

  /** `df` written as parquet and read back: a query frame that does not
    * fold into a local relation. */
  private def written(df: DataFrame): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_plan_queries").toString + "/q"
    df.write.parquet(dir)
    spark.read.parquet(dir)
  }

  /** Every expression `plan`'s operators hold, at any depth, that `pf` matches. */
  private def exprs[A](plan: LogicalPlan)(pf: PartialFunction[Expression, A]): Seq[A] =
    plan.flatMap(_.expressions.flatMap(_.collect(pf)))

  /** Case mappings and per-row regex in `plan`'s expressions: `lower`,
    * `upper` and `initcap` take Spark's ICU path, whose first call in a
    * JVM initializes a table over every code point (1.3 s), and
    * `regexp_replace` runs a regex per row. */
  private def icuOrRegex(plan: LogicalPlan): Seq[String] = exprs(plan) {
    case e @ (_: Lower | _: Upper | _: InitCap | _: RegExpReplace) => e.prettyName
  }

  test("the export's five tables and an index-path batch plan no case mapping and no regex") {
    val src = MbFixture.sources(spark)
    val artists = ArtistOps.mbArtist(src)
    val (album, song) = CanonicalOps.exportTables(CanonicalOps.bestMatches(src, artists))
    Seq("mb_artist" -> artists, "mb_artist_alias" -> ArtistOps.artistAliases(src, artists),
      "mb_album" -> album, "mb_song" -> song, "mb_song_alias" -> SongAliasOps.songAliases(src, song))
      .foreach { case (name, df) =>
        val plan = df.queryExecution.optimizedPlan
        assert(icuOrRegex(plan).isEmpty, s"$name plans ${icuOrRegex(plan)}:\n$plan")
      }
    val queries = Seq((1, "Alpha", Option("Beta"), "Duet Song (Live)"), (2, "Motörhead", None, "Ace"))
      .toDF("query_id", "artist_name", "artist2_name", "title")
    val export = MbFixtureExport.cached(spark)
    assert(export.matcherIndex.isDefined, "the fixture export does not pass the index gate")
    // a local batch folds its expressions into a local relation while it
    // plans: its analyzed plan holds them; a file-backed one keeps them
    for ((what, plan) <- Seq(
        "local" -> MatchOps.matchSongs(queries, export).queryExecution.analyzed,
        "parquet" -> MatchOps.matchSongs(written(queries), export).queryExecution.optimizedPlan))
      assert(icuOrRegex(plan).isEmpty, s"the $what batch plans ${icuOrRegex(plan)}:\n$plan")
  }

  test("a file-backed batch ranks each query once, on both sides of the index gate") {
    val queries = Seq((1, "Alpha", Option("Beta"), "Duet Song"), (2, "Nirvana", None, "Come as"))
      .toDF("query_id", "artist_name", "artist2_name", "title")
    val fileQueries = written(queries)
    val export = MbFixtureExport.cached(spark)
    // one ranking node per copy of the ranking
    def rankings(plan: LogicalPlan) = exprs(plan) { case r: RankCandidates => r }.size
    val want = MatchOps.matchSongs(queries, export).collect().toSet
    for (onJoin <- Seq(false, true)) {
      def run[A](body: => A): A = if (onJoin) OnJoinPath(spark)(body) else body
      run {
        assert(export.matcherIndex.isDefined != onJoin)
        val m = MatchOps.matchSongs(fileQueries, export)
        val plan = m.queryExecution.optimizedPlan
        assert(rankings(plan) == 1, s"join path $onJoin: ${rankings(plan)} rankings:\n$plan")
        assert(m.collect().toSet == want, s"join path $onJoin")
      }
    }
  }

  test("a local index-path batch analyzes at most 200 expression nodes and no lambda") {
    val queries = Seq((1, "Alpha", Option("Beta"), "Duet Song"), (2, "Nirvana", None, "Come as"))
      .toDF("query_id", "artist_name", "artist2_name", "title")
    val export = MbFixtureExport.cached(spark)
    assert(export.matcherIndex.isDefined, "the fixture export does not pass the index gate")
    // what the analyzer resolves and ConvertToLocalRelation folds in every
    // batch: the planning cost that does not depend on the batch's size
    val plan = MatchOps.matchSongs(queries, export).queryExecution.analyzed
    val nodes = exprs(plan) { case e => e }.size
    assert(nodes <= 200, s"the batch analyzes $nodes expression nodes:\n$plan")
    val lambdas = exprs(plan) { case l: LambdaFunction => l }
    assert(lambdas.isEmpty, s"the batch plans ${lambdas.size} lambdas:\n$plan")
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
