package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.Locale

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.perfbench.SparkInternals
import org.apache.spark.storage.StorageLevel

import graft.functions.normalize
import graft.musicbrainz.{ArtistOps, CanonicalOps, GenerateDataset, MatchOps, MbSources, SongAliasOps}
import graft.operators.SimilarityJoin

/** The benchmark's program: one workload, one seed, a fixed measuring time.
  *
  *   generate  seeded sources → GenerateDataset.apply → GenerateDataset.write
  *             (five parquet sinks); one operation is one full pass.
  *   chart     an export built in set-up, then a closed loop with one client
  *             sending fresh 100-query batches through MatchOps.matchSongs;
  *             one operation is one batch.
  *
  * With `--trace 0` it reports the end-to-end metrics, with `--trace 1`
  * the per-layer ones. Every line before the last is for people; the last
  * line is the JSON result.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      scale: String, corrupt: Boolean)

  /** Sizes per scale: artists in the generate corpus, artists behind the
    * chart export, and queries per chart batch. */
  final case class Scale(generateArtists: Int, chartArtists: Int, batch: Int)
  val Scales = Map(
    "full" -> Scale(generateArtists = 5000, chartArtists = 5000, batch = 100),
    "toy" -> Scale(generateArtists = 300, chartArtists = 300, batch = 20))

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val o = Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m.getOrElse("scale", "full"), m.getOrElse("corrupt", "0") == "1")
    require(Set("generate", "chart")(o.workload), s"unknown workload ${o.workload}")
    require(Scales.contains(o.scale), s"unknown scale ${o.scale}")
    o
  }

  /** A metric as printed: value and unit. */
  final case class M(value: Double, unit: String)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val scale = Scales(o.scale)
    val base = Paths.get(".bench_build").toAbsolutePath
    val work = base.resolve("runs").resolve(s"${o.workload}-${ProcessHandle.current().pid()}")
    val cpus = Runtime.getRuntime.availableProcessors()
    val jvmUpS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // process start to a ready session
    val sessionS = jvmUpS + (System.nanoTime() - t0) / 1e9
    val run = new Run(spark, o, scale, work, sessionS)
    val out = try run.go() finally {
      spark.stop()
      deleteTree(work)
    }
    val metrics = out.metrics + ("bench.session_start_s" -> M(sessionS, "s"))
    val wanted = if (o.trace) Metrics.perLayer else Metrics.endToEnd
    val missing = wanted.keySet -- metrics.keySet
    require(missing.isEmpty, s"metrics not measured: ${missing.mkString(", ")}")
    out.failures.foreach(f => println(s"# failure: $f"))
    // people see this mode's metrics plus the host and bench context
    metrics.toSeq.filter { case (k, _) => wanted.contains(k) || k.startsWith("host.") || k.startsWith("bench.") }
      .sortBy(_._1).foreach { case (k, m) =>
      println(String.format(Locale.ROOT, "# %-48s %.6g %s", k, Double.box(m.value), m.unit))
    }
    println(f"# JVM up ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1f s")
    val js = wanted.keys.toSeq.sorted.map { k =>
      val m = metrics(k)
      s""""$k":{"value":${fmt(m.value)},"unit":"${m.unit}"}"""
    }.mkString("{", ",", "}")
    println(s"""{"correct":${out.failed == 0},"attempted":${out.attempted},"failed":${out.failed},"metrics":$js}""")
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else String.format(Locale.ROOT, "%.9g", Double.box(v)).trim

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p)
    try all.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.deleteIfExists(x))
    finally all.close()
  }

  final case class Outcome(metrics: Map[String, M], attempted: Int, failed: Int, failures: Seq[String])
}

/** The metric names and units each mode reports; BENCHMARK.json lists the
  * same names. Layers a workload does not exercise report 0. */
object Metrics {
  val endToEnd: Map[String, String] = Map(
    "setup_s" -> "s", "op_p50_ms" -> "ms")

  val tables = Seq("mb_artist", "mb_album", "mb_song", "mb_artist_alias", "mb_song_alias")
  val kernels = Seq("identity", "search_key", "unaccent", "deletion_variants", "lev1_witness")
  val sparkCounters: Map[String, String] = Map(
    "jobs" -> "count", "stages" -> "count", "tasks" -> "count",
    "shuffle_write_bytes" -> "bytes", "shuffle_read_bytes" -> "bytes", "spill_bytes" -> "bytes",
    "input_bytes" -> "bytes", "output_bytes" -> "bytes", "executor_run_ms" -> "ms",
    "executor_cpu_ms" -> "ms", "gc_ms" -> "ms", "peak_exec_mem_bytes" -> "bytes",
    "plan_ms" -> "ms", "exchanges" -> "count", "broadcasts" -> "count",
    "core_busy_frac" -> "fraction", "persisted_rdds_after" -> "count",
    "cache_entries_after" -> "count")

  val perLayer: Map[String, String] =
    sparkCounters.map { case (k, u) => s"spark.$k" -> u } ++
    Map(
      "musicbrainz.generate.build_ms" -> "ms",
      "musicbrainz.generate.hinge_cache_bytes" -> "bytes",
      "musicbrainz.generate.mb_artist_ms" -> "ms",
      "musicbrainz.generate.best_matches_ms" -> "ms",
      "musicbrainz.generate.artist_aliases_ms" -> "ms",
      "musicbrainz.generate.song_aliases_ms" -> "ms",
      "musicbrainz.generate.candidates_rows" -> "count",
      "musicbrainz.generate.candidate_yield" -> "fraction",
      "musicbrainz.match.search_artists_ms" -> "ms",
      "musicbrainz.match.scored_candidates_ms" -> "ms",
      "musicbrainz.match.top_one_ms" -> "ms",
      "musicbrainz.match.top_one_self_ms" -> "ms",
      "musicbrainz.match.artist_pairs" -> "count",
      "musicbrainz.match.scored_candidates" -> "count",
      "musicbrainz.match.winners" -> "count",
      "musicbrainz.match.winner_yield" -> "fraction",
      "musicbrainz.match.phase1_share" -> "fraction",
      "musicbrainz.match.correct" -> "count",
      "musicbrainz.match.missing" -> "count",
      "musicbrainz.match.wrong" -> "count",
      "musicbrainz.match.warmup_batch_ms" -> "ms",
      "host.io_mb_per_s.pre" -> "MB/s",
      "host.io_mb_per_s.post" -> "MB/s",
      "trace.overhead_frac" -> "fraction",
      "bench.failed_frac" -> "fraction",
      "bench.ops" -> "count",
      "bench.session_start_s" -> "s",
      "jvm.peak_heap_mb" -> "MB") ++
    tables.flatMap(t => Seq(s"musicbrainz.generate.sink_ms.$t" -> "ms",
      s"musicbrainz.generate.sink_rows.$t" -> "count")) ++
    kernels.map(k => s"functions.${k}_ns_per_row" -> "ns")
}

/** One run of one workload. */
final class Run(spark: SparkSession, o: Main.Opts, scale: Main.Scale, work: Path, sessionS: Double) {
  import Main.{M, median}

  private val sc = spark.sparkContext
  private var peakHeap = 0L
  private val tasks = new TaskCounters
  private val plans = new PlanCounters
  private val trace = new Tracer
  private val metrics = mutable.LinkedHashMap.empty[String, M]
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0
  private var failed = 0
  private val srcDir = work.resolve("src").toString
  private val outDir = work.resolve("export").toString
  private val probeDir = work.resolve("spark-local").toString

  private def put(k: String, v: Double): Unit = metrics(k) = M(v, Metrics.endToEnd.getOrElse(k,
    Metrics.perLayer.getOrElse(k, throw new IllegalStateException(s"undeclared metric $k"))))

  private def seconds[T](f: => T): (T, Double) = {
    val t = System.nanoTime(); val r = f; (r, (System.nanoTime() - t) / 1e9)
  }

  private def tracing(on: Boolean): Unit =
    if (on) { sc.addSparkListener(tasks); spark.listenerManager.register(plans) }
    else { sc.removeSparkListener(tasks); spark.listenerManager.unregister(plans) }

  private def resetCounters(): Unit = {
    SparkInternals.drain(sc)
    tasks.reset(); plans.reset()
  }

  /** Spark counters of the operation just finished, per-op records kept by name. */
  private val opCounters = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private def recordCounters(wallS: Double): Unit = {
    SparkInternals.drain(sc)
    val t = tasks.snapshot()
    val c = t ++ plans.snapshot() +
      ("core_busy_frac" -> t("executor_run_ms") / (wallS * 1000 * sc.defaultParallelism))
    c.foreach { case (k, v) => opCounters.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v }
  }

  def go(): Main.Outcome = {
    put("host.io_mb_per_s.pre", graft.tools.IoProbe.writeMbps(probeDir, 128))
    o.workload match {
      case "generate" => generate()
      case "chart" => chart()
    }
    put("host.io_mb_per_s.post", graft.tools.IoProbe.writeMbps(probeDir, 128))
    put("bench.failed_frac", if (attempted == 0) 0.0 else failed.toDouble / attempted)
    put("bench.ops", attempted.toDouble)
    put("jvm.peak_heap_mb", peakHeap / 1e6)
    Seq("musicbrainz.generate.", "musicbrainz.match.", "spark.", "functions.")
      .foreach(p => Metrics.perLayer.keys.filter(_.startsWith(p)).foreach(k => if (!metrics.contains(k)) put(k, 0.0)))
    opCounters.foreach { case (k, vs) => if (Metrics.sparkCounters.contains(k)) put(s"spark.$k", median(vs.toSeq)) }
    if (!metrics.contains("trace.overhead_frac")) put("trace.overhead_frac", 0.0)
    if (o.trace) Files.write(Paths.get(".bench_build", s"trace-${o.workload}-${o.seed}.json"),
      trace.toJson.getBytes("UTF-8"))
    Main.Outcome(metrics.toMap, attempted, failed, failures.toSeq)
  }

  /** The timed loop: a fixed number of operations, so that the same seed
    * makes the same operations on a fast host or a slow one, and its
    * counters repeat exactly. Each operation is a timed part and an untimed
    * `after` part that checks its output and returns the problems found; a
    * thrown error or a problem counts the operation as failed, with its
    * reason kept. Between the two, a full GC reads the heap the operation
    * holds (jvm.peak_heap_mb is the highest such reading). In a traced run
    * operations alternate untraced and traced, so tracing overhead is
    * measured within the run. Returns the (traced?, seconds) of every
    * operation. */
  private def loop[T](what: String, ops: Int)(timed: Boolean => T)(after: T => Seq[String]): Seq[(Boolean, Double)] = {
    val times = mutable.ArrayBuffer.empty[(Boolean, Double)]
    System.gc() // the first operation, like every later one, starts on a collected heap
    while (times.size < ops) {
      val traced = o.trace && times.size % 2 == 1
      if (traced) { tracing(true); resetCounters() }
      val t0 = System.nanoTime()
      val result = scala.util.Try(timed(traced))
      val s = (System.nanoTime() - t0) / 1e9
      if (traced) { recordCounters(s); tracing(false) }
      System.gc()
      peakHeap = math.max(peakHeap, java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
      val problems = result.flatMap(r => scala.util.Try(after(r))).recover {
        case NonFatal(e) => Seq(s"${e.getClass.getName}: ${e.getMessage}")
      }.get
      // what the operation left persisted once its caller released what it
      // owns: a leak shows here
      if (traced) Map(
        "persisted_rdds_after" -> sc.getPersistentRDDs.size.toDouble,
        "cache_entries_after" -> SparkInternals.cacheEntries(spark).toDouble
      ).foreach { case (k, v) => opCounters.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v }
      attempted += 1
      if (problems.nonEmpty) { failed += 1; failures ++= problems.map(p => s"$what ${times.size + 1}: $p") }
      times += ((traced, s))
      println(f"# $what ${times.size}%d${if (traced) " (traced)" else ""}: $s%.3f s")
    }
    times.toSeq
  }

  private def reportOps(times: Seq[(Boolean, Double)]): Unit = {
    val plain = times.filterNot(_._1).map(_._2)
    put("op_p50_ms", median(plain) * 1000)
    if (o.trace) {
      // the first operation runs on a colder JVM than the rest: leave it out
      val traced = times.filter(_._1).map(_._2)
      val warm = if (plain.size > 1) plain.tail else plain
      put("trace.overhead_frac", (median(traced) - median(warm)) / median(warm))
    }
  }

  /** The workload's data set-up, made `n` times (once in a traced run):
    * the last result and the median time. */
  private def setupReps[T](n: Int)(f: => T): (T, Double) = {
    val reps = if (o.trace) 1 else n
    val runs = (1 to reps).map { i =>
      val r = seconds(f)
      println(f"# set-up $i%d: ${r._2}%.3f s")
      r
    }
    (runs.last._1, median(runs.map(_._2)))
  }

  // ---------------------------------------------------------------- generate

  private def generate(): Unit = {
    val n = scale.generateArtists
    // one set-up: a cold one costs about 13 s on 4 cores, and a second
    // would add 8 s to every run
    val (model, setupS) = setupReps(1) {
      val (m, modelS) = seconds(MbGen.model(n, o.seed))
      println(f"# model of $n%d artists built in $modelS%.3f s")
      MbGen.writeSources(spark, m, srcDir)
      m
    }
    put("setup_s", sessionS + setupS)
    val src = MbGen.readSources(spark, srcDir)
    // what every table must hold: the model's export, as (rows, content hash)
    val expected = MbGen.exportRows(model).map { case (k, (schema, table)) =>
      val (rows, hash) = Checks.countAndHash(schema, table)
      k -> (if (o.corrupt && k == "mb_song") rows + 1 else rows, hash)
    }
    var rowsWritten = Map.empty[String, Long]
    // the ETL job runs once per process, so one pass on a fresh JVM is
    // what its users wait for: an untraced run makes exactly one, however
    // fast; a traced run adds a traced and a second untraced pass
    val times = loop("pass", if (o.trace) 3 else 1) { traced =>
      def span[T](name: String)(f: => T): T = if (traced) trace(name)(f) else f
      span("generate.pass") {
        val exp = span("generate.build")(GenerateDataset(src))
        span("generate.write")(GenerateDataset.write(exp, outDir))
        (exp, traced)
      }
    } { case (exp, traced) =>
        rowsWritten = Map.empty
        // the hinge caches are still held here; release them after reading
        if (traced) put("musicbrainz.generate.hinge_cache_bytes",
          sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum.toDouble)
        exp.unpersist()
        Checks.tables(GenerateDataset.read(spark, outDir)).toSeq.flatMap { case (k, df) =>
          val (rows, hash) = Checks.countAndHash(df)
          rowsWritten += k -> rows
          val (wantRows, wantHash) = expected(k)
          if (rows != wantRows) Some(s"$k has $rows rows, expected $wantRows")
          else if (hash != wantHash) Some(s"$k content differs from the model's export")
          else None
        }
    }
    reportOps(times)
    if (o.trace) {
      put("musicbrainz.generate.build_ms", median(trace.ms("generate.build")))
      traceGenerateStages(src, rowsWritten)
    }
  }

  /** Stage spans: each public stage of the export pipeline run on its own
    * through a noop sink, plus the candidate count behind candidate_yield
    * and the row count of every sink as the last check read it. */
  private def traceGenerateStages(src: MbSources, rowsWritten: Map[String, Long]): Unit = {
    // the plan listener keeps the sinks of the last traced pass
    plans.sinkMs.foreach { case (t, ms) =>
      if (Metrics.tables.contains(t)) put(s"musicbrainz.generate.sink_ms.$t", ms)
    }
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val artists = ArtistOps.mbArtist(src)
    put("musicbrainz.generate.mb_artist_ms", trace("generate.mb_artist")(seconds(noop(artists))._2 * 1000))
    put("musicbrainz.generate.best_matches_ms",
      trace("generate.best_matches")(seconds(noop(CanonicalOps.bestMatches(src, artists)))._2 * 1000))
    put("musicbrainz.generate.artist_aliases_ms",
      trace("generate.artist_aliases")(seconds(noop(ArtistOps.artistAliases(src, artists)))._2 * 1000))
    val back = GenerateDataset.read(spark, outDir)
    put("musicbrainz.generate.song_aliases_ms",
      trace("generate.song_aliases")(seconds(noop(SongAliasOps.songAliases(src, back.mbSong)))._2 * 1000))
    val cands = CanonicalOps.candidates(src, artists).count()
    put("musicbrainz.generate.candidates_rows", cands.toDouble)
    val songs = back.mbSong.count()
    put("musicbrainz.generate.candidate_yield", songs.toDouble / math.max(1L, cands))
    rowsWritten.foreach { case (t, n) => put(s"musicbrainz.generate.sink_rows.$t", n.toDouble) }
  }

  // ------------------------------------------------------------------- chart

  private def chart(): Unit = {
    val (model, setupS) = setupReps(2) {
      // the export generate's check proves the pipeline writes for this
      // model, written through the pipeline's own sink
      val (m, modelS) = seconds(MbGen.model(scale.chartArtists, o.seed))
      println(f"# model of ${scale.chartArtists}%d artists built in $modelS%.3f s")
      GenerateDataset.write(MbGen.export(spark, m), outDir)
      m
    }
    val exp = GenerateDataset.read(spark, outDir)
    val gen = new MbGen.Chart(model, o.seed)
    // batches before the timed loop: code generation and JIT warm-up,
    // which a serving process pays once, so they count in set-up. Batch
    // times fall for about three batches (4.5, 3.4, 3.0 s on 4 cores), so
    // three warm-up batches put the timed loop on the level part.
    val warm = (1 to 3).map { i =>
      val w = seconds(MatchOps.matchSongs(MbGen.queriesFrame(spark, gen.batch(scale.batch)), exp).collect())._2
      println(f"# warm-up batch $i%d: $w%.3f s")
      w
    }
    put("setup_s", sessionS + setupS + warm.sum)
    put("musicbrainz.match.warmup_batch_ms", warm.head * 1000)
    val outcomes = mutable.Map("correct" -> 0, "missing" -> 0, "wrong" -> 0)
    var qs: Seq[MbGen.Query] = Nil
    // batch times keep falling for about 20 batches after the warm-up, as
    // the JIT compiles the planner's code, so a deadline would put a fast
    // host's median further down that slope than a slow host's. --seconds
    // sets a fixed count instead: one batch per 1.5 s, at least four.
    val batches = if (o.trace) 4 else math.max(4, math.round(o.seconds / 1.5).toInt)
    val times = loop("batch", batches) { traced =>
      qs = gen.batch(scale.batch)
      if (traced) trace("chart.batch")(matchBatch(qs, exp)) else matchBatch(qs, exp)
    } { rows =>
        val got = rows.toMap
        val problems = mutable.ArrayBuffer.empty[String]
        qs.zipWithIndex.foreach { case (q, i) =>
          val want = if (o.corrupt && i == 0) Some("corrupted-expectation") else q.expected
          val have = got.get(q.id)
          val status = if (have.isEmpty) "missing" else if (have == want) "correct" else "wrong"
          outcomes(status) += 1
          if (have != want) problems += s"query ${q.id} (${q.kind}) expected ${want.getOrElse("no match")}, got ${have.getOrElse("no match")}"
        }
        problems.toSeq
    }
    reportOps(times)
    if (o.trace) {
      outcomes.foreach { case (k, v) => put(s"musicbrainz.match.$k", v.toDouble) }
      put("musicbrainz.match.top_one_ms", median(trace.ms("chart.batch")))
      traceMatchStages(gen.batch(scale.batch), exp)
      // the kernels run over the export's alias column, which chart's and
      // generate's exports share, so one traced run measures them
      kernelLayer()
    }
  }

  private def matchBatch(qs: Seq[MbGen.Query], exp: GenerateDataset.Export): Seq[(Long, String)] =
    MatchOps.matchSongs(MbGen.queriesFrame(spark, qs), exp)
      .select(col("query_id"), col("album_mb_id")).collect().toSeq
      .map(r => r.getLong(0) -> r.getString(1))

  /** Stage spans of the matcher on one more batch: the artist lookup and
    * the scored candidate set as actions of their own, then the full
    * matcher; top_one_self_ms is the matcher minus the scored set. */
  private def traceMatchStages(qs: Seq[MbGen.Query], exp: GenerateDataset.Export): Unit = {
    val q = MbGen.queriesFrame(spark, qs)
    val (pairs, searchS) = seconds(trace("match.search_artists")(
      MatchOps.searchArtists(q.select(col("query_id"), col("artist_name").as("qname")), exp.mbArtistAlias).count()))
    put("musicbrainz.match.search_artists_ms", searchS * 1000)
    put("musicbrainz.match.artist_pairs", pairs.toDouble)
    val (scored, scoredS) = seconds(trace("match.scored_candidates")(
      MatchOps.scoredCandidates(q, exp).agg(count(lit(1)), sum(when(col("phase") === 1, 1).otherwise(0))).head()))
    put("musicbrainz.match.scored_candidates_ms", scoredS * 1000)
    put("musicbrainz.match.scored_candidates", scored.getLong(0).toDouble)
    put("musicbrainz.match.phase1_share", Option(scored.get(1)).map(_.toString.toDouble).getOrElse(0.0) /
      math.max(1L, scored.getLong(0)))
    val (winners, topS) = seconds(MatchOps.matchSongs(q, exp).count())
    put("musicbrainz.match.winners", winners.toDouble)
    put("musicbrainz.match.winner_yield", winners.toDouble / qs.size)
    put("musicbrainz.match.top_one_self_ms", math.max(0.0, topS - scoredS) * 1000)
  }

  // ------------------------------------------------------------ kernel layer

  /** ns/row of graft.functions kernels over the export's alias column,
    * held in memory: each kernel's projection is written to a noop sink and
    * the same projection without the kernel is subtracted. Median of two. */
  private def kernelLayer(): Unit = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.graft.Bridge
    val back = GenerateDataset.read(spark, outDir)
    val aliases = back.mbArtistAlias.select(col("alias").as("s"))
      .unionByName(back.mbSongAlias.select(col("alias").as("s")))
    // repeated to about half a million rows, so per-row work outweighs
    // the fixed cost of a job
    val copies = math.max(1L, 500000L / math.max(1L, aliases.count()))
    val names = aliases.crossJoin(spark.range(copies)).select(col("s"))
      .persist(StorageLevel.MEMORY_ONLY)
    val rows = names.count().toDouble
    val s = col("s")
    val tail = s.substr(lit(2), length(s))
    val witness = Bridge.column(graft.functions.Lev1Witness(Bridge.expression(s), Bridge.expression(tail)))
    // every projection ends in an int per row, so the kernel's output
    // size does not enter the difference; identity is the baseline itself
    val baseline = Seq(length(s), length(tail))
    val cases: Seq[(String, Seq[Column])] = Seq(
      ("search_key", Seq(length(normalize.searchKey(s)), length(tail))),
      ("unaccent", Seq(length(normalize.unaccent(s)), length(tail))),
      ("deletion_variants", Seq(size(SimilarityJoin.deletionVariants(s)), length(tail))),
      ("lev1_witness", Seq(length(s), length(witness))))
    def nsPerRow(cols: Seq[Column]): Double = median((1 to 2).map { _ =>
      seconds(names.select(cols: _*).write.format("noop").mode("overwrite").save())._2
    }) * 1e9 / rows
    val base = nsPerRow(baseline)
    put("functions.identity_ns_per_row", base)
    cases.foreach { case (k, cols) =>
      put(s"functions.${k}_ns_per_row", math.max(0.0, nsPerRow(cols) - base))
    }
    names.unpersist()
  }
}
