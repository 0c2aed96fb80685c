package graft
import scala.util.control.NonFatal

/** Benchmark main (driver contract): one JSON line with per-query seconds.
  *
  * Each query gets one untimed warmup execution before the timed run, so the
  * numbers measure steady-state dataflow, not first-touch JVM costs (Janino
  * whole-stage-codegen compilation in a cold JVM dominates first executions
  * by 10-40x and is a per-process constant, not a property of the plan).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.tools.BenchUtil.session()
    // A failing query reports the sentinel -1, never its time-to-exception,
    // so breakage is visible in the bench JSON instead of looking fast.
    // Per query: one warmup run (JIT/codegen, per-process constants), then
    // min of 3 timed runs — this host shows multi-second external stalls
    // (not GC: max pause 116ms under -Xlog:gc while a query lost 8s) that
    // land on random queries; min-of-N measures the plan, not the host.
    val timedRuns = 3
    // dev loop: SPARK_GRAFT_BENCH_FILTER=q46,q25 times only matching
    // queries (comma-separated substrings); unset = the full contract run
    val filter = sys.env.get("SPARK_GRAFT_BENCH_FILTER")
      .map(_.split(",").toSeq.filter(_.nonEmpty))
      .filter(_.nonEmpty) // empty string == unset, never an empty run
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (name, _) =>
      filter.forall(_.exists(name.contains))
    }
    // measurement-protocol probes (README): the host's I/O band swings
    // 2-10× between sessions, so the suite brackets itself with a direct
    // write probe — round-over-round toy comparisons self-annotate
    // instead of needing same-day forensics (r11's q32 "+28%" was a band
    // tick). 1 GiB (vs the standalone harnesses' 2) keeps the probe cost
    // proportionate to the ~30 s toy suite while a degraded band is
    // still unmistakable vs the healthy ~800-900 MB/s. CONTRACT RUNS
    // ONLY: a filtered dev-loop iteration is not a published number, and
    // on a floor-degraded band (~25 MB/s) two probes cost ~85 s — more
    // than the whole suite.
    // Probe the volume the queries actually shuffle on — a probe of a
    // different mount could report a clean band while the shuffle volume
    // is degraded.
    val probeDir = graft.tools.IoProbe.localDir(
      sys.env.get("SPARK_LOCAL_DIRS"),
      spark.sparkContext.getConf.getOption("spark.local.dir"),
      sys.props.getOrElse("java.io.tmpdir", "/tmp"))
    def probe(when: String): Option[String] =
      if (filter.isEmpty) Some(graft.tools.IoProbe.row(when, probeDir, totalMb = 1024)) else None
    val probePre = probe("pre")
    val results = selected.map { case (name, fn) =>
      val sec =
        try {
          fn(spark, sfDir).count() // warmup
          val times = (1 to timedRuns).map { _ =>
            val t0 = System.nanoTime()
            fn(spark, sfDir).count()
            (System.nanoTime() - t0) / 1e9
          }
          times.min
        } catch { case NonFatal(e) =>
          System.err.println(s"[bench] $name failed: ${e.getClass.getName}: ${e.getMessage}")
          -1.0
        }
      name -> sec
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, v) if v < 0 => k }
    val total = results.map(_._2).filter(_ >= 0).sum
    val errs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // "runs": each per-query number is the MIN over this many timed
    // executions (after one warmup) — the round-over-round comparison
    // contract, so a reader knows jitter is already floored out.
    //
    // Per-query map FIRST and the short summary LAST: the harvesting
    // side captures a bounded output tail, and with 70+ queries a single
    // line no longer fits — a truncated line loses the headline total
    // (round-6 bench artifact was machine-unreadable). The final line is
    // small and constant-size, so any bounded tail parses it; the two
    // io_probe rows are likewise small and bracket the queries they
    // qualify (pre before the map, post right after).
    val probePost = probe("post")
    val sf = graft.tools.BenchUtil.jsonEscape(sfDir)
    val queriesLine =
      s"""{"metric":"queries","runs":$timedRuns,"sf":"$sf","queries":$qs}"""
    val totalLine =
      s"""{"metric":"total","value":$total,"unit":"sec","runs":$timedRuns,"nQueries":${results.size},"errors":$errs,"sf":"$sf"}"""
    probePre.foreach(println)
    println(queriesLine)
    probePost.foreach(println)
    println(totalLine)
    // The harvested stdout tail is bounded and can truncate mid-map (the
    // round-8 artifact lost q01–q14), so the full JSON also
    // lands in a file — the self-contained per-query record for
    // round-over-round diffs. Path override: SPARK_GRAFT_BENCH_OUT.
    // A FILTERED dev run never touches the default artifact (it would
    // silently replace the last full-contract record with a partial one);
    // set SPARK_GRAFT_BENCH_OUT explicitly to capture a filtered run.
    val outOverride = sys.env.get("SPARK_GRAFT_BENCH_OUT")
    val outPath = outOverride.getOrElse("bench_full.json")
    if (filter.isEmpty || outOverride.isDefined) {
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outPath),
        (probePre.toSeq ++ Seq(queriesLine) ++ probePost.toSeq :+ totalLine)
          .mkString("", "\n", "\n"))
      catch { case e: java.io.IOException =>
        System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
