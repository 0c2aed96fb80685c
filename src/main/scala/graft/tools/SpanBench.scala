package graft.tools

import java.lang.management.ManagementFactory

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, TextAnalysis}
import scala.jdk.CollectionConverters._

/** Standalone harness for [[Dedup.duplicateSpans]] — the curation DAG's
  * most expensive stage — so sketch-build strategies and scan-shape
  * changes can be A/B-measured in one JVM without replaying the whole
  * [[CurationBench]] DAG. The corpus approximates stage 06a's ACTUAL
  * input — [[CurationBench.synth]] minus the planted exact/near copies
  * and junk (the docs the upstream dedup+gate stages remove; dropping
  * them by their planting arithmetic instead of replaying four dedup
  * stages), markup-stripped and PII-scrubbed — written to parquet ONCE;
  * every leg reads it back from rest, mirroring the per-stage
  * materialization contract. Without this filter the 14% planted
  * whole-document duplicates quintuple the duplicated-gram mass and the
  * stage measures a different (much heavier) workload than the DAG's.
  *
  * Usage: runMain graft.tools.SpanBench [nDocs] [runs] [leg ...]
  * where each leg is `shared`, `perTask`, or `lazy` (forces the
  * sketch-skip exact-count branch — the beyond-plane-scale shape),
  * optionally suffixed
  * `@<planeBytes>` (sizes the bitplane cap — the per-task memory knob a
  * small-executor cluster turns, e.g. perTask@268435456 for 256 MB)
  * and/or `-nocache` (disables the cross-pass gram-array cache,
  * reproducing the r9 two-scan shape for A/B).
  * Default legs: shared + perTask.
  *
  * Per leg per run, prints one JSON line with the wall, the span-row
  * count, and the JVM heap high-water (MemoryPoolMXBean peaks are reset
  * before each leg — on local[32] the build scan's sketches live in this
  * one heap, so the delta bounds the build's working set).
  */
object SpanBench {

  def main(args: Array[String]): Unit = {
    val nums = args.takeWhile(a => a.forall(_.isDigit))
    val n = nums.headOption.map(_.toLong).getOrElse(10000000L)
    val runs = nums.drop(1).headOption.map(_.toInt).getOrElse(2)
    val legs0 = args.drop(nums.length)
    val legs = if (legs0.isEmpty) Seq("shared", "perTask") else legs0.toSeq

    val root = "/tmp/graft_span_bench"
    println(IoProbe.row("pre", root))
    val spark = BenchUtil.session(
      "spark.sql.shuffle.partitions" -> "64",
      "spark.local.dir" -> "/tmp/graft_span_scratch",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "128m",
      // the perTask legs fetch ONE merged sketch to the driver (the
      // plane bytes; the memory-aware default divides by task
      // concurrency, so this stays comfortably under 4g — an explicit
      // @planeBytes leg is the operator's responsibility)
      "spark.driver.maxResultSize" -> "4g")
    BenchUtil.enableOperatorInfoLogs()
    import spark.implicits._
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)

    // Per-job wall breakdown: duplicateSpans runs a handful of distinct
    // jobs (sketch build scan, candidate count, final write); the last
    // stage's callsite names each one well enough to attribute the leg's
    // total. Printed per leg, cleared between legs.
    val jobs = new JobBreakdown.Recorder(spark.sparkContext)

    // the corpus is a deterministic function of n, so a prior
    // invocation's parquet (keyed by n in the path) is reused as-is —
    // a crashed leg (e.g. a deliberately undersized-heap run) doesn't
    // charge the next invocation a regeneration
    val corpusPath = new Path(s"$root/corpus_$n")
    // reuse requires the _SUCCESS marker: a crashed prior invocation (the
    // scaladoc anticipates deliberately-undersized-heap runs) can leave a
    // partial parquet dir that would silently benchmark a smaller corpus
    if (fs.exists(corpusPath) && !fs.exists(new Path(corpusPath, "_SUCCESS")))
      fs.delete(corpusPath, true)
    if (!fs.exists(corpusPath)) {
      CurationBench.synth(spark, n)
        // what dedup+gate remove upstream, by planting arithmetic: exact
        // copies (id%25==3), near copies (id%10==1), junk (id%37==7)
        .filter(pmod($"doc_id", lit(25)) =!= 3 && pmod($"doc_id", lit(10)) =!= 1 &&
          pmod($"doc_id", lit(37)) =!= 7)
        .withColumn("text", TextAnalysis.htmlText($"text"))
        .withColumn("text", graft.operators.Pii.scrub($"text"))
        .write.parquet(corpusPath.toString)
    }
    val corpus = spark.read.parquet(corpusPath.toString)

    def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

    val best = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    for (leg <- legs; run <- 0 until runs) {
      val noCache = leg.endsWith("-nocache")
      val core = leg.stripSuffix("-nocache")
      val (strategy, planeBytes) = core.split("@") match {
        case Array(s, b) => (s, Some(b.toLong))
        case Array(s) => (s, None)
      }
      // `lazy` leg: force the sketch-skip branch (the exact global count
      // the operator takes when no constructible plane can discriminate
      // — the true beyond-plane-scale shape), by setting the sizing
      // floor unreachably high instead of a build strategy
      if (strategy == "lazy") spark.conf.set(Dedup.SketchMinSizingRatioKey, "1e18")
      else spark.conf.set(Dedup.SketchBuildKey, strategy)
      planeBytes.foreach(b => spark.conf.set(Dedup.SketchMaxBytesKey, b.toString))
      if (noCache) spark.conf.set(Dedup.GramCacheMaxBytesKey, "0")
      try {
        spark.catalog.clearCache()
        // GC FIRST, then reset peaks, then read the baseline: resetting
        // before the GC pins each pool's peak at the garbage-laden level
        // left by synthesis / the previous leg, inflating every leg's
        // delta by whatever the collector later reclaimed
        System.gc()
        heapPools.foreach(_.resetPeakUsage())
        val preGc = heapPools.map(_.getUsage.getUsed).sum
        jobs.clear()
        val t0 = System.nanoTime()
        fs.delete(new Path(s"$root/spans"), true)
        Dedup.duplicateSpans(corpus, $"doc_id", $"text", n = 13)
          .write.parquet(s"$root/spans")
        val sec = (System.nanoTime() - t0) / 1e9
        jobs.drain(l => println(s"""{"leg":"$leg","run":$run,$l""".replace("{\"job\"", "\"job\"")))
        val rows = spark.read.parquet(s"$root/spans").count()
        val peakMb = (heapPools.map(_.getPeakUsage.getUsed).sum - preGc) / (1024 * 1024)
        best(leg) = math.min(best.getOrElse(leg, Double.MaxValue), sec)
        println(f"""{"leg":"$leg","run":$run,"sec":$sec%.2f,"span_rows":$rows,"heap_peak_delta_mb":$peakMb}""")
      } catch {
        // a leg whose memory shape doesn't fit this heap (e.g. perTask's
        // per-concurrent-task bitplanes on a deliberately small -Xmx) is
        // itself a measurement — report it and try the remaining legs
        // (an executor OOM may have stopped the context; then they fail
        // fast with the same marker)
        case e: Exception =>
          println(s"""{"leg":"$leg","run":$run,"failed":"${e.getClass.getSimpleName}"}""")
      } finally {
        spark.conf.unset(Dedup.SketchBuildKey)
        spark.conf.unset(Dedup.SketchMaxBytesKey)
        spark.conf.unset(Dedup.GramCacheMaxBytesKey)
        spark.conf.unset(Dedup.SketchMinSizingRatioKey)
      }
    }
    val legsJson = best.map { case (k, v) => f""""$k":$v%.2f""" }.mkString("{", ",", "}")
    println(s"""{"metric":"span_bench","n_docs":$n,"runs":$runs,"best_sec":$legsJson}""")
    println(IoProbe.row("post", root))
    fs.delete(new Path(s"$root/spans"), true)
    spark.stop()
  }
}
