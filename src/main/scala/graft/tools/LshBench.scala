package graft.tools

import java.lang.management.ManagementFactory

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, TextAnalysis}
import scala.jdk.CollectionConverters._

/** Standalone harness for [[Dedup.minhashNearDupPairs]] — after the r9/r10
  * span-mask work this is the curation DAG's most expensive stage — so its
  * sub-plan costs can be attributed and scan-shape changes A/B-measured in
  * one JVM without replaying the whole [[CurationBench]] DAG. The corpus
  * approximates stage 05a's ACTUAL input — [[CurationBench.synth]] minus
  * the planted exact copies and junk (what the upstream exact-dedup and
  * gate stages remove; the NEAR copies stay, they are the pairs LSH must
  * find), markup-stripped and PII-scrubbed — written to parquet ONCE;
  * every leg reads it from rest, mirroring the per-stage materialization
  * contract. Stage parameters match the DAG's (3-gram shingles, k=8,
  * bands=4, jaccard ≥ 0.800).
  *
  * Usage: runMain graft.tools.LshBench [nDocs] [runs] [leg ...]
  * Legs:
  *   `pairs` (default) — the full operator + parquet write;
  *   `sig`             — ONLY the signature scan ([[Dedup.minhashSignatures]]
  *                       + write): isolates the corpus-scan + minhash-kernel
  *                       floor from the band join / verify costs;
  *   `jaccard`         — the exact inverted-index operator
  *                       ([[Dedup.jaccardPairs]], df cap 100) + write;
  *   `capped[_N]`      — the hot-bucket dial ([[Dedup.cappedLshBuckets]])
  *                       at cap N (default 10000): capped bucket count,
  *                       dropped mass and candidate-pair bound.
  *
  * This harness already earned its keep once: a size-gated cross-pass
  * shingle cache (the gram-cache trade that WON in duplicateSpans) was
  * built behind it and measured 95.4 vs 45.3 s best-of-3 at 10M docs —
  * rejected; the measured rejection note lives in
  * [[Dedup.minhashNearDupPairs]].
  *
  * Per run, prints the per-job wall breakdown (via [[JobBreakdown]]), the
  * leg wall, output rows, and the JVM heap high-water delta.
  */
object LshBench {

  def main(args: Array[String]): Unit = {
    val nums = args.takeWhile(a => a.forall(_.isDigit))
    val n = nums.headOption.map(_.toLong).getOrElse(10000000L)
    val runs = nums.drop(1).headOption.map(_.toInt).getOrElse(2)
    val legs0 = args.drop(nums.length)
    val legs = if (legs0.isEmpty) Seq("pairs") else legs0.toSeq

    val root = "/tmp/graft_lsh_bench"
    println(IoProbe.row("pre", root))
    val spark = BenchUtil.session(
      "spark.sql.shuffle.partitions" -> "64",
      "spark.local.dir" -> "/tmp/graft_lsh_scratch",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "128m")
    BenchUtil.enableOperatorInfoLogs()
    import spark.implicits._
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val jobs = new JobBreakdown.Recorder(spark.sparkContext)

    // deterministic function of n; reuse requires the _SUCCESS marker
    // (same contract as SpanBench — a crashed run must not leave a
    // partial corpus that silently benchmarks a smaller workload)
    val corpusPath = new Path(s"$root/corpus_$n")
    if (fs.exists(corpusPath) && !fs.exists(new Path(corpusPath, "_SUCCESS")))
      fs.delete(corpusPath, true)
    if (!fs.exists(corpusPath)) {
      CurationBench.synth(spark, n)
        // what exact-dedup + gate remove upstream, by planting
        // arithmetic: exact copies (id%25==3) and junk (id%37==7);
        // near copies (id%10==1) STAY — they are the workload
        .filter(pmod($"doc_id", lit(25)) =!= 3 && pmod($"doc_id", lit(37)) =!= 7)
        .withColumn("text", TextAnalysis.htmlText($"text"))
        .withColumn("text", graft.operators.Pii.scrub($"text"))
        .write.parquet(corpusPath.toString)
    }
    val corpus = spark.read.parquet(corpusPath.toString)

    def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

    val best = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    for (leg <- legs; run <- 0 until runs) {
      spark.catalog.clearCache()
      System.gc()
      heapPools.foreach(_.resetPeakUsage())
      val preGc = heapPools.map(_.getUsage.getUsed).sum
      jobs.clear()
      val t0 = System.nanoTime()
      fs.delete(new Path(s"$root/out"), true)
      val out = leg match {
        case "pairs" =>
          Dedup.minhashNearDupPairs(corpus, $"doc_id", $"text", 3, 8, 4, 800)
        case "sig" =>
          Dedup.minhashSignatures(corpus, $"doc_id", $"text", 3, 8)
        case "jaccard" =>
          // the EXACT inverted-index operator: df cap 100 (the
          // corpus-scale hot-shingle setting — boilerplate shingles
          // prune; posting pair mass stays bounded at df²/2)
          Dedup.jaccardPairs(corpus, $"doc_id", $"text", n = 3,
            minJaccardPermille = 800, maxShingleFreq = 100L)
        case capped if capped == "capped" || capped.startsWith("capped_") =>
          // the cap observability dial at the DAG's LSH parameters:
          // which (band, sig) buckets exceed `cap` (default = the
          // operator default 10000; `capped_500` probes a tighter cap),
          // with the accounting the README's LSH section publishes —
          // dropped bucket mass and the implied candidate-pair bound
          // (Σ C(size,2); an actual PAIR is lost only when every shared
          // band is capped, so this bounds recall cost from above). The
          // counts are exact data, not walls — band-independent.
          val cap = if (capped == "capped") 10000
            else capped.stripPrefix("capped_").toInt
          val dial = Dedup.cappedLshBuckets(corpus, $"doc_id", $"text", 3, 8, 4, cap)
          val acct = dial.agg(
            count(lit(1)).as("n_buckets"),
            coalesce(sum($"bucket_size"), lit(0L)).as("dropped_mass"),
            coalesce(sum(expr("bucket_size * (bucket_size - 1) DIV 2")), lit(0L))
              .as("pair_bound")).head()
          println(s"""{"leg":"$capped","cap":$cap,"n_capped_buckets":${acct.getLong(0)},""" +
            s""""dropped_mass":${acct.getLong(1)},"candidate_pair_bound":${acct.getLong(2)}}""")
          Seq((cap, acct.getLong(0), acct.getLong(1), acct.getLong(2)))
            .toDF("cap", "n_capped_buckets", "dropped_mass", "candidate_pair_bound")
        case other => throw new IllegalArgumentException(
          s"unknown leg '$other' (pairs | sig | jaccard | capped[_N])")
      }
      // overwrite, not create: a concurrent or crashed prior invocation
      // can leave /out between this run's delete and write — the mode
      // makes the write self-contained instead of killing the whole
      // multi-leg session on PATH_ALREADY_EXISTS
      out.write.mode("overwrite").parquet(s"$root/out")
      val sec = (System.nanoTime() - t0) / 1e9
      jobs.drain(l => println(s"""{"leg":"$leg","run":$run,$l""".replace("{\"job\"", "\"job\"")))
      val rows = spark.read.parquet(s"$root/out").count()
      val peakMb = (heapPools.map(_.getPeakUsage.getUsed).sum - preGc) / (1024 * 1024)
      best(leg) = math.min(best.getOrElse(leg, Double.MaxValue), sec)
      println(f"""{"leg":"$leg","run":$run,"sec":$sec%.2f,"rows":$rows,"heap_peak_delta_mb":$peakMb}""")
    }
    val legsJson = best.map { case (k, v) => f""""$k":$v%.2f""" }.mkString("{", ",", "}")
    println(s"""{"metric":"lsh_bench","n_docs":$n,"runs":$runs,"best_sec":$legsJson}""")
    println(IoProbe.row("post", root))
    fs.delete(new Path(s"$root/out"), true)
    spark.stop()
  }
}
