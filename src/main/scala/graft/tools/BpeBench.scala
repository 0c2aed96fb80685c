package graft.tools

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.Bpe

/** Standalone A/B harness for [[Bpe.wordHistogram]]'s singleton
  * pre-filter — the r11 hardening (filter count-1 words before the
  * global sort+limit when at least `maxWords` words occur ≥ 2 times)
  * was spec-pinned but only ever measured on the bounded synth pool,
  * whose vocabulary never grows past the head. This harness builds the
  * corpus the filter was designed for: a Zipf/Heaps-law corpus whose
  * vocabulary scales with corpus size (V = totalTokens^0.8), so the
  * singleton tail dominates the distinct-word count and the
  * per-partition top-K sort would otherwise carry it in full.
  *
  * Generation is pure column arithmetic (one deterministic function of
  * doc_id): token (d, j) draws u ∈ (0,1) from xxhash64(d, j) and maps it
  * through the Zipf-1 inverse CDF, rank = ⌊V^u⌋ — P(rank = r) ∝ 1/r over
  * [1, V] — so the head is hot, the tail is singletons, and every run of
  * the generator reproduces the same corpus (same contract as
  * [[CurationBench.synth]]). Written to parquet once, keyed by n; legs
  * read from rest.
  *
  * Legs (interleaved, same JVM — cross-session walls are meaningless on
  * this host, see the README measurement protocol):
  *   `on`  — [[Bpe.wordHistogram]] (the pre-filter branch);
  *   `off` — the plain sort+limit over the full (word, count) aggregate
  *           (the pre-r11 shape), via the private impl toggle.
  * The two heads must be IDENTICAL (the filter is exact, not heuristic)
  * — a mismatch aborts the session. Corpus stats (distinct words,
  * multi-occurrence words) print once so the published row shows whether
  * the branch actually fired.
  *
  * The Heaps exponent β (4th arg) sets the vocabulary ceiling
  * V = totalTokens^β and thereby which regime the corpus lands in:
  * β=0.8 gives a MULTI-dominated vocabulary (V ≪ tokens ⇒ almost every
  * word repeats — the filter fires but can only trim the few-percent
  * singleton sliver), β=1.0 gives the SINGLETON-dominated tail the r11
  * step-up hit (ranks past tokens/ln V expect <1 draw ⇒ tens of
  * millions of count-1 words riding the sort for nothing). Both points
  * belong in the published row: the first shows the branch is harmless
  * when it can't help, the second what it buys when it can.
  *
  * Usage: runMain graft.tools.BpeBench [nDocs] [runs] [maxWords] [beta]
  */
object BpeBench {

  private[tools] val TokensPerDoc = 20

  /** The Zipf/Heaps generator (see object doc): `TokensPerDoc` words per
    * doc, each token (d, j) drawing rank = ⌊V^u⌋ with u ∈ (0,1) from
    * xxhash64(d, j) and V = (n · TokensPerDoc)^β — P(rank = r) ∝ 1/r.
    * Deterministic function of doc_id; factored out of main so the spec
    * can pin the law the published pre-filter claim rests on. */
  private[tools] def synth(spark: SparkSession, n: Long, beta: Double): org.apache.spark.sql.DataFrame = {
    val vocab = math.pow(n.toDouble * TokensPerDoc, beta)
    val mod = 1073741824L // 2^30: u resolution
    spark.range(n).select(col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(1), lit(TokensPerDoc)), j =>
        concat(lit("w"), floor(exp(
          ((pmod(xxhash64(col("id"), j), lit(mod)).cast("double") + 0.5) / mod.toDouble)
            * math.log(vocab))).cast("long")))).as("text"))
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(10000000L)
    val runs = args.drop(1).headOption.map(_.toInt).getOrElse(2)
    val maxWords = args.drop(2).headOption.map(_.toInt).getOrElse(1000000)
    val beta = args.drop(3).headOption.map(_.toDouble).getOrElse(0.8)

    val root = "/tmp/graft_bpe_bench"
    println(IoProbe.row("pre", root))
    val spark = BenchUtil.session(
      "spark.sql.shuffle.partitions" -> "64",
      "spark.local.dir" -> "/tmp/graft_bpe_scratch")
    BenchUtil.enableOperatorInfoLogs()
    import spark.implicits._
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val jobs = new JobBreakdown.Recorder(spark.sparkContext)

    // Heaps vocabulary ceiling: V = (n · tokensPerDoc)^β — see the
    // object doc for what each β regime exercises. The corpus is keyed
    // by (n, β): different regimes are different corpora.
    val vocab = math.pow(n.toDouble * TokensPerDoc, beta)
    val corpusPath = new Path(
      if (beta == 0.8) s"$root/corpus_$n" else f"$root/corpus_${n}_b$beta%.2f")
    if (fs.exists(corpusPath) && !fs.exists(new Path(corpusPath, "_SUCCESS")))
      fs.delete(corpusPath, true)
    if (!fs.exists(corpusPath))
      synth(spark, n, beta).write.parquet(corpusPath.toString)
    val corpus = spark.read.parquet(corpusPath.toString)

    // one stats pass so the published row states whether the branch fires
    val stats = corpus.select(explode(split($"text", "\\s+")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("distinct_words"),
        sum(when($"c" >= 2, 1L).otherwise(0L)).as("multi_words")).head()
    val (distinctWords, multiWords) = (stats.getLong(0), stats.getLong(1))
    println(s"""{"metric":"bpe_corpus","n_docs":$n,"beta":$beta,"vocab_ceiling":${vocab.toLong},""" +
      s""""distinct_words":$distinctWords,"multi_words":$multiWords,""" +
      s""""max_words":$maxWords,"prefilter_fires":${multiWords >= maxWords}}""")

    var expect: Array[(String, Long)] = null
    val best = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    for (run <- 0 until runs; leg <- Seq("on", "off")) {
      spark.catalog.clearCache()
      jobs.clear()
      val t0 = System.nanoTime()
      // a leg may legitimately DIE — the β=1.0 regime's off leg exceeds
      // spark.driver.maxResultSize in the TakeOrdered driver merge (each
      // partition ships its local top-maxWords head; the singleton tail
      // inflates every head). That failure IS the measurement: record it
      // as a row instead of killing the session, so the surviving leg's
      // numbers and the failure publish together.
      try {
        val head = Bpe.wordHistogramImpl(corpus, $"text", maxWords, preFilter = leg == "on")
        val sec = (System.nanoTime() - t0) / 1e9
        jobs.drain(l => println(s"""{"leg":"$leg","run":$run,$l""".replace("{\"job\"", "\"job\"")))
        if (expect == null) expect = head
        else require(expect.sameElements(head),
          s"leg '$leg' run $run produced a different head — the pre-filter must be exact")
        // a -1 failure sentinel from an earlier run is REPLACED by a
        // real wall, not min'd with it (min(-1, sec) would report the
        // failure forever even after a successful run)
        val prior = best.get(leg).filter(_ >= 0)
        best(leg) = math.min(prior.getOrElse(Double.MaxValue), sec)
        println(f"""{"leg":"$leg","run":$run,"sec":$sec%.2f,"head_rows":${head.length}}""")
      } catch {
        // the head-identity require above throws IllegalArgumentException —
        // that is a CORRECTNESS divergence between the on/off legs, and it
        // must abort the session (as the doc promises), not be swallowed
        // into a {"sec":-1,"err":...} row indistinguishable from an infra
        // death. Only genuine leg deaths (maxResultSize etc.) are recorded.
        case e: IllegalArgumentException => throw e
        case e: Throwable =>
        jobs.clear()
        best.getOrElseUpdate(leg, -1.0)
        val msg = BenchUtil.jsonEscape(
          Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.take(1).mkString)
        println(s"""{"leg":"$leg","run":$run,"sec":-1,"err":"$msg"}""")
      }
    }
    val legsJson = best.map { case (k, v) => f""""$k":$v%.2f""" }.mkString("{", ",", "}")
    println(s"""{"metric":"bpe_bench","n_docs":$n,"runs":$runs,"max_words":$maxWords,"best_sec":$legsJson}""")
    println(IoProbe.row("post", root))
    spark.stop()
  }
}
