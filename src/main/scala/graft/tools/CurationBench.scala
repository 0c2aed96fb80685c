package graft.tools

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Bpe, Components, Contamination, Dedup, Packing, Pii, Sampling, TextAnalysis}

/** Curation-DAG throughput harness: synthesizes an N-document corpus
  * (default 10M docs, ~100 tokens each, ≈6.5 GB of text) entirely with
  * `spark.range` expressions — no driver loops, no UDFs — then runs the
  * README's curation DAG (markup strip → PII scrub + lang-id → quality
  * gate → exact dedup → LSH near-dup dedup → duplicate-span rewrite →
  * contamination gate → temperature mix → token budget → packing →
  * split + training-order shards) with EVERY stage materialized to
  * parquet, so each stage's wall time is the true cost of that stage on
  * data at rest — the shape a real multi-stage pipeline has, where each
  * gate is a checkpoint you can audit and resume from.
  *
  * The synthetic corpus plants real work for every stage:
  *   - ~9% of docs wrapped in HTML (strip does real parsing),
  *   - ~6% carry an email+phone suffix (scrub redacts),
  *   - ~3% are 5-token junk (gate drops via too_short),
  *   - ~20% of docs interleave French stopwords, the rest English
  *     (lang mix for the temperature stage),
  *   - ~4% are EXACT copies of their predecessor (exact dedup),
  *   - ~10% are NEAR copies — same 112-token body, different 6-token
  *     tail (LSH dedup at jaccard ≥ 0.8),
  *   - ~7.5% share a planted 20-token run with ~11 other docs
  *     (duplicate-span rewrite finds and cuts exactly these),
  *   - a 10k-doc eval set built from train-doc bodies (contamination
  *     gate flags the sources).
  *
  * Per-stage rows in/out are printed as one JSON line per stage, runs
  * are repeated (min-of-2 by default) and a constant-size summary line
  * prints LAST (tail-truncation-proof, same contract as graft.Bench).
  * The near-dup stage additionally emits its cap-observability dials
  * ([[Dedup.cappedLshBuckets]] / [[Dedup.hotShingles]] at 05a's exact
  * parameters, run 0 only, outside the stage timers) so the run itself
  * records whether its caps were loose — the summary line carries them
  * under `"dials"`.
  *
  * Usage: runMain graft.tools.CurationBench [nDocs] [runs] [skew] [proxy]
  * — the `skew` flag swaps in the adversarial corpus (see [[synth]]):
  * dominant language, boilerplate LSH cluster, hot dup-gram mass.
  * EXACT tokenizer accounting is the DEFAULT: a real BPE tokenizer
  * trains on the mixed corpus (one extra `09a_bpe_train` stage, model
  * persisted via [[Bpe.save]]) and the token-budget and packing stages
  * run on exact [[Bpe.tokenCount]] numbers — the accounting a real
  * pre-training pipeline needs, promoted to default in r10 after the
  * exact path measured at-or-below the whitespace proxy's stage cost
  * (the [[graft.functions.BpeTokenCount]] kernel amortizes its merge
  * lookups), leaving the one-off train as its only price. The `proxy`
  * flag reverts to the whitespace token proxy (`bpe` is accepted as a
  * no-op for old command lines).
  */
object CurationBench {

  private val V = 512

  /** Deterministic pseudo-word vocabulary: 512 words, 4–8 chars, built
    * from syllables so mean token length sits inside the gate's
    * [3.0, 10.0] band. */
  private val Vocab: IndexedSeq[String] = {
    val syl = Vector(
      "ba", "re", "mi", "to", "sa", "lu", "ne", "ko", "da", "vi", "po", "che",
      "lan", "dor", "fen", "gal", "hur", "jin", "kel", "mor", "nav", "pel",
      "quin", "ros", "tam", "ul", "ver", "wex", "yor", "zan", "bri", "cul")
    for (i <- 0 until V) yield {
      val a = syl(i % 32); val b = syl((i / 32) % 32); val c = syl((i * 7 + 3) % 32)
      if (i % 3 == 0) a + b else a + b + c
    }
  }

  /** Constant-folded array literal of the vocabulary. */
  private def vocabArr: Column = array(Vocab.map(lit): _*)

  /** `len` pseudo-words drawn by hashing (seed, position, salt) into the
    * vocabulary — same seed+salt ⇒ same words, which is how duplicate
    * structure is planted without materializing anything twice. */
  private def wordsOf(seed: Column, len: Int, salt: Int): Column =
    array_join(
      transform(sequence(lit(0), lit(len - 1)),
        k => element_at(vocabArr, pmod(hash(seed, k, lit(salt)), lit(V)) + 1)),
      " ")

  private val EnStops = TextAnalysis.StopwordProfiles.toMap.apply("en")
  private val FrStops = TextAnalysis.StopwordProfiles.toMap.apply("fr")

  /** Prose-shaped words: every 7th position is a stopword drawn (varied,
    * by position hash) from the doc's language profile, the rest vocab
    * words. Stopwords are INTERLEAVED and position-varied on purpose: a
    * fixed shared prefix block gave 80% of the corpus 13 identical
    * shingles, every minhash row then had a ~12% chance of drawing its
    * minimum from them, and single LSH buckets collected ~10⁵ docs —
    * the boilerplate hot-bucket blowup `Dedup`'s `maxBucketSize` now
    * caps, but a curation-throughput corpus should look like prose, not
    * like one degenerate cluster. */
  private def proseOf(seed: Column, len: Int, salt: Int, isFr: Column): Column = {
    val enArr = array(EnStops.map(lit): _*)
    val frArr = array(FrStops.map(lit): _*)
    array_join(
      transform(sequence(lit(0), lit(len - 1)), k =>
        when(pmod(k, lit(7)) === 3,
          element_at(when(isFr, frArr).otherwise(enArr),
            pmod(hash(seed, k, lit(salt + 7000)), lit(10)) + 1))
          .otherwise(
            element_at(vocabArr, pmod(hash(seed, k, lit(salt)), lit(V)) + 1))),
      " ")
  }

  /** The synthetic corpus: (doc_id, source, lang-mixed text, n_chars).
    * Duplicate structure keys off derived bases so copies agree on every
    * planted feature: `eb` = exact-copy base (id%25==3 copies id-1),
    * `nb` = near-copy base (eb%10==1 copies eb-1; body words hash off
    * nb, tail words off eb).
    *
    * `skew = true` is the ADVERSARIAL variant — a fast regression
    * harness for the three at-scale failure modes the prose-shaped
    * corpus deliberately avoids, each planted to hit its fix:
    *
    *   - one dominant language (95% en / 5% fr instead of 80/20): the
    *     per-group prefix sums (token budget, packing) see one group
    *     carrying nearly the whole corpus — the one-task-per-group
    *     window trap `Prefix.runningSum`'s two-pass form exists for;
    *   - a BOILERPLATE cluster: 10% of docs share constant 36-token
    *     body1 AND body2 blocks (~72 of ~98 tokens shared; mid + tail
    *     still differ, so pairwise jaccard ≈ 0.55-0.6 — NOT near-dups
    *     at the 0.8 bar): most minhash minima come from the shared
    *     blocks, collecting the cluster into (band, sig) buckets far
    *     past `maxBucketSize` — the B² pair detonation the hot-bucket
    *     cap prunes;
    *   - 10× denser span groups (~110 docs share each planted 20-token
    *     run) plus the constant block: dup-gram multiplicity in the
    *     thousands per key — the hot-gram mass that the count pass's
    *     partial aggregation and the wide 60-bit keys must absorb.
    */
  def synth(spark: SparkSession, n: Long, skew: Boolean = false): DataFrame = {
    val id = col("id")
    // span-group count scales with n (≈11 span-eligible docs per group at
    // every scale), so the span stage has the same relative work at 100k
    // and 50M docs
    val spanGroups = math.max(1L, if (skew) n / 1500L else n / 150L)
    val eb = when(pmod(id, lit(25)) === 3, id - 1).otherwise(id)
    val nb = when(pmod(eb, lit(10)) === 1, eb - 1).otherwise(eb)

    val isFr = pmod(nb, lit(if (skew) 20 else 5)) === 0
    val isBp = pmod(id, lit(10)) === 7 // boilerplate member (skew only)
    val plainBody1 = proseOf(nb, 36, salt = 1, isFr)
    val body1 =
      if (!skew) plainBody1
      else when(isBp, proseOf(lit(0L), 36, 777, lit(false))).otherwise(plainBody1)
    val mid = when(pmod(nb, lit(13)) === 5,
      proseOf(pmod(nb, lit(spanGroups)), 20, salt = 99, isFr))
      .otherwise(proseOf(nb, 20, salt = 2, isFr))
    val plainBody2 = proseOf(nb, 36, salt = 3, isFr)
    val body2 =
      if (!skew) plainBody2
      else when(isBp, proseOf(lit(0L), 36, 778, lit(false))).otherwise(plainBody2)
    val tail = wordsOf(eb, 6, salt = 4)
    val full = concat_ws(" ", body1, mid, body2, tail)

    val withJunk = when(pmod(id, lit(37)) === 7, wordsOf(id, 5, salt = 5)).otherwise(full)
    // the e-mail local part varies per doc: a fixed PII sentence would be
    // another shared-shingle cluster across 6% of the corpus
    val withPii = when(pmod(id, lit(17)) === 4,
      concat(withJunk, lit(" contact me at bob"), pmod(id, lit(997)),
        lit("@example.com or 555-123-4567 "),
        element_at(vocabArr, pmod(hash(id, lit(1234)), lit(V)) + 1)))
      .otherwise(withJunk)
    val nChars = length(withPii)
    val withMarkup = when(pmod(id, lit(11)) === 6,
      concat(lit("<html><head><title>page</title></head><body><p>"), withPii,
        lit("</p><script>var x = 1;</script></body></html>")))
      .otherwise(withPii)

    spark.range(0, n).select(
      id.as("doc_id"),
      concat(lit("src"), pmod(id, lit(10))).as("source"),
      withMarkup.as("text"),
      nChars.as("n_chars"))
  }

  /** The eval suite: `k` docs whose text is exactly the 36-token body1 of
    * every (n/k)-th train doc — the contamination gate must flag those
    * sources (13-grams, ≥5 shared). */
  def synthBench(spark: SparkSession, n: Long, k: Long, skew: Boolean = false): DataFrame = {
    val step = math.max(1L, n / k)
    val tid = col("id") * step
    val eb = when(pmod(tid, lit(25)) === 3, tid - 1).otherwise(tid)
    val nb = when(pmod(eb, lit(10)) === 1, eb - 1).otherwise(eb)
    val isFr = pmod(nb, lit(if (skew) 20 else 5)) === 0
    val body =
      if (!skew) proseOf(nb, 36, 1, isFr)
      else when(pmod(tid, lit(10)) === 7, proseOf(lit(0L), 36, 777, lit(false)))
        .otherwise(proseOf(nb, 36, 1, isFr))
    spark.range(0, k).select(col("id").as("bench_id"), body.as("text"))
  }

  def main(args: Array[String]): Unit = {
    val skew = args.contains("skew")
    val bpe = !args.contains("proxy") // exact accounting is the default
    val num = args.filterNot(a => a == "skew" || a == "bpe" || a == "proxy")
    val n = num.headOption.map(_.toLong).getOrElse(10000000L)
    val runs = num.drop(1).headOption.map(_.toInt).getOrElse(2)
    val root = "/tmp/graft_curation_bench"
    println(IoProbe.row("pre", root))
    val spark = BenchUtil.session(
      "spark.sql.shuffle.partitions" -> "64",
      // heap comes from the forked JVM: run with SPARK_DRIVER_MEM=96g
      "spark.local.dir" -> "/tmp/graft_curation_scratch", // NOT under root: runs wipe root
      // AQE-converted broadcasts are sized from RUNTIME stats, so a
      // larger threshold is safe here and load-bearing: the dedup
      // verdict drop-lists and the span-mask table are tens of MB at
      // 10M docs — broadcasting them keeps the corpus-carrying side of
      // stages 05c/06b map-side instead of shuffling 6 GB of text
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "128m",
      // SPARK_GRAFT_BENCH_CODEC=zstd shrinks the materialized stage
      // parquet ~30-40% vs the snappy default — the knob that lets the
      // 60M point fit a scratch volume it no longer fits under snappy
      // (r13: two 60M attempts died at 05c on device space with ~79 GB
      // free; the DAG transiently holds stage outputs + the 05c corpus
      // shuffle). Changing the codec changes the CPU/IO trade, so walls
      // under zstd are their own series — never compare them to the
      // published snappy walls; the codec is stamped into every JSON
      // row for exactly that reason.
      "spark.sql.parquet.compression.codec" ->
        sys.env.getOrElse("SPARK_GRAFT_BENCH_CODEC", "snappy"))
    BenchUtil.enableOperatorInfoLogs()
    import spark.implicits._
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)

    // stage name -> (run -> sec); insertion-ordered for the report
    val stages = scala.collection.mutable.LinkedHashMap.empty[String, Array[Double]]
    val rowsOut = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    // dial name -> JSON fragment; the cap-observability rows the summary
    // line carries so an at-scale run can SHOW its caps were loose (or
    // exactly how much they bit) without a separate LshBench session
    val dials = scala.collection.mutable.LinkedHashMap.empty[String, String]

    for (run <- 0 until runs) {
      fs.delete(new Path(root), true)

      /** Write `df` to parquet as stage `name`, time the write, return the
        * materialized frame. Per-stage cost is measured on data at rest:
        * each stage reads its predecessor's parquet. Stages can have
        * multiple downstream consumers (05a-c, 06a-b), so cleanup is
        * explicit: `free(name)` after a stage's LAST consumer has
        * materialized — at most three stage dirs are alive at once. */
      def stage(name: String)(df: => DataFrame): DataFrame = {
        val out = s"$root/$name"
        val t0 = System.nanoTime()
        df.write.mode("overwrite").parquet(out)
        val sec = (System.nanoTime() - t0) / 1e9
        val back = spark.read.parquet(out)
        val cnt = back.count()
        stages.getOrElseUpdate(name, Array.fill(runs)(0.0))(run) = sec
        rowsOut(name) = cnt
        println(f"""{"stage":"$name","run":$run,"sec":$sec%.2f,"rows_out":$cnt}""")
        back
      }
      def free(names: String*): Unit =
        names.foreach(p => fs.delete(new Path(s"$root/$p"), true))

      val raw = stage("00_synth") { synth(spark, n, skew) }
      val benchDocs = synthBench(spark, n, 10000L, skew).persist()
      benchDocs.count()

      // -1. markup strip: the web-ingest front door — the structural
      // single-pass tokenizer tier (5-6x the regex chain's throughput on
      // this corpus, identical output; the regex tier stays the
      // oracle-replayable q66 path)
      val docs = stage("01_strip") {
        raw.withColumn("text", TextAnalysis.htmlText($"text"))
      }
      free("00_synth")
      // 0. PII redaction + language tag + TARGET-LANGUAGE filter (all
      // map-side, fuse into the scan). The filter is what a real pass
      // does right after lang-id — and it is load-bearing for stage 8:
      // temperatureResample keys its rates off the SMALLEST group, so a
      // stray "und"/"de" tag on a dozen mangled docs would send every
      // keep-rate toward sqrt(12/5M) and crush the corpus
      val redacted = stage("02_pii_lang") {
        docs.withColumn("text", Pii.scrub($"text"))
          .withColumn("lang", TextAnalysis.langId($"text"))
          .filter($"lang".isin("en", "fr"))
      }
      free("01_strip")
      // 1. composite quality gate — the gate-as-filter predicate form:
      // one kernel evaluation per row fused into the scan, no doc_id
      // self-join (the join form hands pushdown a condition that inlines
      // the signal kernels into every conjunct — ~6 evaluations per row)
      val kept = stage("03_gate") {
        redacted.filter(TextAnalysis.qualityKeep($"text",
          stopwords = TextAnalysis.StopwordProfiles.toMap.apply("en") ++
            TextAnalysis.StopwordProfiles.toMap.apply("fr"),
          minTokens = 20L, minStopwordPermille = 10L, maxTopGramPermille = 300L))
      }
      free("02_pii_lang")
      // 2a. exact dedup: content-hash groups, keep each group's canonical.
      // The gated operator: at this 6.4 GB input it keeps the semi-join
      // shape (the historical measured form — ExactDedupBench shows the
      // spellings band-indistinguishable at this size, and the semi
      // skips the drop-list's window sort); above
      // spark.graft.exact.semiMaxBytes it flips to the anti join on the
      // output-bounded drop-list, where the corpus text never shuffles
      val exact = stage("04_exact_dedup") {
        Dedup.exactDeduplicate(kept, $"text", "doc_id")
      }
      free("03_gate")
      // 2b. near-dup dedup, profiled in three sub-stages:
      //   05a  LSH pair mining (the band join + Jaccard verify),
      //   05b  components + keep-best verdict over CLUSTER MEMBERS only —
      //        the pair endpoints; the untouched corpus majority is
      //        trivially kept and never enters the window,
      //   05c  the decision applied as an ANTI join on the drop-list —
      //        output-bounded (≈ removed docs), so AQE broadcasts it and
      //        the corpus text never shuffles (the keep-list semi join it
      //        replaces was corpus-sized on both sides)
      val pairs = stage("05a_lsh_pairs") {
        Dedup.minhashNearDupPairs(exact, $"doc_id", $"text", 3, 8, 4, 800)
      }
      // Cap-observability dials for the near-dup stage, at 05a's exact
      // parameters — the audit question an at-scale run must answer about
      // itself: did the LSH bucket cap (operator default 10000) silently
      // shave candidate mass on THIS corpus, and is there hot-shingle df
      // mass a jaccard-side pass would cap? COUNTS — exact, deterministic
      // across runs (dial once, run 0) and band-independent — computed
      // OUTSIDE the stage timer so walls stay comparable to prior rounds.
      // Columns mirror LshBench's capped-leg accounting (a lost PAIR
      // needs every shared band capped, so pair_bound is an upper bound
      // on recall cost).
      if (run == 0) {
        val lsh = Dedup.cappedLshBuckets(exact, $"doc_id", $"text", 3, 8, 4, 10000)
          .agg(count(lit(1)).as("n"),
            coalesce(sum($"bucket_size"), lit(0L)).as("mass"),
            coalesce(sum(expr("bucket_size * (bucket_size - 1) DIV 2")), lit(0L))
              .as("bound")).head()
        dials("05a_lsh_bucket_cap") =
          s""""cap":10000,"n_capped_buckets":${lsh.getLong(0)},""" +
            s""""dropped_mass":${lsh.getLong(1)},"candidate_pair_bound":${lsh.getLong(2)}"""
        val hot = Dedup.hotShingles(exact, $"doc_id", $"text", 3, 1000000L)
          .agg(count(lit(1)).as("n"),
            coalesce(sum($"df_count"), lit(0L)).as("mass")).head()
        dials("05a_hot_shingles") =
          s""""max_shingle_freq":1000000,"n_hot_shingles":${hot.getLong(0)},""" +
            s""""hot_df_mass":${hot.getLong(1)}"""
        dials.foreach { case (k, v) => println(s"""{"dial":"$k","n_docs":$n,$v}""") }
      }
      val verdicts = stage("05b_dedup_verdicts") {
        val touched = pairs.select($"a_id".as("id"))
          .unionByName(pairs.select($"b_id".as("id"))).distinct()
        val comp = Components.connectedComponents(
          touched,
          pairs.select($"a_id".as("src"), $"b_id".as("dst")),
          checkpointDir = Some(s"$root/ckpt"))
          .select($"id".as("doc_id"), $"component_id")
        Dedup.keepBest(
          comp.join(exact.select($"doc_id", $"n_chars"), "doc_id"),
          $"doc_id", $"component_id", Seq($"n_chars".desc, $"doc_id".asc))
      }
      free("05a_lsh_pairs")
      val uniq = stage("05c_apply_verdicts") {
        exact.join(verdicts.filter(!$"is_kept").select("doc_id"),
          Seq("doc_id"), "left_anti")
      }
      free("04_exact_dedup", "05b_dedup_verdicts")
      // 3. exact-substring rewrite: cut duplicated >= 13-token runs.
      //   06a  the span mask (count pass + broadcast-gated mask pass),
      //   06b  the rewrite kernel with metadata carried THROUGH
      //        removeSpans — no join back to the corpus for columns that
      //        were already in the row
      val spans = stage("06a_dup_spans") {
        Dedup.duplicateSpans(uniq, $"doc_id", $"text", n = 13)
      }
      val rewritten = stage("06b_span_rewrite") {
        Dedup.removeSpans(uniq, $"doc_id", $"text", spans,
          keepCols = Seq("source", "lang", "n_chars"))
          .withColumnRenamed("clean_text", "text")
          .filter(TextAnalysis.tokenCount($"text") > 0)
      }
      free("05c_apply_verdicts", "06a_dup_spans")
      // 4. contamination gate against the eval suite
      val clean = stage("07_decontam") {
        rewritten.join(
          Contamination.ngramOverlapPairs(benchDocs, $"bench_id", $"text",
            rewritten, $"doc_id", $"text", 13, 5)
            .select($"train_id".as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti")
      }
      free("06b_span_rewrite")
      // 5. temperature mix (α=0.5): damp the dominant language
      val mixed = stage("08_temperature_mix") {
        Sampling.temperatureResample(clean, $"lang", $"doc_id", alpha = 0.5)
          .filter($"kept").drop("keep_ppb", "kept")
      }
      free("07_decontam")
      // 5b (bpe mode). exact tokenizer accounting: train BPE on the
      // mixed corpus ONCE (distributed histogram + bounded driver merge
      // loop), persist the model, and run budget+packing on exact
      // Bpe.tokenCount numbers instead of the whitespace proxy
      val tok: Column => Column =
        if (!bpe) t => TextAnalysis.tokenCount(t)
        else {
          val t0 = System.nanoTime()
          val model = Bpe.train(mixed, $"text", numMerges = 2000)
          Bpe.save(model, spark, s"$root/bpe_model")
          val sec = (System.nanoTime() - t0) / 1e9
          stages.getOrElseUpdate("09a_bpe_train", Array.fill(runs)(0.0))(run) = sec
          rowsOut("09a_bpe_train") = model.merges.length.toLong
          println(f"""{"stage":"09a_bpe_train","run":$run,"sec":$sec%.2f,"rows_out":${model.merges.length}}""")
          t => Bpe.tokenCount(t, model)
        }
      // 6. per-language token budget: best docs first until the budget fills
      val budgeted = stage("09_token_budget") {
        Sampling.budgetSelect(mixed, $"lang",
          Seq($"n_chars".desc, $"doc_id".asc),
          tok($"text").cast("long"),
          budget = n * 8L).filter($"kept").drop("cum_weight", "kept")
      }
      free("08_temperature_mix")
      // 7. pack into context windows per language shard
      val packed = stage("10_packing") {
        Packing.sequencePacking(budgeted, "lang", "doc_id",
          tok($"text"), capacity = 4096)
      }
      free("09_token_budget")
      // 8+9. deterministic split, then training-order shards
      stage("11_split_shards") {
        val split = Sampling.hashSplit(packed, $"doc_id", Seq("train" -> 950, "val" -> 50))
        Sampling.shuffleShards(split.filter($"split" === "train"), $"doc_id", numShards = 64)
      }
      free("10_packing")
      benchDocs.unpersist()
    }

    val best = stages.map { case (k, v) => k -> v.min }
    val total = best.values.sum
    val stagesJson = stages.map { case (k, v) =>
      f""""$k":{"sec":${v.min}%.2f,"rows_out":${rowsOut(k)}}"""
    }.mkString("{", ",", "}")
    val codec = spark.conf.get("spark.sql.parquet.compression.codec")
    val dialsJson = dials.map { case (k, v) => s""""$k":{$v}""" }.mkString("{", ",", "}")
    println(s"""{"metric":"curation_stages","n_docs":$n,"runs":$runs,"skew":$skew,"bpe":$bpe,"codec":"$codec","dials":$dialsJson,"stages":$stagesJson}""")
    println(f"""{"metric":"curation_total","n_docs":$n,"skew":$skew,"bpe":$bpe,"codec":"$codec","sec":$total%.2f,"docs_per_sec":${n / total}%.0f,"final_rows":${rowsOut.last._2}}""")
    println(IoProbe.row("post", root))
    fs.delete(new Path(root), true)
    spark.stop()
  }
}
