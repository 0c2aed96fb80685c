package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Benchmark-contamination detection for a training-data pipeline: find
  * every (benchmark doc, train doc) pair that shares at least `minShared`
  * distinct word n-grams — the standard n-gram-collision test run before
  * training to prove eval sets are not embedded in the corpus.
  *
  * Shape: an inverted-index equi-join on the shingle hash (the same key
  * space as [[Dedup.jaccardPairs]]), never benchmark × corpus:
  *
  *   - both sides explode to (doc, shingle-hash) postings;
  *   - shingles in more than `maxShingleFreq` train docs are dropped
  *     first (boilerplate n-grams — license headers, navigation chrome —
  *     would otherwise create quadratic buckets; a contamination hit on
  *     boilerplate is noise, not leakage) — the df count runs only over
  *     bench-relevant shingles behind a broadcast semi filter, with
  *     map-side partial aggregation defusing hot shingles;
  *   - the pair's shared-shingle count is one hash aggregate on
  *     (bench_id, train_id).
  *
  * At 100 TB the benchmark side is tiny (eval suites are thousands of
  * docs, not billions) — it BROADCASTS as the build side — while the
  * train side streams through map-side and never enters an exchange.
  * Cost is two streaming passes over the train corpus plus the
  * output-bounded pair aggregate, never corpus² and never a
  * corpus-posting shuffle.
  */
object Contamination {

  /** Input-size gate for the one-scan persist of bench-relevant train
    * postings (see [[ngramOverlapPairs]]): below it both passes stay lazy
    * re-scans (cheap at that size, no cache residue); above it the slim
    * bench-relevant posting table — match-mass-bounded, a sliver of the
    * corpus — persists MEMORY_AND_DISK so the df pass and the join pass
    * cost ONE corpus scan + shingling instead of two. The cache entry
    * deliberately outlives the call (the returned frame recomputes from
    * it) — same contract as [[Dedup.duplicateSpans]]'s gate. */
  val PersistGateMinBytesKey = "spark.graft.contamination.persistGateMinBytes"
  val PersistGateMinBytesDefault: Long = 128L * 1024 * 1024

  /** Ceiling (optimizer estimate of the BENCH input) for broadcasting the
    * bench-derived tables. Eval suites are normally thousands of docs —
    * broadcasting keeps the train corpus map-side — but `broadcast()` is
    * a forced hint that bypasses `autoBroadcastJoinThreshold`, so a
    * genuinely large bench side (millions of docs) must fall back to
    * shuffle-hash builds instead of materializing its posting table on
    * the driver and every executor. Both paths are output-identical
    * (spec-pinned).
    *
    * The ceiling is deliberately measured on the INPUT estimate but what
    * actually broadcasts is the EXPLODED posting table — one ~24-byte
    * (id, size, hash) row per token vs ~6 text bytes per token, call it
    * 8× — so the default input ceiling of 128 MB keeps the materialized
    * build near 1 GB. Raise the dial only with driver/executor memory to
    * match. */
  val BenchBroadcastMaxBytesKey = "spark.graft.contamination.benchBroadcastMaxBytes"
  val BenchBroadcastMaxBytesDefault: Long = 128L * 1024 * 1024

  /** The bench-side build strategy: `broadcast` below the ceiling,
    * `shuffle_hash` hint above it. */
  private def benchBuild(bench: DataFrame): DataFrame => DataFrame =
    if (SizeGate.fits(bench.sparkSession, SizeGate.estimate(bench),
        BenchBroadcastMaxBytesKey, BenchBroadcastMaxBytesDefault)) df => broadcast(df)
    else df => df.hint("shuffle_hash")

  /** Bench-relevant slice of the train postings (`t` semi-filtered by the
    * bench shingle set via `build`), persisted above the size gate. */
  private def benchRelevant(t: DataFrame, benchH: DataFrame, train: DataFrame,
      build: DataFrame => DataFrame): DataFrame = {
    val rel = t.join(build(benchH), Seq("h"), "left_semi")
    if (!SizeGate.fits(train.sparkSession, SizeGate.estimate(train),
        PersistGateMinBytesKey, PersistGateMinBytesDefault))
      rel.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else rel
  }

  /** Inverted-index postings of a corpus: one row per (doc, distinct
    * shingle hash), the per-doc shingle count riding along. Shared by the
    * overlap operators here and [[TextAnalysis.targetAffinity]] — one
    * posting shape, so the empty-doc guard and size column cannot drift. */
  def postings(
      df: DataFrame, id: Column, text: Column, n: Int,
      idAlias: String, sizeAlias: String): DataFrame =
    df.select(id.as(idAlias), Dedup.shingleHashes(text, n).as("hs"))
      .filter(size(col("hs")) > 0)
      .select(col(idAlias), size(col("hs")).cast("long").as(sizeAlias),
        explode(col("hs")).as("h"))

  /** The hot-shingle-cap pipeline shared verbatim by [[ngramOverlapPairs]]
    * and [[ngramOverlapSpans]] — the scaladoc on each operator promises
    * matched cap semantics, so the plumbing exists ONCE and only the df
    * aggregate differs (`count` over the pairs operator's per-doc-distinct
    * postings ≡ `countDistinct(train_id)` over the spans operator's
    * position-carrying ones): semi-filter the train postings to
    * bench-relevant shingles (persisted above the gate), drop shingles in
    * more than `maxShingleFreq` train docs, and join the surviving bench
    * postings back. */
  private def capAndJoin(
      bench: DataFrame, b: DataFrame, t: DataFrame, train: DataFrame,
      maxShingleFreq: Long, dfAgg: Column): DataFrame = {
    val build = benchBuild(bench)
    val benchH = b.select(col("h")).distinct()
    val tRel = benchRelevant(t, benchH, train, build)
    val survivingH = tRel
      .groupBy(col("h")).agg(dfAgg.as("__df"))
      .filter(col("__df") <= maxShingleFreq)
      .select(col("h"))
    val bFiltered = b.join(build(survivingH), Seq("h"))
    // joining the bench-relevant slice is output-identical to joining the
    // full postings: bFiltered's shingles are a subset of the bench set
    tRel.join(build(bFiltered.withColumnRenamed("h", "h2")), col("h") === col("h2"))
  }

  /** → (bench_id, train_id, n_shared, bench_size, contaminated_permille)
    * for every cross-corpus pair with `n_shared ≥ minShared`.
    * `contaminated_permille` = ⌊n_shared·1000 / bench_size⌋: how much of
    * the benchmark doc's shingle set the train doc covers.
    *
    * @param normalize applied to BOTH texts before shingling — the standard
    *        contamination practice is to compare case-/punctuation-folded
    *        n-grams (e.g. `c => lower(c)`), since an eval answer pasted into
    *        a train doc rarely survives verbatim. Default `identity` keeps
    *        exact-surface semantics (and the q38 oracle) unchanged. */
  def ngramOverlapPairs(
      bench: DataFrame, benchId: Column, benchText: Column,
      train: DataFrame, trainId: Column, trainText: Column,
      n: Int, minShared: Int, maxShingleFreq: Long = 1000000L,
      normalize: Column => Column = identity): DataFrame = {
    val b = postings(bench, benchId, normalize(benchText), n, "bench_id", "bench_size")
    val t = postings(train, trainId, normalize(trainText), n, "train_id", "__tsz").drop("__tsz")
    // hot-shingle cap: TRAIN-side document frequency (each shingle appears
    // once per doc — shingleHashes is distinct within a doc), computed
    // ONLY for bench-relevant shingles: the (tiny) bench shingle set
    // broadcasts as a map-side semi filter, partial aggregation collapses
    // hot shingles BEFORE any exchange, and the surviving-shingle table —
    // ⊆ the bench shingle set — broadcasts back onto the build side. The
    // corpus posting mass never enters an exchange: the train side
    // streams map-side through the broadcast join and only the
    // (bench_id, train_id) pair aggregate — output-bounded by the cap —
    // shuffles. The previous form windowed df over a full corpus-posting
    // exchange (~16 GB at 10M docs) whose hot-shingle partitions were
    // unsplittable single-task sorts — the exact boilerplate pathology
    // the cap exists to defuse. Price: two passes over the train corpus —
    // paid as two SCANS below the persist gate (cheap there) and as ONE
    // scan + a cached match-mass-bounded slim table above it (the df pass
    // populates [[benchRelevant]]'s cache while building the broadcast,
    // the join pass reads it back) — never as a corpus-sized skewed
    // exchange.
    capAndJoin(bench, b, t, train, maxShingleFreq, count(lit(1)))
      .groupBy(col("bench_id"), col("train_id"))
      .agg(count(lit(1)).as("n_shared"), max(col("bench_size")).as("bench_size"))
      .filter(col("n_shared") >= minShared)
      .withColumn("contaminated_permille",
        TextAnalysis.perMille(col("n_shared"), col("bench_size")))
  }

  /** Span-level contamination: WHERE the leakage sits in each train doc.
    * For every (bench, train) pair sharing at least `minShared` DISTINCT
    * n-gram shingles, returns the maximal contiguous train-doc token spans
    * covered by leaked shingles — the mask a surgical decontamination pass
    * applies (cut those spans, e.g. via [[Dedup.removeSpans]], whose
    * half-open token indexing this output matches) instead of discarding
    * the whole document, which at 100 TB wastes real data on mostly-clean
    * docs.
    *
    * Same inverted-index shape as [[ngramOverlapPairs]] — bench side is
    * the distinct-shingle build side, train side the position-carrying
    * posting list ([[TextAnalysis.ngramHashesMultiset]] is ordered, so
    * `posexplode` IS the position index); never bench × corpus. The
    * hot-shingle cap counts DISTINCT train docs per shingle, matching the
    * pairs operator's semantics on its deduplicated postings. After the
    * join, the per-pair distinct-shingle count and the island merge are
    * windows sharing ONE (bench_id, train_id) exchange (two sort orders,
    * zero extra shuffles; the final group-by reuses the partitioning).
    * Islands merge on COVERAGE, gap ≤ n — same rationale as
    * [[Dedup.duplicateSpans]], whose span semantics this mirrors.
    *
    * → (bench_id, train_id, n_shared, span_start, span_end, n_grams):
    * disjoint, non-touching maximal half-open token spans
    * [span_start, span_end) per pair; `n_grams` = leaked shingle
    * occurrences merged into the span (repeat occurrences of a leaked
    * shingle are masked too); `n_shared` = the pair's distinct leaked
    * shingle count, constant across the pair's rows.
    */
  def ngramOverlapSpans(
      bench: DataFrame, benchId: Column, benchText: Column,
      train: DataFrame, trainId: Column, trainText: Column,
      n: Int, minShared: Int, maxShingleFreq: Long = 1000000L,
      normalize: Column => Column = identity): DataFrame = {
    val b = postings(bench, benchId, normalize(benchText), n, "bench_id", "__bsz")
      .drop("__bsz")
    val t = train
      .select(trainId.as("train_id"),
        posexplode(TextAnalysis.ngramHashesMultiset(normalize(trainText), n)))
      .select(col("train_id"), col("pos").cast("long").as("pos"), col("col").as("h"))
    // DISTINCT-doc df per shingle, computed only for bench-relevant
    // shingles — same two-pass broadcast shape (and one-scan persist gate)
    // as [[ngramOverlapPairs]] (the position-carrying posting mass NEVER
    // enters an exchange; the count_distinct's internal (h, train_id)
    // dedup exchange carries only bench-relevant rows). The previous form
    // stacked lag/sum windows over a full corpus-posting exchange.
    val joined = capAndJoin(bench, b, t, train, maxShingleFreq,
      countDistinct(col("train_id")))
    // per-pair distinct-shingle count as the same run-opener trick (h is
    // unique per (bench_id, train posting), so positions are unique within
    // a pair and the merge windows below see no duplicates)
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bench_id"), col("train_id"))
    val wpByH = wp.orderBy(col("h"), col("pos"))
    val opensShingle = when(
      lag(col("h"), 1).over(wpByH).isNull ||
        lag(col("h"), 1).over(wpByH) =!= col("h"), 1L).otherwise(0L)
    val wpByPos = wp.orderBy(col("pos"))
    joined
      .withColumn("n_shared", sum(opensShingle).over(wp))
      .filter(col("n_shared") >= minShared)
      .withColumn("__new",
        when(col("pos") - lag(col("pos"), 1).over(wpByPos) <= n, lit(0L))
          .otherwise(lit(1L)))
      .withColumn("__grp", sum(col("__new")).over(wpByPos))
      .groupBy(col("bench_id"), col("train_id"), col("__grp"))
      .agg(max(col("n_shared")).as("n_shared"),
        min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(n.toLong)).as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col("bench_id"), col("train_id"), col("n_shared"),
        col("span_start"), col("span_end"), col("n_grams"))
  }

  /** Semantic (embedding-space) contamination — the meaning-level sibling
    * of [[ngramOverlapPairs]]: flag every (benchmark, train) pair whose
    * embedding similarity reaches `minScoreQ`, catching paraphrased eval
    * leakage that shares no surface n-grams.
    *
    * Scores are the exact quantized integer dot
    * ([[Similarity.quantizedDot]] — engine-replayable; on unit vectors
    * ≈ cosine·10⁶). Shape: the benchmark side is eval-suite-sized, so it
    * BROADCASTS whole and the corpus streams through map-side — a
    * deliberate |bench|·|corpus| dot-product sweep with ZERO shuffles,
    * embarrassingly parallel (the same bounded-build-side rationale as
    * the n-gram operator's shuffle-hash bench side). For a benchmark side
    * too big to broadcast, pre-bucket both sides with
    * [[Similarity.lshTopK]]'s sign-random-projection tables instead and
    * confirm within buckets — the corpus-scale path.
    * → (bench_id, train_id, score). */
  def semanticOverlapPairs(
      bench: DataFrame, benchId: Column, benchEmb: Column,
      train: DataFrame, trainId: Column, trainEmb: Column,
      minScoreQ: Long): DataFrame = {
    // the broadcast() below is a FORCED hint that bypasses every size
    // threshold — the same hazard BenchBroadcastMaxBytes guards in the
    // n-gram operator — so a bench side too big to materialize on the
    // driver must fail fast with the documented LSH-bucketing pointer,
    // not OOM mid-collect
    val spark = bench.sparkSession
    val benchBytes = SizeGate.estimate(bench)
    require(SizeGate.fits(spark, benchBytes, BenchBroadcastMaxBytesKey, BenchBroadcastMaxBytesDefault),
      s"semanticOverlapPairs force-broadcasts the benchmark side, and this bench's " +
        s"optimizer SIZE ESTIMATE ($benchBytes bytes) exceeds $BenchBroadcastMaxBytesKey " +
        s"(${SizeGate.threshold(spark.sessionState.conf, BenchBroadcastMaxBytesKey, BenchBroadcastMaxBytesDefault)} " +
        "bytes). The estimate is a coarse " +
        "upper bound that inflates through upstream joins/filters — if the bench is " +
        "genuinely small, materialize it first (cache + count, or write/re-read) so the " +
        s"stats tighten, or raise $BenchBroadcastMaxBytesKey. For a benchmark genuinely " +
        "too big to broadcast, pre-bucket both sides with Similarity.lshTopK's " +
        "sign-random-projection tables and confirm within buckets")
    train.select(trainId.as("train_id"), trainEmb.as("__t_emb"))
      .crossJoin(broadcast(bench.select(benchId.as("bench_id"), benchEmb.as("__b_emb"))))
      .withColumn("score", Similarity.quantizedDot(col("__b_emb"), col("__t_emb")))
      .filter(col("score") >= minScoreQ)
      .select(col("bench_id"), col("train_id"), col("score"))
  }
}
