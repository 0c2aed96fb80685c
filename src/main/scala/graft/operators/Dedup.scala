package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

import graft.functions.{BoundedSortedCollect, MinHashSig, RemoveTokenSpans, RollingHash, ShingleHashes, SimHash, TokenHashes}

/** Deduplication operators for a training-data pipeline (builder prompt):
  * exact (hash-groupBy), n-gram Jaccard via inverted index, MinHash + LSH
  * banding, and SimHash. Everything is an equi-join / hash-aggregate on a
  * derived key — nothing quadratic in corpus size:
  *
  *  - exact:   one shuffle on the content hash.
  *  - jaccard: explode(shingles) → self-equi-join on shingle hash →
  *             count-per-pair. Output is bounded by truly-overlapping
  *             pairs; a hot shingle (stopword n-gram) bounds the bucket
  *             width, which `maxShingleFreq` caps explicitly.
  *  - minhash: k independent affine permutations min-aggregated per doc —
  *             one shuffle; LSH banding turns "similar" into an equi-join
  *             on (band, band signature).
  *  - simhash: 30-bit signature; banding into 3×10-bit chunks guarantees
  *             hamming ≤ 2 candidates meet in ≥1 chunk (pigeonhole).
  *
  * All hashes are engine-neutral integer arithmetic (see [[RollingHash]])
  * so the DuckDB oracle can replay them bit-for-bit.
  */
object Dedup {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Input-size gate for [[duplicateSpans]]'s eager sketch-filtered
    * mask pass — below it the operator stays lazy (see its scaladoc). */
  val BroadcastGateMinBytesKey = "spark.graft.spans.broadcastGateMinBytes"
  val BroadcastGateMinBytesDefault: Long = 128L * 1024 * 1024

  /** [[graft.functions.GramCountSketch]] sizing and build knobs for
    * [[duplicateSpans]]' above-gate path (see its scaladoc): cells per
    * optimizer-estimated input byte (a constant), the bitplane-bytes cap,
    * and the build strategy (auto | shared | perTask). */
  private val SketchCellsPerInputByte = 2.0
  val SketchMaxBytesKey = "spark.graft.spans.sketchMaxBytes"
  val SketchBuildKey = "spark.graft.spans.sketchBuild"

  /** MEMORY-AWARE default for [[SketchMaxBytesKey]] (unset ⇒ this; an
    * explicit conf always wins): total bitplane bytes = 1/8 of the heap
    * each live sketch shares, divided by how many sketches the build
    * strategy holds CONCURRENTLY — `shared` builds ONE JVM-wide sketch
    * (denominator 1); `perTask` holds one per concurrent build task
    * (executor cores — the class-doc sizing formula, now applied
    * automatically). The r11 30M step-up showed why a FIXED cap cannot
    * be the default: the 1 GiB cap that sizes correctly on an 8 GB heap
    * left the 30M-doc sketch at load 0.634 (75% false-positive rate —
    * the "pre-filter" passed 3/4 of the singleton mass) and the stage at
    * 649 s, where the SAME session with planes sized to the corpus
    * (load 0.226) ran 252 s — 2.6×, identical rows (SpanBench r12).
    * heap/8 reproduces the old default exactly on the 8 GB heap it was
    * implicitly tuned for, and scales with the hardware the way a real
    * cluster sizes every other memory region. The 64 MB floor (2.7e8
    * cells — enough to discriminate on a just-above-gate input, whose
    * desired cells are ~3e8) applies to the TOTAL budget BEFORE the
    * concurrency divide: a per-sketch floor would multiply by task
    * concurrency on small executors (1 GB heap × 8 cores ⇒ 8 × 64 MB =
    * 512 MB of bitplanes, 4× the heap/8 budget the divisor exists to
    * protect), reintroducing the very over-budget build it guards
    * against. A tiny per-sketch share on such hosts (e.g. 16 MB) may
    * saturate — and then [[SketchMinSizingRatioKey]]'s gate skips the
    * sketch, which is the correct degradation: honest memory bound
    * first, sketch second. */
  private[operators] def autoSketchMaxBytes(spark: org.apache.spark.sql.SparkSession): Long = {
    val sc = spark.sparkContext
    val resolved = spark.sessionState.conf.getConfString(SketchBuildKey, "auto") match {
      case "auto" => if (sc.isLocal) "shared" else "perTask"
      case s => s
    }
    val (heapBytes, concurrent) =
      if (sc.isLocal)
        (Runtime.getRuntime.maxMemory,
          if (resolved == "shared") 1 else math.max(sc.defaultParallelism, 1))
      else
        (sc.getConf.getSizeAsBytes("spark.executor.memory", "1g"),
          if (resolved == "shared") 1 else math.max(sc.getConf.getInt("spark.executor.cores", 1), 1))
    math.max(heapBytes / 8L, 64L * 1024 * 1024) / concurrent
  }

  /** Minimum achievable/desired cell ratio below which [[duplicateSpans]]
    * SKIPS the sketch and keeps the lazy exact count: a sketch capped far
    * below its sizing target saturates (load ≫ 0.5), passes nearly every
    * gram, and the build + probe become pure overhead on top of the same
    * exchange the sketch was meant to remove. Measured at 10M docs with a
    * 12× undersized cap: the saturated-sketch path cost 222 s where the
    * plain lazy exchange costs ~98 s. At a corpus scale whose desired
    * cells exceed any constructible plane (a true 100 TB input), this is
    * the branch that fires — the exact exchange is then intrinsic.
    *
    * 0.25 is calibrated by the r12 30M-doc three-leg measurement, which
    * bounds the break-even from both sides: at ratio 0.253 (4×
    * undersized — the old fixed 1 GiB cap) the sketch ran load 0.634 /
    * 75% false-positive rate and the stage took 649 s, yet STILL beat
    * the lazy branch, which never finished — its two full postings
    * exchanges exhausted 65 GB of shuffle scratch (the sketch path's
    * sliver kept the same stage inside it). A corpus-sized plane (load
    * 0.226, [[autoSketchMaxBytes]]'s sizing) ran 252 s, same session,
    * identical rows. So: even a saturated-but-standing sketch prunes
    * the ~25% that decides whether the exchange fits the disk — the
    * floor should only fire when the sketch genuinely cannot
    * discriminate (the 12× regime above), not merely when it is
    * degraded. Do not raise it without re-measuring both legs. */
  val SketchMinSizingRatioKey = "spark.graft.spans.sketchMinSizingRatio"
  val SketchMinSizingRatioDefault: Double = 0.25

  /** Input-size bound under which [[duplicateSpans]]' above-gate path
    * CACHES the per-doc gram arrays across its two passes (sketch build +
    * postings) instead of re-tokenizing the corpus — see its scaladoc.
    * Sized against the same optimizer estimate as the main gate. */
  val GramCacheMaxBytesKey = "spark.graft.spans.gramCacheMaxBytes"
  val GramCacheMaxBytesDefault: Long = 64L * 1024 * 1024 * 1024

  /** Increment-size bound under which [[incrementalNearDupPairs]]
    * broadcast-hints the increment's touched-bucket key set into the
    * semi-join that prunes the persisted index (see its scaladoc). */
  val IncrementBroadcastMaxBytesKey = "spark.graft.incremental.broadcastProbeMaxBytes"
  val IncrementBroadcastMaxBytesDefault: Long = 256L * 1024 * 1024

  def rollingHash(c: Column): Column = Bridge.column(RollingHash(Bridge.expression(c)))
  def simhash(c: Column): Column = Bridge.column(SimHash(Bridge.expression(c)))

  /** `array_sort(collect_list(c))` fused with the `[minSize, cap]` size
    * filter and the cap enforced DURING aggregation — [[collectPairs]]'
    * memory guarantee lives here, see
    * [[graft.functions.BoundedSortedCollect]]. NULL result = dropped
    * group; callers filter `isNotNull`. */
  def boundedSortedCollect(c: Column, minSize: Int, cap: Int): Column =
    Bridge.column(
      BoundedSortedCollect(Bridge.expression(c), minSize, cap).toAggregateExpression())

  /** THE band-signature encoding. For the r = k/bands = 2 configuration
    * every LSH path runs, the band's two minhash rows — each in
    * [0, 10⁹+7) by [[graft.functions.MinHashSig]]'s modulus — pack
    * BIJECTIVELY into one long: sig = mh₀·(10⁹+7) + mh₁ < 2⁶⁰. A numeric
    * key keeps the band exchange slim (8-byte sort/hash keys instead of
    * ~21-char strings: the hot-bucket cap window sorts and the bucket
    * self-join hashes this column for EVERY band row — measured ~25%
    * off the 10M-doc pair-mining stage) and replays exactly in DuckDB
    * (`mh_0 * 1000000007 + mh_1`, BIGINT-safe: the product is < 2⁶⁰).
    * Other r fall back to the "_"-joined string form (no oracle replays
    * them). Batch LSH, the incremental index probe, and the DuckDB
    * oracles must all agree on this one definition — a drifted copy
    * silently breaks the spec-pinned incremental ≡ batch equivalence. */
  private[operators] def bandKey(values: Seq[Column]): Column =
    if (values.length == 2) values(0) * lit(1000000007L) + values(1)
    else concat_ws("_", values: _*)

  /** THE banded-signature derivation (band b = minhash slots
    * [b·r, (b+1)·r), r = k/bands, keyed by [[bandKey]]) — one definition
    * shared by every LSH path; the two forms cover the array-column and
    * persisted per-column `mh_i` signature layouts. A drifted copy
    * silently breaks the spec-pinned incremental ≡ batch equivalence. */
  private[operators] def bandSignatures(mh: Column, k: Int, bands: Int): Seq[Column] = {
    require(k % bands == 0, s"bands=$bands must divide k=$k")
    val r = k / bands
    (0 until bands).map(b => bandKey((0 until r).map(i => mh(b * r + i))))
  }

  private[operators] def bandSignaturesFromCols(k: Int, bands: Int): Seq[Column] = {
    require(k % bands == 0, s"bands=$bands must divide k=$k")
    val r = k / bands
    (0 until bands).map(b => bandKey((0 until r).map(i => col(s"mh_${b * r + i}"))))
  }

  /** THE Jaccard per-mille formula: ⌊common·1000 / (|a|+|b|−common)⌋.
    * Long integer division (no double round-trip): exact past 2^53, same
    * [[org.apache.spark.sql.catalyst.expressions.IntegralDivide]] ↔
    * DuckDB `//` pairing as the TF-cosine operator; the denominator is
    * ≥ max(|a|,|b|) ≥ 1 for any pair the join can emit. */
  private[operators] def jaccardPermille(common: Column, aSize: Column, bSize: Column): Column =
    Bridge.column(org.apache.spark.sql.catalyst.expressions.IntegralDivide(
      Bridge.expression(common.cast("long") * lit(1000L)),
      Bridge.expression((aSize + bSize - common).cast("long")))).cast("long")

  /** Exact-duplicate groups by content hash (md5 — engine-independent).
    * → (content_hash, n_copies, canonical_id = min id). */
  def exactGroups(df: DataFrame, text: Column, id: Column): DataFrame =
    df.groupBy(md5(text).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min(id).as("canonical_id"))

  /** The exact-dedup DECISION in output-bounded form: every NON-canonical
    * member of an exact-duplicate group, with the canonical it loses to.
    * → (doc_id, canonical_id = min id of the group), duplicates only.
    *
    * This is the shape a 100 TB pass applies the decision with: the
    * corpus TEXT is scanned ONCE (for the slim (id, 32-char md5)
    * projection) and never shuffled — the per-hash min window exchanges
    * and sorts only the 40 B/doc projection — and the result is
    * duplicate-sized, so the follow-up `corpus ANTI JOIN dropList`
    * joins against a broadcast. Spelling choices, A/B'd in
    * `ExactDedupBench` at 10M docs/6.4 GB across three sessions: the
    * window (this form), an aggregate + loser-join form (no sort, but a
    * SECOND full text scan to name the losers), and the keep-side semi
    * on `exactGroups`' canonicals all land in the host's I/O band
    * (pooled bests 9.1 / 11.1 / 7.2 s, ordering flipping between
    * sessions) — locally the forms are indistinguishable, so the choice
    * is structural: at corpus scale one EXTRA full text scan (the agg
    * spelling) dwarfs a slim-projection sort, and the semi's
    * corpus-sized keep list is never broadcastable, so it exchanges the
    * full corpus text by id. [[exactDeduplicate]] gates semi-vs-anti by
    * input size. Same keep set every way — anti-on-duplicates ≡
    * semi-on-canonicals is pinned in `DedupSpec`, and the q77 oracle
    * replays this window in DuckDB. */
  def exactDropList(df: DataFrame, text: Column, id: Column): DataFrame =
    df.select(id.as("doc_id"), md5(text).as("content_hash"))
      .withColumn("canonical_id",
        min(col("doc_id")).over(Window.partitionBy(col("content_hash"))))
      .filter(col("doc_id") =!= col("canonical_id"))
      .select(col("doc_id"), col("canonical_id"))

  /** Size bound (optimizer-estimated input bytes) under which
    * [[exactDeduplicate]] keeps survivors with the semi join on
    * `exactGroups`' canonical ids instead of the anti join on
    * [[exactDropList]]. Both branches scan the corpus text exactly twice
    * (hash pass + apply pass — Spark never merges scans across join
    * branches); what the gate decides is the EXCHANGE shape. Below it,
    * the semi's corpus-sized canonical-id list is a tolerable exchange
    * (or a broadcast under a raised threshold) and it skips the
    * drop-list's window sort — the historical measured shape, inside the
    * host band of the alternatives at 10M docs (`ExactDedupBench`).
    * Above it the calculus flips: the keep list stops being
    * broadcastable at corpus scale, so the semi exchanges the full
    * corpus TEXT by id, while the drop-list path sorts only a slim
    * 40 B/doc projection and anti-joins a duplicate-sized broadcast. An
    * unknown-size input (the `defaultSizeInBytes` sentinel on
    * non-file-backed plans) takes the anti path: scale-safe by default. */
  val ExactSemiMaxBytesKey = "spark.graft.exact.semiMaxBytes"
  val ExactSemiMaxBytesDefault: Long = 8L * 1024 * 1024 * 1024

  /** One-call exact dedup: survivors of `df` keeping the min-id doc per
    * content-hash group — `idCol` must name a column of `df`. Picks the
    * apply shape by measured input size (see [[ExactSemiMaxBytesKey]]);
    * both branches produce the identical keep set (property-pinned).
    * Rows with a NULL id are dropped on BOTH branches: a row without an
    * identity cannot carry a dedup decision, and leaving it to the join
    * semantics would flip its fate across the gate (a semi join never
    * matches a null key — drops it; an anti join never matches either —
    * KEEPS it). */
  def exactDeduplicate(df: DataFrame, text: Column, idCol: String): DataFrame = {
    val small = SizeGate.fits(df.sparkSession, SizeGate.estimate(df),
      ExactSemiMaxBytesKey, ExactSemiMaxBytesDefault)
    val rows = df.filter(col(idCol).isNotNull)
    if (small)
      rows.join(exactGroups(rows, text, col(idCol)).select(col("canonical_id").as(idCol)),
        Seq(idCol), "left_semi")
    else
      rows.join(exactDropList(rows, text, col(idCol)).select(col("doc_id").as(idCol)),
        Seq(idCol), "left_anti")
  }

  /** Corpus snapshot diff — the audit step after a pipeline change or a
    * source refresh: every doc id in either snapshot with its status
    * (`added` / `removed` / `changed` / `unchanged`) by content hash.
    * "Did the new crawl/scrubber change what I think it changed?" is one
    * groupBy over the output.
    *
    * Hashing happens map-side BEFORE the join, so the full-outer
    * sort-merge shuffles (id, 32-char hash) rows, never the document
    * payloads — at 100 TB the exchange mass is id-table-sized. Ids must
    * be unique non-null per snapshot (it is a keyed diff, not a multiset
    * diff).
    * → (doc_id, status, old_hash, new_hash). */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame, id: Column, text: Column): DataFrame = {
    val o = oldDf.select(id.as("doc_id"), md5(text).as("old_hash"))
    val n = newDf.select(id.as("doc_id"), md5(text).as("new_hash"))
    o.join(n, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("old_hash").isNull, lit("added"))
          .when(col("new_hash").isNull, lit("removed"))
          .when(col("old_hash") === col("new_hash"), lit("unchanged"))
          .otherwise(lit("changed")))
  }

  /** Distinct word n-gram shingles of `text` — `array_distinct` over the
    * single shared gram builder ([[TextAnalysis.ngramsMultiset]]), so the
    * windowing/empty-guard logic lives in exactly one place. */
  def shingles(text: Column, n: Int): Column =
    array_distinct(TextAnalysis.ngramsMultiset(text, n))

  /** Distinct shingle hashes — the join/sketch key space. Fused codegen
    * kernel; [[shinglesComposed]] is the Column-composition reference it is
    * property-tested against. */
  def shingleHashes(text: Column, n: Int): Column =
    Bridge.column(ShingleHashes(Bridge.expression(text), n))

  /** Reference implementation of [[shingleHashes]] from built-ins only —
    * kept for the equivalence spec. */
  def shingleHashesComposed(text: Column, n: Int): Column =
    transform(shingles(text, n), s => rollingHash(s))

  /** Per-token hashes, duplicates kept (fused kernel). */
  def tokenHashes(text: Column): Column =
    Bridge.column(TokenHashes(Bridge.expression(text)))

  /** All pairs (a < b) with n-gram Jaccard ≥ `minJaccard`, via the
    * inverted-index equi-join. Shingles occurring in more than
    * `maxShingleFreq` docs are dropped from the index (standard
    * hot-token cap — a stopword shingle would otherwise create a
    * quadratic bucket); the per-doc size used in the Jaccard denominator
    * still counts them.
    * → (a_id, b_id, common, a_size, b_size, jaccard_permille).
    */
  def jaccardPairs(
      df: DataFrame, id: Column, text: Column, n: Int,
      minJaccardPermille: Int, maxShingleFreq: Long = 1000000L): DataFrame = {
    // NULL-id rows are dropped up front: the self-join's a < b predicate
    // drops them anyway (NULL comparison), but a NULL-id row would still
    // count toward its shingles' df — the explicit filter keeps it out of
    // the cap as well
    val docs = df.select(id.as("doc"), shingleHashes(text, n).as("hs"))
      .filter(col("doc").isNotNull && size(col("hs")) > 0)
    // The per-doc size rides along in the index rows (one long per row), so
    // the Jaccard denominator never needs a join back to a sizes table —
    // that join-back is two extra doc-keyed shuffles at corpus scale. The
    // self-join's h-exchange is planned identically on both sides, so AQE
    // materializes it once (ReuseExchange); no manual repartition needed.
    val index = docs
      .select(col("doc"), size(col("hs")).as("sz"), explode(col("hs")).as("h"))
    // df prune as a WINDOW over the one h-exchange, not a separate
    // aggregate branch: the aggregate formulation re-scans and re-shingles
    // the whole corpus for its branch (per-branch pruning keeps AQE from
    // reusing the exchange), while the window count rides the exchange the
    // self-join needs anyway — one corpus pass total, measured 1.9× at
    // sf0.1. df_count per h = #docs containing the shingle (shingles are
    // distinct per doc). >= 2: a single-doc shingle cannot form a pair
    // (pure optimization, output-invariant); <= maxShingleFreq: the hot
    // cap. The per-h window sort is external and spillable — a capped hot
    // key is bounded work, and those rows reach the join regardless.
    // Size-bound prune (output-invariant): common ≤ min(|a|,|b|) and
    // union ≥ max(|a|,|b|), so J ≤ min/max — a pair whose sizes differ by
    // more than 1000/τ can never reach the threshold. Evaluated before
    // the per-pair count shuffle.
    val sizeCompatible =
      col("a_size") * lit(1000L) >= col("b_size") * lit(minJaccardPermille.toLong) &&
      col("b_size") * lit(1000L) >= col("a_size") * lit(minJaccardPermille.toLong)
    val wh = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
    val pruned = index.withColumn("df_count", count(lit(1)).over(wh))
      .filter(col("df_count") <= maxShingleFreq && col("df_count") >= 2)
      .drop("df_count")
    // shuffle_hash: the posting-list side is never broadcast-built (it is
    // corpus-sized); the identical exchanges on both sides are
    // materialized once by AQE's ReuseExchange.
    pruned.select(col("h"), col("doc").as("a_id"), col("sz").as("a_size"))
      .hint("shuffle_hash")
      .join(pruned.select(col("h").as("h2"), col("doc").as("b_id"), col("sz").as("b_size")),
        col("h") === col("h2") && col("a_id") < col("b_id") && sizeCompatible)
      .select(col("a_id"), col("a_size"), col("b_id"), col("b_size"))
      .groupBy(col("a_id"), col("b_id"))
      // sizes are functionally dependent on the ids; max() (not first())
      // keeps the aggregate readably deterministic
      .agg(count(lit(1)).as("common"),
        max(col("a_size")).as("a_size"), max(col("b_size")).as("b_size"))
      .withColumn("jaccard_permille",
        jaccardPermille(col("common"), col("a_size"), col("b_size")))
      .filter(col("jaccard_permille") >= minJaccardPermille)
  }

  /** Observability dial for [[jaccardPairs]]' hot-shingle cap — the
    * jaccard-side sibling of [[cappedLshBuckets]]: which shingle hashes
    * exceed `maxShingleFreq` document frequency (and so are dropped from
    * the inverted index), with their exact df.
    * Dropping a shingle from the index removes it from `common` but not
    * from the Jaccard DENOMINATOR (per-doc sizes count it), so the dial's
    * rows are exactly the per-pair intersection mass the cap can shave.
    *
    * Scale shape: one map-side-combined aggregate over the slim
    * (hash) explode — hot shingles are precisely the keys partial
    * aggregation collapses best; nothing corpus-sized shuffles. The
    * NULL-id / empty-shingle filters mirror [[jaccardPairs]]' entry
    * filters so the dial counts the df the pipeline actually sees.
    * → (h, df_count), df_count > maxShingleFreq. */
  def hotShingles(
      df: DataFrame, id: Column, text: Column, n: Int,
      maxShingleFreq: Long): DataFrame = {
    df.select(id.as("doc"), shingleHashes(text, n).as("hs"))
      .filter(col("doc").isNotNull && size(col("hs")) > 0)
      .select(explode(col("hs")).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("df_count"))
      .filter(col("df_count") > maxShingleFreq)
  }

  /** Bag-of-words cosine near-dup pairs over token-FREQUENCY vectors —
    * the sparse-vector sibling of [[jaccardPairs]] (Jaccard sees a
    * shingle once; cosine weights by how often a token repeats, so it
    * catches "same vocabulary, different order" rewrites that shingle
    * overlap misses).
    *
    * Semantics: the vocabulary is first pruned to tokens appearing in at
    * most `maxTokenDf` documents (the standard stopword/boilerplate cap —
    * it is PART of the metric, norms included, exactly like stopword
    * removal before vectorizing); over that vocabulary,
    * `cos²(a,b)·1000 = ⌊1000·dot²/(‖a‖²·‖b‖²)⌋` in EXACT integer
    * arithmetic (squares avoid sqrt; every engine replays bit-for-bit —
    * exact while ‖·‖² < ~3·10⁶, far above any real document).
    *
    * Shape: inverted index on the token hash, built in ONE corpus pass —
    * the df cap and the per-doc norms are WINDOWS over the (doc, h)
    * aggregate (count over h-partitioning, then Σtf² over
    * doc-partitioning), not separate aggregate branches: a
    * branch-and-join-back formulation re-executes the corpus-sized
    * scan+explode subtree once per branch, because per-branch column
    * pruning rewrites each copy differently and defeats AQE's exchange
    * reuse (same one-pass rationale as [[jaccardPairs]], measured there).
    * Window order is part of the semantics: the cap filter runs BEFORE
    * the norm window (capped tokens are outside the metric, norms
    * included), the df≥2 prune after (output-invariant: a single-doc
    * token contributes to its norm but never to a pair's dot). Then the
    * h-keyed shuffle_hash self-join (one exchange, read twice) and one
    * pair aggregate. Cost is posting-list overlap mass bounded by the df
    * cap — never corpus².
    *
    * A bucket-collect shape (the one [[bucketedPairs]] uses) does NOT
    * port here by design: the norm is a DOC-keyed sum over the
    * df-capped postings, so it must be attached to each posting BEFORE
    * the h-keyed pair stage — a bucket-collect would still need the
    * doc-keyed norm exchange plus a join back (two extra exchanges),
    * erasing the window+join savings it buys elsewhere. The window
    * chain (cap on h, norm on doc) stays the minimal-exchange shape.
    * → (a_id, b_id, dot, a_norm2, b_norm2, cos2_permille). */
  def tfCosinePairs(
      df: DataFrame, id: Column, text: Column,
      minCos2Permille: Int, maxTokenDf: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = df.select(id.as("doc"), explode(tokenHashes(text)).as("h"))
      .groupBy(col("doc"), col("h")).agg(count(lit(1)).as("tf"))
    val postings = tf
      .withColumn("df_count", count(lit(1)).over(Window.partitionBy(col("h"))))
      .filter(col("df_count") <= maxTokenDf)
      .withColumn("n2", sum(col("tf") * col("tf")).over(Window.partitionBy(col("doc"))))
      .filter(col("df_count") >= 2)
    val cos2 = Bridge.column(org.apache.spark.sql.catalyst.expressions.IntegralDivide(
      Bridge.expression(lit(1000L) * col("dot") * col("dot")),
      Bridge.expression(col("a_norm2") * col("b_norm2"))))
    postings.select(col("h"), col("doc").as("a_id"), col("tf").as("a_tf"), col("n2").as("a_n2"))
      .hint("shuffle_hash")
      .join(postings.select(col("h").as("h2"), col("doc").as("b_id"),
          col("tf").as("b_tf"), col("n2").as("b_n2")),
        col("h") === col("h2") && col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      // norms are functionally dependent on the ids (max() for readable
      // determinism, same as jaccardPairs)
      .agg(sum(col("a_tf") * col("b_tf")).as("dot"),
        max(col("a_n2")).as("a_norm2"), max(col("b_n2")).as("b_norm2"))
      .withColumn("cos2_permille", cos2)
      // ⌊1000·dot²/D⌋ ≥ τ  ⟺  1000·dot² ≥ τ·D for integer τ, so filtering
      // on the floored output is the exact threshold
      .filter(col("cos2_permille") >= minCos2Permille)
  }

  /** Deterministic affine-permutation parameters for MinHash: k pairs
    * (aᵢ, bᵢ), aᵢ odd so it is a bijection mod 2³¹ regions; generated from
    * a fixed linear congruential walk so the oracle SQL can embed the same
    * constants. */
  def minhashParams(k: Int, seed: Long = 42L): Seq[(Long, Long)] = {
    var x = seed
    def next(): Long = { x = (x * 6364136223846793005L + 1442695040888963407L) & 0x7fffffffL; x }
    (0 until k).map { _ =>
      val a = next() % 100000 * 2 + 1 // odd, < 2·10⁵
      val b = next() % 1000000007L
      (a, b)
    }
  }

  /** k-permutation MinHash signature array per row (null when no shingles):
    * mhᵢ = min over shingle hashes h of (aᵢ·h + bᵢ) mod 1e9+7. A pure
    * per-row expression — NO explode, NO aggregate, NO shuffle (the fused
    * [[MinHashSig]] kernel; parameter parity with [[minhashParams]] is
    * spec-pinned). */
  def minhashSigArray(text: Column, n: Int, k: Int): Column =
    Bridge.column(MinHashSig(Bridge.expression(shingleHashes(text, n)), k))

  /** MinHash signature table → (id, mh_0 … mh_{k-1}). Docs with no shingles
    * are absent. Narrow-only plan: the signature is computed per row. */
  def minhashSignatures(df: DataFrame, id: Column, text: Column, n: Int, k: Int): DataFrame = {
    val withSig = df.select(id.as("doc"), minhashSigArray(text, n, k).as("__sig"))
      .filter(col("__sig").isNotNull)
    withSig.select(col("doc") +: (0 until k).map(i => col("__sig")(i).as(s"mh_$i")): _*)
  }

  /** LSH candidate pairs from banded minhash signatures: docs agreeing on
    * ALL rows of at least one band meet in an equi-join bucket. A pair
    * sharing several (surviving — see the cap in [[bucketedPairs]]) bands
    * is emitted exactly once via the slim (a, b)-keyed aggregate inside
    * [[bucketedPairs]]. → (a_id, b_id), a < b. */
  def lshCandidates(sig: DataFrame, k: Int, bands: Int,
      maxBucketSize: Int = 10000): DataFrame = {
    // rebuild the signature array from the persisted mh_i columns (cheap
    // column refs — the inline-explode rule in [[bucketedPairs]] is about
    // kernel-bearing lineages, which a stored table doesn't have)
    val withSig = sig.select(col("doc"),
      array((0 until k).map(i => col(s"mh_$i")): _*).as("__sig"))
    bucketedPairs(withSig, k, bands, maxBucketSize)
  }

  /** Band-bucket self-join core over SLIM rows: explode band signatures
    * to (doc, band, sig), equi-join on (band, sig) with a < b, then
    * collapse to exactly-once pairs with a (a, b)-keyed aggregate.
    * → (a_id, b_id).
    *
    * The rows that shuffle are ~40 bytes each — the doc id and the band
    * key, NOTHING else. An earlier design carried the per-doc shingle
    * array through this exchange so the Jaccard verify could run inline
    * on the joined row; measured at 10M docs that payload made the band
    * exchange ~34 GB and the self-join's hash tables ~500 MB per task,
    * and the pair stage spent ~800 s almost entirely in that exchange.
    * The slim formulation shuffles ~1.5 GB for the same corpus and pays
    * instead with one output-sized aggregate (candidate pairs, 16-byte
    * rows) and — in [[minhashNearDupPairs]] — two joins against a
    * candidate-filtered shingle table. At any scale candidates ≪ corpus
    * shingle mass, so this trade is the right one everywhere except toy
    * inputs, where both are milliseconds.
    *
    * `maxBucketSize` is the REQUIRED hot-bucket dial at corpus scale:
    * boilerplate (shared page chrome, license headers, shared prefixes)
    * makes many documents draw their minhash minima from the SAME shared
    * shingles, so one (band, sig) bucket collects a whole boilerplate
    * cluster — B docs ⇒ B² candidate pairs, all materialized in the ONE
    * shuffle task that owns the bucket (measured: a 12-token prefix
    * shared by 8M of 10M synthetic docs put ~10⁵ docs in single buckets
    * ⇒ ~10¹⁰ pairs through one task — the job crawls on one core for
    * hours). Over-cap buckets are dropped BEFORE any pair materializes
    * — [[collectPairs]] enforces the cap INSIDE its bounded aggregate
    * (element cap+1 flips the bucket's buffer to an O(1) marker, see
    * [[boundedSortedCollect]]) — and a hot bucket costs at most cap ids
    * (≤ a few MB for the 10⁴ default) in one partition. Contract: a
    * pair surfaces iff AT LEAST ONE shared band's bucket is uncapped —
    * a boilerplate cluster is pruned as a whole, never resurrected
    * pair-by-pair, while pairs that merely graze a hot bucket keep their
    * other bands (spec-pinned in `DedupSpec`). The exactly-once
    * aggregate makes capped and uncapped modes emit identical pairs on
    * cap-free corpora (the oracle fixtures' regime). The default
    * (10000) is far above any bucket the oracle fixtures produce and
    * still bounds per-bucket pair mass at 10⁸. Capped-away recall is
    * observable via [[cappedLshBuckets]]. */
  private def bucketedPairs(withSig: DataFrame, k: Int, bands: Int,
      maxBucketSize: Int): DataFrame = {
    // The (band, sig) rows are exploded from an INLINE array-of-structs,
    // never from a projected alias: `posexplode(col("bs"))` on an
    // aliased array makes the optimizer's inferred Generate filter
    // (`size(bs) > 0`) inline the whole band-array construction into the
    // SCAN filter — 2·bands extra minhash-kernel evaluations per row
    // (measured ~2× the 10M-doc stage) — while the inline form's
    // inferred filter constant-folds away (the array size is a literal).
    val bandCols = bandSignatures(col("__sig"), k, bands).zipWithIndex.map {
      case (sig, b) => struct(lit(b).as("band"), sig.as("sig"))
    }
    // NULL-id rows are dropped up front (one row each, before the ×bands
    // explode): the bucket collect would otherwise count them toward the
    // bucket SIZE the cap sees (spec-pinned).
    val exploded = withSig
      .filter(col("doc").isNotNull)
      .select(col("doc"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc"), col("bk.band").as("band"), col("bk.sig").as("sig"))
    collectPairs(exploded, maxBucketSize)
  }

  /** Bucket pairs: ONE grouped aggregate over the slim band
    * exchange collects each bucket's (distinct-by-construction) doc ids
    * into a sorted array; the hot-bucket cap is then a plain size filter
    * on the bucket row, and pairs fall out of a posexplode + slice
    * explode (a < b guaranteed by the sort). Versus the count-window +
    * shuffle_hash self-join it replaced (measured at 10M docs: 27.9 /
    * 31.7 s against 32.6 / 42.8 s, identical pairs) this removes the
    * window's per-side sort passes and the join's hash-table
    * build/probe — the band exchange is consumed exactly once — at the
    * cost of the object-aggregate machinery (the collect's
    * sort-based fallback on the high-cardinality bucket key). Memory is
    * bounded BY THE AGGREGATE ITSELF: [[boundedSortedCollect]] flips a
    * hot bucket's buffer to an O(1) overflow marker at element cap+1 and
    * releases the backing array, so an over-cap bucket never holds more
    * than cap ids in memory — the plain collect_list → size-filter
    * formulation (the r11 shape) materialized the FULL hot
    * bucket first, which for a boilerplate key with df in the tens of
    * millions is a multi-hundred-MB buffer in one task, the exact OOM
    * the cap exists to prevent. The slice-explode's transient copies
    * are bucket-sized (≤ cap), never pair-mass-sized. */
  private def collectPairs(exploded: DataFrame, maxBucketSize: Int): DataFrame = {
    // minSize=2: a single-doc bucket cannot form a pair. The cap rides
    // inside the aggregate (see scaladoc); NULL = dropped bucket, so one
    // isNotNull filter covers both ends, capped and uncapped modes alike
    val buckets = exploded
      .groupBy(col("band"), col("sig"))
      .agg(boundedSortedCollect(col("doc"), 2, maxBucketSize).as("__docs"))
      .filter(col("__docs").isNotNull)
    buckets
      .select(posexplode(col("__docs")).as(Seq("__i", "a_doc")), col("__docs"))
      // slice is 1-based: partner everything strictly after position __i
      .select(col("a_doc"),
        explode(slice(col("__docs"), col("__i") + lit(2), size(col("__docs")))).as("b_doc"))
      .groupBy(col("a_doc").as("a_id"), col("b_doc").as("b_id"))
      .agg(count(lit(1)).as("__nb"))
      .drop("__nb")
  }

  /** Observability companion to the hot-bucket cap: the (band, band
    * signature) buckets a capped LSH pass drops, with their sizes — the
    * recall the cap gave up, as data instead of a silent default. Same
    * shingle→minhash→band derivation as [[minhashNearDupPairs]]; one
    * map-side-combined aggregate (the hot buckets are exactly the keys
    * partial aggregation collapses best). A pair of truly-similar docs is
    * lost to capping only when EVERY band they share appears here.
    * → (band, sig, bucket_size), bucket_size > maxBucketSize. */
  def cappedLshBuckets(
      df: DataFrame, id: Column, text: Column,
      n: Int, k: Int, bands: Int, maxBucketSize: Int = 10000): DataFrame = {
    // same NULL-id filter as bucketedPairs: the observability dial must
    // report the bucket sizes the pair pipeline actually caps on, and
    // since r12 that pipeline excludes NULL-id rows up front — without
    // the mirror filter a bucket at exactly the cap plus one NULL row
    // would be reported capped here while the pairs survive there
    val base = df.select(id.as("doc"), minhashSigArray(text, n, k).as("__sig"))
      .filter(col("doc").isNotNull && col("__sig").isNotNull)
    base.select(posexplode(array(bandSignatures(col("__sig"), k, bands): _*)).as(Seq("band", "sig")))
      .groupBy(col("band"), col("sig"))
      .agg(count(lit(1)).as("bucket_size"))
      .filter(col("bucket_size") > maxBucketSize)
  }

  /** MinHash-LSH near-dup pairs: LSH candidates re-verified with exact
    * n-gram Jaccard (deterministic: a fixed-parameter LSH either surfaces
    * a pair or not; the verify step removes false positives).
    *
    * Plan shape (the 100 TB-relevant property is that NOTHING
    * corpus-sized ever carries the shingle arrays through a shuffle):
    *
    *  1. candidate pairs from the SLIM band-bucket core
    *     ([[bucketedPairs]]: ~40-byte rows through the one band
    *     exchange — consumed ONCE by [[collectPairs]]' grouped bucket
    *     aggregate —
    *     exactly-once via the pair-keyed aggregate);
    *  2. the distinct candidate DOC ids (≤ 2× pair count) semi-filter
    *     the corpus's (doc, shingles) projection — the id table is
    *     output-bounded and AQE broadcasts it at runtime, so the corpus
    *     pass is map-side and only candidate docs' shingle arrays ever
    *     enter an exchange;
    *  3. two equi-joins attach a_hs / b_hs to the pairs — both join the
    *     SAME candidate-shingle exchange (partitioned by doc on both
    *     sides: ReusedExchange materializes it once) — and the verify is
    *     an inline array_intersect + integer-exact Jaccard.
    *
    * Exchange mass end-to-end: slim bands + candidate pairs + candidate
    * shingles — each output-bounded or ~2% of the old fat-exchange
    * design, which shipped every doc's shingle array through the band
    * join (measured at 10M docs: ~34 GB exchanged, ~800 s; this shape
    * re-measured ~3-4× faster, see README). The corpus is scanned twice
    * (signature pass + candidate verify) BY CHOICE: a cross-pass shingle
    * cache was measured 2.1× slower at 10M docs — see the rejection note
    * in the body. */
  def minhashNearDupPairs(
      df: DataFrame, id: Column, text: Column,
      n: Int, k: Int, bands: Int, minJaccardPermille: Int,
      maxBucketSize: Int = 10000): DataFrame = {
    val base = df.select(id.as("doc"),
      minhashSigArray(text, n, k).as("__sig"))
      .filter(col("__sig").isNotNull)
    // The candidate-pair DAG is referenced three times below (the pair
    // probe side and, via candIds, both verify sides) — that fan-out is
    // fine WITHOUT a cache because the expensive subtree (the band
    // exchange) is deduped by ReusedExchange across all references; an
    // operator-internal persist was measured SLOWER single-shot at 10M
    // docs (cache fill breaks the exchange reuse). A size-gated
    // cross-pass SHINGLE cache (persist (doc, hs) once, derive the
    // signature from the cached arrays, read candidates' arrays back in
    // the verify — duplicateSpans' gram-cache trade) was also built and
    // measured at 10M docs (LshBench, r10): 95.4 vs 45.3 s best-of-3,
    // identical pairs — REJECTED. The cache fill serializes the many
    // concurrent AQE stage materializations behind one uncached
    // computation, evicts/spills ~25 GB, and un-pipelines the minhash
    // kernel from the parquet scan, while the second scan it saves is
    // cheap (scan + shingle + minhash measured ~19 s end-to-end in
    // LshBench's `sig` leg). The two-scan shape stays.
    val cand = bucketedPairs(base, k, bands, maxBucketSize)
    // ONE reference to cand, not a union of two selects: each reference
    // instantiates the whole post-band-exchange pair-generation subtree
    // (bucket merge + pair explode + pair aggregate) again in the plan —
    // the band exchange itself is deduped by ReusedExchange, the stages
    // above it are not. explode(array(a, b)) yields the same id multiset
    // (hence the same distinct set) from a single instantiation.
    val candIds = cand
      .select(explode(array(col("a_id"), col("b_id"))).as("doc"))
      .distinct()
    // the shingle kernel sits ABOVE the semi join (same rule as the
    // incremental operator's verify): only candidate docs are
    // re-shingled — a projection below the join would run the kernel on
    // the whole corpus and keep ~20% of the results
    val hsCand = df.select(id.as("doc"), text.as("__text"))
      .join(candIds, Seq("doc"), "left_semi")
      .select(col("doc"), shingleHashes(col("__text"), n).as("hs"))
      .filter(col("hs").isNotNull)
    cand
      .join(hsCand.select(col("doc").as("a_id"), col("hs").as("a_hs")), Seq("a_id"))
      .join(hsCand.select(col("doc").as("b_id"), col("hs").as("b_hs")), Seq("b_id"))
      .withColumn("common", size(array_intersect(col("a_hs"), col("b_hs"))))
      .withColumn("jaccard_permille",
        jaccardPermille(col("common"), size(col("a_hs")), size(col("b_hs"))))
      .filter(col("jaccard_permille") >= minJaccardPermille)
      .select(col("a_id"), col("b_id"), col("jaccard_permille"))
  }

  /** Incremental near-dup detection: a NEW batch of documents (today's
    * crawl increment) against an EXISTING corpus whose banded MinHash
    * signatures were computed once and PERSISTED (`oldSig` =
    * [[minhashSignatures]] output re-read from storage). The
    * 100 TB-corpus daily path:
    *
    *  - the old corpus is never re-shingled — candidate generation probes
    *    its k-longs-per-doc signature table with the increment's
    *    signatures via the same SLIM (band, band-signature) equi-join as
    *    the batch operator: 3-column rows through the exchange, the same
    *    `maxBucketSize` hot-bucket cap (counted over the old∪new bucket
    *    population — exactly the bucket a merged-corpus batch run would
    *    see), and the same exactly-once pair aggregate, so a boilerplate
    *    bucket in the PERSISTED index cannot detonate the probe join
    *    (the 10⁵-docs-in-one-bucket ⇒ 10¹⁰ pairs-in-one-task pathology
    *    the batch cap exists for);
    *  - the index is pruned to increment-TOUCHED buckets before the cap
    *    count (a semi-join on the increment's distinct band keys,
    *    broadcast while the increment is small): untouched buckets can't
    *    produce probe pairs, and a touched bucket keeps all its old
    *    members, so the cap still counts full old∪new membership — the
    *    daily-increment cost is O(touched buckets), not O(index);
    *  - exact-Jaccard verification re-shingles only the CANDIDATE old
    *    docs (a semi-join-sized subset), never the corpus;
    *  - increment-internal duplicates come from the batch operator over
    *    the (small) increment itself.
    *
    * → (new_id, dup_of_id, jaccard_permille, dup_in_increment):
    * `dup_of_id` is an old-corpus doc (`dup_in_increment` = false) or an
    * earlier-id doc of the same increment (true). Id spaces must be
    * disjoint for the output to be unambiguous — the caller owns that.
    */
  def incrementalNearDupPairs(
      newDocs: DataFrame, newId: Column, newText: Column,
      oldSig: DataFrame,
      oldDocs: DataFrame, oldId: Column, oldText: Column,
      n: Int, k: Int, bands: Int, minJaccardPermille: Int,
      maxBucketSize: Int = 10000): DataFrame = {
    // increment side: per-row signature + shingles (kept for the verify).
    // NULL ids are dropped on BOTH sides before banding, mirroring the
    // batch operator's up-front filter (bucketedPairs): without it a
    // NULL-id row still counts toward the bucket-size window below, so a
    // bucket at exactly maxBucketSize real members would be capped here
    // but not in the batch run on the union — breaking the spec-pinned
    // incremental ≡ batch contract at the cap boundary.
    val newSide = newDocs.select(newId.as("new_id"), shingleHashes(newText, n).as("new_hs"))
      .filter(col("new_id").isNotNull)
      .withColumn("__sig", Bridge.column(MinHashSig(Bridge.expression(col("new_hs")), k)))
      .filter(col("__sig").isNotNull)
      .select(col("new_id"), col("new_hs"), col("__sig").as("new_mh")) // already array<long>(k)
    // stored-index side: band signatures from the persisted mh_i columns
    val oldSide = oldSig.select(col("doc").as("old_id"),
      array((0 until k).map(i => col(s"mh_$i")): _*).as("old_mh"))
      .filter(col("old_id").isNotNull)
    // SLIM 3-column band rows — never the signature/shingle arrays — and
    // both sides through ONE union so the bucket count sees the full
    // old∪new population (the bucket a merged-corpus batch run counts)
    val newB = newSide.select(col("new_id").as("id"),
      posexplode(array(bandSignatures(col("new_mh"), k, bands): _*))
        .as(Seq("band", "sig")))
      .withColumn("__new", lit(true))
    val oldB = oldSide.select(col("old_id").as("id"),
      posexplode(array(bandSignatures(col("old_mh"), k, bands): _*))
        .as(Seq("band", "sig")))
      .withColumn("__new", lit(false))
    // Only buckets TOUCHED by the increment can produce probe pairs, so
    // the persisted index is semi-filtered on the increment's distinct
    // band keys BEFORE the cap count. Semantics are unchanged: a touched
    // bucket keeps every old member (they all share its (band, sig)), so
    // its cap count still sees the full old∪new membership, and an
    // untouched bucket never reaches the probe join anyway. Cost: the
    // index rows ride a (usually broadcast) semi-join instead of the
    // whole old∪new population passing through the cap window — the
    // window now sorts only touched-bucket members, which is what makes
    // a small daily increment cost O(touched), not O(index). The key set
    // is broadcast-hinted while the increment is small (the common case;
    // gate: spark.graft.incremental.broadcastProbeMaxBytes); a huge
    // increment falls back to a shuffled semi-join.
    // no distinct(): left_semi tolerates duplicate build keys — the
    // broadcast carries one row per (increment doc, band) rather than per
    // distinct key (the hashed relation does NOT dedup rows), which the
    // increment-size gate bounds; a distinct would add an aggregate +
    // exchange to the probe's build path for at most a constant-factor
    // broadcast saving
    val touchedKeys = newB.select(col("band"), col("sig"))
    val keysHinted =
      if (SizeGate.fits(newDocs.sparkSession, SizeGate.estimate(newDocs),
          IncrementBroadcastMaxBytesKey, IncrementBroadcastMaxBytesDefault))
        broadcast(touchedKeys)
      else touchedKeys
    val oldTouched = oldB.join(keysHinted, Seq("band", "sig"), "left_semi")
    val all = newB.unionByName(oldTouched)
    val capped =
      if (maxBucketSize == Int.MaxValue) all
      else {
        val wBucket = Window.partitionBy(col("band"), col("sig"))
        all.withColumn("__bsz", count(lit(1)).over(wBucket))
          .filter(col("__bsz") <= maxBucketSize)
          .drop("__bsz")
      }
    // exactly-once under capping: emit per SURVIVING shared band, dedup
    // with a slim pair-keyed aggregate (the batch operator's contract —
    // a first-shared-band filter would lose a pair whose first shared
    // bucket was capped even when a later shared bucket is tiny)
    val nSide = capped.filter(col("__new"))
      .select(col("id").as("new_id"), col("band").as("nband"), col("sig").as("nsig"))
    val oSide = capped.filter(!col("__new"))
      .select(col("id").as("old_id"), col("band").as("oband"), col("sig").as("osig"))
    // new_hs for the verify comes from a CANDIDATE-side re-shingle of the
    // increment text — the same rule the old side applies below — not
    // from a second reference to newSide: each newSide reference
    // instantiates the whole scan + shingle + minhash-kernel subtree over
    // the FULL increment again (plan subtrees below an exchange are never
    // deduped across references), while this join ships only the
    // increment's (id, text) scan and runs the shingle kernel on
    // candidate rows alone. Same values by construction: every candidate
    // new_id passed newSide's non-null filters, and shingleHashes is a
    // pure function of the text.
    val candidates = nSide.hint("shuffle_hash")
      .join(oSide, col("nband") === col("oband") && col("nsig") === col("osig"))
      .groupBy(col("new_id"), col("old_id"))
      .agg(count(lit(1)).as("__nb"))
      .drop("__nb")
      .join(newDocs.select(newId.as("new_id"), newText.as("__ntext")), Seq("new_id"))
      .withColumn("new_hs", shingleHashes(col("__ntext"), n))
      .drop("__ntext")
    // verify: the shingle expression sits ABOVE the candidate join, so
    // only matching old docs are re-shingled (a projection below the join
    // would re-shingle the whole corpus); the candidate side is tiny, so
    // AQE broadcasts it and the old text table streams through
    val vsOld = candidates
      .join(oldDocs.select(oldId.as("o_id"), oldText.as("__otext")),
        col("old_id") === col("o_id"))
      .withColumn("old_hs", shingleHashes(col("__otext"), n))
      .withColumn("common", size(array_intersect(col("new_hs"), col("old_hs"))))
      .withColumn("jaccard_permille",
        jaccardPermille(col("common"), size(col("new_hs")), size(col("old_hs"))))
      .filter(col("jaccard_permille") >= minJaccardPermille)
      .select(col("new_id"), col("old_id").as("dup_of_id"),
        col("jaccard_permille"), lit(false).as("dup_in_increment"))
    // increment-internal pairs: the batch operator on the (small) increment
    val vsNew = minhashNearDupPairs(newDocs, newId, newText, n, k, bands, minJaccardPermille,
      maxBucketSize)
      .select(col("b_id").as("new_id"), col("a_id").as("dup_of_id"),
        col("jaccard_permille"), lit(true).as("dup_in_increment"))
    vsOld.unionByName(vsNew)
  }

  /** Per-doc 30-bit SimHash over whitespace-token hashes (multiset). */
  def simhashSignatures(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("doc"), simhash(tokenHashes(text)).as("sig"))

  /** SimHash pigeonhole-banding geometry of [[simhashNearDupPairs]]:
    * 3 × 10-bit chunks give full recall at hamming ≤ 2 by pigeonhole. */
  private val SimHashChunks = 3
  private val SimHashChunkBits = 10
  private val SimHashChunkMask: Long = (1L << SimHashChunkBits) - 1L
  private def simhashChunk(sig: Column, c: Int): Column =
    shiftright(sig, c * SimHashChunkBits) % (SimHashChunkMask + 1L)

  /** SimHash near-dup pairs with hamming distance ≤ `maxHamming` (≤ 2 for
    * full recall with 3 bands; higher distances degrade to best-effort).
    * Banding: 3 × 10-bit chunks equi-join, then `bit_count(xor)` verify.
    * → (a_id, b_id, hamming). */
  def simhashNearDupPairs(df: DataFrame, id: Column, text: Column, maxHamming: Int): DataFrame = {
    val sigs = simhashSignatures(df, id, text)
    val chunks = (0 until SimHashChunks).map { c =>
      struct(lit(c).as("chunk"), simhashChunk(col("sig"), c).as("val"))
    }
    val buckets = sigs.select(col("doc"), col("sig"), explode(array(chunks: _*)).as("bk"))
      .select(col("doc"), col("sig"), col("bk.chunk").as("chunk"), col("bk.val").as("val"))
    val joined = buckets
      .select(col("chunk"), col("val"), col("doc").as("a_id"), col("sig").as("a_sig"))
      .join(buckets.select(col("chunk").as("chunk2"), col("val").as("val2"),
        col("doc").as("b_id"), col("sig").as("b_sig")),
        col("chunk") === col("chunk2") && col("val") === col("val2") && col("a_id") < col("b_id"))
    // a pair can share up to 3 chunks; keep it only on the FIRST shared
    // chunk — exactly-once without a distinct() shuffle (both signatures
    // are in the row, so the first shared chunk is a cheap expression)
    def chunkEq(c: Int): Column =
      simhashChunk(col("a_sig"), c) === simhashChunk(col("b_sig"), c)
    val firstShared = when(chunkEq(0), 0).when(chunkEq(1), 1).otherwise(2)
    joined
      .filter(col("chunk") === firstShared)
      .select(col("a_id"), col("b_id"),
        bit_count(col("a_sig").bitwiseXOR(col("b_sig"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Exact-substring self-deduplication at n-token granularity — the
    * suffix-array dedup of Lee et al. 2022 ("Deduplicating Training Data
    * Makes Language Models Better") re-expressed as an inverted-index
    * join: every maximal token span whose every n-gram occurs ≥ 2 times
    * across the CORPUS (in another doc, or repeated within the same doc)
    * is reported as the mask an exact-substring removal pass cuts out,
    * keeping the rest of the document. Distinct from
    * [[Contamination.ngramOverlapSpans]] (train-vs-benchmark) — this is
    * train-vs-train, with no pair dimension: a position is duplicated or
    * it is not.
    *
    * Shape: posexplode of the ORDERED n-gram hash multiset gives
    * (doc, pos, h); one map-side-combined hash aggregate counts global
    * occurrences per h (NOT a count-window over h, which a boilerplate
    * gram would skew into one giant unsplittable partition — the
    * groupBy's partial aggregation collapses those same hot grams to one
    * row per map task); the ≥2 keys semi-join back (size-gated, below);
    * island-merging of the surviving positions is one doc-keyed window.
    * Output mass = duplicated positions, never corpus².
    * The corpus is shingled twice (count pass + mask pass); above the
    * size gate, inputs up to `spark.graft.spans.gramCacheMaxBytes`
    * (default 64 GiB estimated) instead CACHE the per-doc gram arrays
    * across the two passes (~8 B/token, MEMORY_AND_DISK, released once
    * the candidate sliver materializes) so tokenize+hash runs ONCE.
    * Beyond that bound the passes recompute from source: at true 100 TB
    * scale two cheap codegen'd scans beat spilling a corpus-sized gram
    * cache.
    *
    * Grams are keyed in the WIDE ~60-bit hash space
    * ([[TextAnalysis.ngramHashesWideMultiset]]): the "occurs ≥ 2" test
    * has no threshold protection, and the narrow ~2³⁰ space saturates by
    * birthday collision at ~10⁹ corpus grams — measured on a 10M-doc
    * corpus: nearly every gram hash collided into "duplicated" and 2.2M
    * documents were masked to empty. The oracle replays the wide key as
    * `rollingHash(gram)·(10⁹+7) + rollingHash37(gram)` (base-37 twin —
    * a salted base-31 hash would preserve equal-length collisions).
    *
    * The operator is SIZE-GATED, because toy and at-scale inputs have
    * opposite natural plans:
    *
    *  - Inputs whose optimizer-estimated size is at most
    *    `spark.graft.spans.broadcastGateMinBytes` (default 128 MB) keep
    *    the fully LAZY single-query plan — count aggregate feeding a
    *    shuffled semi-join — whose postings exchanges are cheap at that
    *    size (and which costs no extra job at toy scale; same gate
    *    pattern and rationale as [[Prefix.runningSum]]).
    *  - Above the gate the "count every gram globally" exchange — ~24 GB
    *    of (h, count) rows at 10M docs / 10⁹ grams, the stage's dominant
    *    cost, almost all of it singleton grams that can never survive the
    *    ≥2 filter — is pre-filtered away by a
    *    [[graft.functions.GramCountSketch]]: one extra shingle scan
    *    builds the exact-no-false-negative sketch at construction time
    *    ([[Prefix.runningSum]]'s call-time contract), the postings scan
    *    keeps only sketch-positive grams (true duplicates + a bounded
    *    false-positive fraction, (1−e^(−2n/m))² ≈ 8% at the default
    *    sizing) and PERSISTS that sliver, the exact ≥2 count runs over
    *    the cached sliver (map-side-combined groupBy — skew-safe), and at
    *    most `maxBroadcastKeys` surviving keys broadcast into a map-side
    *    semi-join over the same cache. Both 100 TB-relevant masses are
    *    now bounded: the exchange carries only candidate gram keys, and
    *    nothing corpus-sized is ever cached or shuffled. On a
    *    pathologically duplicate-saturated corpus (keys above
    *    `maxBroadcastKeys`) the keys stay a DataFrame feeding a shuffled
    *    semi-join against the cached candidates. The candidate cache
    *    deliberately outlives the call (the returned frame recomputes
    *    from it; evict via `unpersist` on a re-derived handle or session
    *    cache clearing); the sketch broadcast likewise lives as long as
    *    the returned frame references it and is reclaimed by Spark's
    *    ContextCleaner once the frame is unreachable. Sketch sizing:
    *    2.0 cells per optimizer-estimated input byte, capped by
    *    `spark.graft.spans.sketchMaxBytes` (bitplane bytes; default is
    *    MEMORY-AWARE, see [[autoSketchMaxBytes]] — heap-proportional per
    *    concurrent sketch, so a bigger executor buys a sketch that keeps
    *    discriminating at a bigger corpus);
    *    an undersized sketch only grows the candidate sliver, never
    *    changes the result — `GramCountSketch.loadFactor` is the
    *    observability knob — and a sketch capped below
    *    `spark.graft.spans.sketchMinSizingRatio` × its sizing target is
    *    skipped entirely (predicted saturation: it would pass ~everything;
    *    the lazy exact count is then cheaper — the branch every
    *    beyond-plane-scale corpus takes). Build strategy
    *    (`spark.graft.spans.sketchBuild`, default auto): one JVM-shared
    *    atomically-updated sketch on a local master, per-task sketches
    *    tree-reduced on a cluster (see the sketch's scaladoc for the
    *    executor-memory contract).
    *
    * → (doc_id, span_start, span_end, n_dup_grams): DISJOINT,
    * non-touching maximal half-open token spans [span_start, span_end) —
    * each is one contiguous run of duplicated-gram coverage (grams with
    * position gap ≤ n merge: < n overlaps, == n touches), span_end =
    * last merged gram pos + n; docs with no duplicated gram are absent.
    */
  def duplicateSpans(df: DataFrame, id: Column, text: Column, n: Int,
      maxBroadcastKeys: Long = 4000000L): DataFrame = {
    // the (doc_id, pos, h) posting projection, shared by the lazy explode
    // below and the sketch branch's cached explode — the two sites must
    // stay in lockstep or the sketch path's spans would silently drift
    // from the lazy path's (only their posexplode SOURCE differs: inline
    // kernel here, the cached gram-array column there)
    val postingCols = Seq(
      col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("h"))
    val postings = df
      .select(id.as("doc_id"),
        posexplode(TextAnalysis.ngramHashesWideMultiset(text, n)))
      .select(postingCols: _*)
    val lazyDupKeys = postings.groupBy(col("h"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2)
      .select(col("h"))
    val spark = df.sparkSession
    val sqlConf = spark.sessionState.conf
    def conf(key: String, default: String): String = sqlConf.getConfString(key, default)
    val statsBytes = SizeGate.estimate(df)
    val small = SizeGate.fits(spark, statsBytes, BroadcastGateMinBytesKey, BroadcastGateMinBytesDefault)
    val maxPlaneBytes = SizeGate.threshold(sqlConf, SketchMaxBytesKey, autoSketchMaxBytes(spark))
    val minSizingRatio =
      SizeGate.threshold(sqlConf, SketchMinSizingRatioKey, SketchMinSizingRatioDefault)
    // clamp BEFORE the ×4: a pathological conf value > 2^61 would
    // overflow Long and turn the min negative
    val capCells = math.min(maxPlaneBytes, graft.functions.GramCountSketch.MaxCells / 4) * 4L
    val desiredCells = statsBytes.toDouble * SketchCellsPerInputByte
    val mCells = Seq(
      math.max(desiredCells.toLong, 1L << 22),
      capCells,
      graft.functions.GramCountSketch.MaxCells).min
    // A sketch capped far below its sizing target saturates and passes
    // (almost) everything — pure overhead on top of the exchange it was
    // meant to remove. That happens when the plane cap is set small
    // (tight executors) on a big corpus, and ALWAYS at a corpus scale
    // whose desired cells exceed the largest constructible plane: there
    // the exact global count's exchange is intrinsic, so take it lazily
    // and skip the build. See SketchMinSizingRatioKey. The check only
    // fires on a REAL size estimate: a non-file-backed input reports the
    // spark.sql.defaultSizeInBytes sentinel (Long.MaxValue by default),
    // which says "unknown", not "huge" — there the capped sketch keeps
    // its r9 behavior (build at the cap; loadFactor is the observability
    // knob if the guess was wrong).
    // "Unknown" is detected at the LEAVES, not just the root: Spark's
    // size-only stats visitor SCALES a Project's sizeInBytes by its
    // row-width ratio, so any projection over a non-file-backed input
    // turns the Long.MaxValue sentinel into an arbitrary garbage
    // magnitude below it (~4.6e18 for a half-width projection) — a
    // root-only comparison would read that as a real beyond-plane-scale
    // corpus and silently drop the pre-filter. A plan is size-known only
    // when the root is below the sentinel AND no leaf reports it.
    val sentinel = BigInt(
      conf("spark.sql.defaultSizeInBytes", Long.MaxValue.toString).toLong)
    val statsKnown = statsBytes < sentinel &&
      !df.queryExecution.optimizedPlan.collectLeaves()
        .exists(_.stats.sizeInBytes >= sentinel)
    val sketchDiscriminates = !statsKnown || mCells.toDouble >=
      desiredCells * minSizingRatio
    val dupPos =
      if (small)
        // small input: stay lazy — the second postings exchange is cheap
        postings.join(lazyDupKeys.hint("shuffle_hash"), Seq("h"), "left_semi")
      else if (!sketchDiscriminates) {
        log.warn(s"duplicateSpans: sketch cap $mCells cells < " +
          f"$SketchMinSizingRatioKey×desired ($desiredCells%.3g) — a saturated sketch " +
          "cannot prune, keeping the lazy exact count (raise " +
          s"$SketchMaxBytesKey on bigger executors to re-enable the pre-filter)")
        postings.join(lazyDupKeys.hint("shuffle_hash"), Seq("h"), "left_semi")
      } else {
        // The two passes (sketch build, then postings) both need the
        // per-doc gram arrays; tokenize+hash is the dominant per-pass
        // cost, so below `gramCacheMaxBytes` the arrays are CACHED across
        // the passes — the build scan materializes the cache, the
        // postings pass explodes it without re-reading or re-shingling
        // the corpus. Above the bound (a corpus whose gram mass would
        // not fit the cluster's storage tier) both passes recompute from
        // the source — the original two-scan shape, never a
        // corpus-sized cache. The cache is released as soon as the
        // candidate sliver (output-bounded) has materialized.
        val useGramCache = SizeGate.fits(spark, statsBytes, GramCacheMaxBytesKey, GramCacheMaxBytesDefault)
        // per-doc gram ARRAYS, not an exploded posting per gram: the
        // build scan stays one row per document
        val gramRows = df.select(id.as("doc_id"),
          TextAnalysis.ngramHashesWideMultiset(text, n).as("hs"))
        val gramSrc =
          if (useGramCache) gramRows.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          else gramRows
        val tBuild0 = System.nanoTime()
        val sketch = graft.functions.GramCountSketch.build(
          gramSrc.select(col("hs")), mCells, conf(SketchBuildKey, "auto"))
        val load = sketch.loadFactor
        log.info(f"duplicateSpans gram sketch: $mCells%d cells, load $load%.3f, " +
          f"build ${(System.nanoTime() - tBuild0) / 1e9}%.1f s" +
          (if (load > 0.5) " — UNDERSIZED (false-positive rate degrades fast above 0.5; " +
            s"raise $SketchMaxBytesKey)" else ""))
        // broadcast the query-only hi-plane view: the probe never reads
        // lo, so the wire + executor-resident mass is half the sketch
        val tBc0 = System.nanoTime()
        val bc = spark.sparkContext.broadcast(sketch.dupFilter)
        log.info(f"duplicateSpans sketch broadcast: ${(System.nanoTime() - tBc0) / 1e9}%.1f s")
        val cachedPostings = gramSrc
          .select(col("doc_id"), posexplode(col("hs")))
          .select(postingCols: _*)
        val cand = cachedPostings
          .filter(Bridge.column(graft.functions.SketchMaybeDup(bc, Bridge.expression(col("h")))))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val dupKeys = cand.groupBy(col("h"))
          .agg(count(lit(1)).as("c"))
          .filter(col("c") >= 2)
          .select(col("h"))
        // ONE bounded sizing action, not count() THEN collect(): exchange
        // reuse never crosses an action boundary, so the former pair ran
        // the full key aggregate over the cached sliver TWICE (once to
        // size, once to fetch). take(cap+1) sizes and fetches in one
        // action — its partial-aggregate map stage still scans every cand
        // partition, so the sliver cache fully materializes here exactly
        // as the count did — and stays driver-safe on a pathologically
        // duplicate-saturated corpus: at most cap+1 rows ever come back,
        // and one extra row is all the over-cap branch needs to know.
        val fetchCap = // +1 without overflow on a Long.MaxValue cap
          if (maxBroadcastKeys >= Int.MaxValue.toLong) Int.MaxValue
          else (maxBroadcastKeys + 1L).toInt
        val keys = dupKeys.take(fetchCap).map(_.getLong(0))
        // the sliver is materialized; the (corpus-sized at 8 B/gram) gram
        // cache has served both passes and can go
        if (useGramCache) { gramSrc.unpersist(blocking = false); () }
        if (keys.length <= maxBroadcastKeys) {
          val keysDf = spark.createDataset(keys.toIndexedSeq)(
            org.apache.spark.sql.Encoders.scalaLong).toDF("h")
          cand.join(broadcast(keysDf), Seq("h"), "left_semi")
        } else cand.join(dupKeys.hint("shuffle_hash"), Seq("h"), "left_semi")
      }
    // island merge on COVERAGE, not adjacency: gram at p covers tokens
    // [p, p+n), so coverages overlap at position gap < n and TOUCH at
    // gap == n — both mean one contiguous duplicated run, so gap <= n
    // merges. A lag-flag running sum groups them (pos − row_number would
    // only merge gap-1 neighbors and emit overlapping spans for gaps
    // 2..n−1 plus split adjacent runs at gap n). Both window functions
    // share one doc-keyed sort.
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    dupPos
      .withColumn("__new",
        when(col("pos") - lag(col("pos"), 1).over(w) <= n, lit(0L)).otherwise(lit(1L)))
      .withColumn("__grp", sum(col("__new")).over(w))
      .groupBy(col("doc_id"), col("__grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(n.toLong)).as("span_end"),
        count(lit(1)).as("n_dup_grams"))
      .drop("__grp")
  }

  /** APPLY a span mask (e.g. [[duplicateSpans]]'s output) to the corpus:
    * rewrite each document with every masked token range cut out — the
    * second half of exact-substring dedup, where the doc survives minus
    * its duplicated runs instead of being dropped whole. `spans` must
    * carry (doc_id, span_start, span_end) in [[duplicateSpans]]'s
    * half-open token indexing; overlapping/unsorted spans are fine.
    *
    * One doc-keyed shuffle (span aggregation + left join back to the
    * corpus); the rewrite itself is the map-side codegen kernel
    * [[graft.functions.RemoveTokenSpans]]. Docs with no mask rows pass
    * through token-normalized (single-space re-join — the tokenizer's
    * contract); fully-masked or token-free docs become "".
    *
    * `keepCols` names payload columns of `docs` to carry through beside
    * the rewrite — a caller that needs (metadata + clean text) should
    * pass them here rather than join the output back to the corpus on
    * doc_id (that join re-shuffles the whole corpus for columns that were
    * already in the row).
    * → (doc_id, keepCols…, clean_text). */
  def removeSpans(docs: DataFrame, id: Column, text: Column, spans: DataFrame,
      keepCols: Seq[String] = Nil): DataFrame = {
    val agg = spans.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(
        col("span_start").as("s"), col("span_end").as("e")))).as("__sp"))
    docs.select(id.as("doc_id") +: keepCols.map(col) :+ text.as("__text"): _*)
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id") +: keepCols.map(col) :+
        Bridge.column(RemoveTokenSpans(
          Bridge.expression(col("__text")),
          Bridge.expression(coalesce(col("__sp").getField("s"), lit(Array.empty[Long]))),
          Bridge.expression(coalesce(col("__sp").getField("e"), lit(Array.empty[Long])))))
          .as("clean_text"): _*)
  }

  /** C4/RefinedWeb-style LINE-level dedup: every line whose exact
    * (space-trimmed) content occurs more than `maxFreq` times across the
    * corpus — occurrence count, repeats within one doc included — is cut
    * from EVERY document it appears in; the rest of each document
    * survives in order, re-joined with "\n". The line tier sits between
    * exact doc dedup (too coarse for shared footers/nav chrome) and
    * n-gram span dedup (boilerplate lines are exact strings — counting
    * them whole is cheaper and surgically precise). Lines that trim to ""
    * are structure, not content: never counted, never dropped.
    *
    * Shape: one posexplode pass keyed by md5(trim(line)); the over-cap
    * key set is OUTPUT-bounded (distinct hot lines) and so is the
    * per-doc drop-position mask (docs touching a hot line) — at runtime
    * AQE broadcasts the mask join, so the corpus text never shuffles and
    * the rewrite is a map-side positional filter. Cost: corpus line mass
    * through one count exchange, never corpus².
    * → (doc_id, keepCols…, clean_text). */
  def lineDedup(df: DataFrame, id: Column, text: Column,
      maxFreq: Long = 1L, keepCols: Seq[String] = Nil): DataFrame = {
    val lines = df
      .select(id.as("doc_id"), posexplode(split(text, "\n")).as(Seq("pos", "line")))
      .filter(trim(col("line")) =!= "")
      .select(col("doc_id"), col("pos"), md5(trim(col("line"))).as("k"))
    val dropKeys = lines.groupBy(col("k"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") > maxFreq)
      .select(col("k"))
    val masks = lines.join(dropKeys.hint("shuffle_hash"), Seq("k"), "left_semi")
      .groupBy(col("doc_id")).agg(collect_set(col("pos")).as("__drop"))
    df.select(id.as("doc_id") +: keepCols.map(col) :+ text.as("__text"): _*)
      .join(masks, Seq("doc_id"), "left")
      .select(col("doc_id") +: keepCols.map(col) :+
        when(col("__drop").isNull, col("__text"))
          .otherwise(array_join(
            filter(split(col("__text"), "\n"),
              (l, i) => !array_contains(col("__drop"), i)),
            "\n"))
          .as("clean_text"): _*)
  }

  /** The dedup DECISION: given per-doc duplicate-cluster assignments
    * (from [[Components.connectedComponents]] over any near-dup pair
    * tier) and a preference order, pick the canonical document of every
    * cluster and emit the verdict for every doc — the drop-list a
    * curation pass actually applies. `order` must be total within a
    * cluster (append the id as the last key); the usual policy is
    * (quality desc, id asc) — keep the best copy, not the first seen.
    * One cluster-keyed window shuffle; no join back.
    * → (doc_id, component_id, keep_id, is_kept). */
  def keepBest(df: DataFrame, id: Column, component: Column, order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(component).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    df.withColumn("__keep", first(id).over(w))
      .select(id.as("doc_id"), component.as("component_id"),
        col("__keep").as("keep_id"), (id === col("__keep")).as("is_kept"))
  }
}
