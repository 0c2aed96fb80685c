package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data pipelines.
  *
  * Hash-based Bernoulli sampling: a row is kept iff
  * `rolling_hash(stratum ':' key) mod 1000 < rate(stratum)`. Compared to
  * `df.sample()` this is (a) reproducible across runs, engines and
  * partitionings — no RNG state, the decision is a pure function of the
  * row; (b) pure map-side — no shuffle, composes into scans; (c) stable
  * under re-partitioning and retries, which matters when a 100 TB sampling
  * job resumes mid-way. The engine-neutral hash lets the DuckDB oracle
  * replay the exact sample.
  */
object Sampling {

  /** The decision-hash mixer every sampling BUCKET goes through — a
    * QUADRATIC mix `h·((h + K) mod P) mod P` of the engine-neutral
    * polynomial hash (every product ≤ ~3.7e18, exact in i64 and in the
    * oracle's BIGINT replay). Two defects of weaker forms, both measured
    * on 10⁶ real keys:
    *
    *  - the RAW polynomial's high bits are non-uniform (99% of "en:id"
    *    hashes below 0.707e9), so only its mod-1000 tail was usable;
    *  - `hash(salt:key)` is AFFINE in the key's suffix polynomial, so
    *    two stages' decisions over the same keys under different salts
    *    are deterministically related — an affine (multiply-mod-P) mix
    *    is a bijection and PRESERVES that dependence (measured: a 0.95
    *    split realized 0.973 on the survivors of an upstream 0.66
    *    sampling stage — chained samplers compound percent-level bias).
    *
    * The quadratic mix breaks the affine relation (the difference of two
    * salted mixes is key-dependent): measured P(keep₂ | keep₁) = 0.9505
    * at an independent 0.95, ppb-bucket mean 0.4999, P(pm < 707) =
    * 0.7066 — uniform marginals AND pairwise-independent decisions
    * across salts/strata. */
  private[operators] def decisionHash(s: Column): Column = {
    val h = Dedup.rollingHash(s)
    pmod(h * pmod(h + lit(2654435761L), lit(graft.functions.RollingHash.Mod)),
      lit(graft.functions.RollingHash.Mod))
  }

  /** Per-mille keep-bucket of a (stratum, key) pair — pinned hash
    * arithmetic ([[decisionHash]] mod 1000), shared by the oracle
    * generator. NULL stratum/key hash as the empty string — `concat`
    * would otherwise null-propagate and every consumer's `bucket < rate`
    * comparison would silently DROP null-key rows at any rate (the
    * convention [[hashSplit]] documents, now enforced here for every
    * caller). */
  def sampleBucket(stratum: Column, key: Column): Column =
    pmod(decisionHash(concat(
      coalesce(stratum.cast("string"), lit("")), lit(":"),
      coalesce(key.cast("string"), lit("")))), lit(1000L))

  /** Deterministic train/val/test assignment: the row's hash bucket falls
    * into one of the cumulative per-mille ranges of `splitsPermille`
    * (which must sum to 1000). Same guarantees as
    * [[stratifiedHashSample]] — pure map-side, engine-replayable, stable
    * under repartitioning and retries — which is exactly what a training
    * pipeline needs: a document NEVER migrates between train and eval
    * across runs, engines, or cluster layouts (`randomSplit` guarantees
    * none of that). `salt` versions the split: bump it to redraw.
    * Null keys hash as the empty string, so they too get a deterministic
    * total assignment (all landing in one split) rather than a silent
    * `split = null` that downstream train/val filters would drop. */
  def hashSplit(
      df: DataFrame,
      key: Column,
      splitsPermille: Seq[(String, Int)],
      salt: String = "v1"): DataFrame = {
    require(splitsPermille.map(_._2).sum == 1000,
      s"split per-milles must sum to 1000, got ${splitsPermille.map(_._2).sum}")
    // the sum check alone admits e.g. (1100, -100): a negative entry's
    // bucket range is empty, so that split silently gets ZERO rows while
    // its neighbor absorbs the excess — fail fast instead
    require(splitsPermille.forall(_._2 >= 0),
      s"split per-milles must be >= 0, got $splitsPermille")
    require(!df.columns.contains("split"),
      "hashSplit adds a `split` column; the input already has one")
    val bucket = sampleBucket(lit(salt), key)
    val (assign, _) = splitsPermille.foldLeft((lit(null).cast("string"): Column, 0)) {
      case ((acc, cum), (name, p)) =>
        (when(bucket >= cum && bucket < cum + p, name).otherwise(acc), cum + p)
    }
    df.withColumn("split", assign)
  }

  /** [[hashSplit]] with an eval-leakage guard: the split key is the row's
    * NEAR-DUPLICATE CLUSTER representative, so every member of a cluster
    * lands in the same split and a test document can never have a
    * near-duplicate twin in train (the classic way a "held-out" set stops
    * being held out). `clusters` is an `(id, component_id)` map — e.g.
    * [[Components.connectedComponents]] over verified MinHash-LSH pairs;
    * rows absent from it split by their own id (singleton cluster).
    *
    * Scale shape: one id-keyed equi-join against the cluster map, then
    * the same pure map-side bucket assignment as [[hashSplit]]. The
    * cluster map is the dedup tier's byproduct — a pipeline that already
    * near-dup-deduped pays only the join. Note the split RATIOS now hold
    * over clusters, not rows: a giant cluster drags its whole mass into
    * one split, which is precisely the point. */
  def leakFreeSplit(
      df: DataFrame,
      id: Column,
      clusters: DataFrame,
      splitsPermille: Seq[(String, Int)],
      salt: String = "v1"): DataFrame = {
    require(!df.columns.contains("component_id"),
      "leakFreeSplit emits a component_id column, and df already has one — " +
        "it may come from a DIFFERENT clustering run; rename or drop it first " +
        "so the split key's provenance stays unambiguous")
    val c0 = clusters.select(col("id").as("__lfs_id"), col("component_id").as("__lfs_comp"))
    // an id mapped to TWO different components would (a) multiply corpus
    // rows through the left join and (b) let copies of one document land
    // in BOTH train and test — the exact leakage this function exists to
    // prevent. The cluster map is aggregated per id (slim — pair-endpoint
    // sized) and a conflicting assignment fails the job at run time;
    // exact duplicate (id, comp) rows collapse harmlessly.
    // The guard is min/max, not first+countDistinct: "more than one
    // distinct non-NULL component" ⟺ min(comp) ≠ max(comp) (both skip
    // NULLs), and on every non-failing input all non-NULL comps per id
    // are equal, so min IS the pick first(ignoreNulls) made. countDistinct
    // planned as TWO exchanges (expand on (id, comp), then regroup on id)
    // with no map-side partial aggregation; min/max is ONE id-keyed
    // exchange with partial aggregation — each map task ships at most one
    // candidate per id (guide §2.3). NULL semantics unchanged: a map
    // holding (id, NULL) beside (id, comp) resolves to comp (min skips
    // NULLs), and a NULL-only id yields NULL → the id fallback below —
    // NULL means "no cluster". Both behaviors stay spec-pinned.
    val c = c0.groupBy(col("__lfs_id"))
      .agg(min(col("__lfs_comp")).as("__lfs_comp"),
        max(col("__lfs_comp")).as("__lfs_max"))
    val compType = c.schema("__lfs_comp").dataType
    // the singleton-cluster fallback is id.cast(compType); a lossy or
    // unrepresentable cast (string doc ids vs numeric component ids)
    // would yield NULL and silently hash every unclustered row onto ONE
    // split key — fail fast instead
    val idType = df.select(id).schema.head.dataType
    require(idType == compType ||
      org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(idType, compType),
      s"leakFreeSplit: id type $idType is not losslessly castable to the cluster map's " +
        s"component_id type $compType — the singleton-cluster fallback would produce NULLs " +
        "and collapse every unclustered row onto one split key; align the types (e.g. build " +
        "the cluster map with component_id cast to the id's type)")
    // NULL-safe inequality is unnecessary: min/max are either both NULL
    // (no non-NULL comp — no conflict) or both non-NULL, and `=!=` on two
    // NULLs yields NULL → otherwise-branch, exactly the no-conflict path
    val joined = df.join(c, id === col("__lfs_id"), "left")
      .withColumn("component_id",
        when(col("__lfs_comp") =!= col("__lfs_max"),
          raise_error(concat(
            lit("leakFreeSplit: the cluster map assigns multiple component_ids to id "),
            col("__lfs_id").cast("string"),
            lit(" — a document would land in more than one split"))).cast(compType))
          .otherwise(coalesce(col("__lfs_comp"), id.cast(compType))))
      .drop("__lfs_id", "__lfs_comp", "__lfs_max")
    hashSplit(joined, col("component_id"), splitsPermille, salt)
  }

  /** Keep each row with per-stratum probability `ratesPermille(stratum)`
    * (fallback `defaultPermille`), decided by the deterministic hash
    * bucket. `key` must be unique per row for an unbiased sample. */
  def stratifiedHashSample(
      df: DataFrame,
      stratum: Column,
      key: Column,
      ratesPermille: Map[String, Int],
      defaultPermille: Int): DataFrame = {
    require((defaultPermille +: ratesPermille.values.toSeq).forall(r => r >= 0 && r <= 1000),
      s"keep rates are per-mille probabilities and must lie in [0, 1000]; " +
        s"got default=$defaultPermille, rates=$ratesPermille")
    val rate = ratesPermille.foldLeft(lit(defaultPermille): Column) {
      case (acc, (s, r)) => when(stratum === s, lit(r)).otherwise(acc)
    }
    df.filter(sampleBucket(stratum, key) < rate)
  }

  /** Budget-capped selection per group: order each group's rows by
    * `order` (quality first; append a unique key — the order must be
    * total or the prefix is nondeterministic) and keep the longest
    * prefix whose running `weight` total stays within `budget` — the
    * "take the best documents until the token budget fills" pass of a
    * data-selection pipeline, one per-group decision per corpus row.
    * The running total is monotone, so once a row crosses the line every
    * later row is out too: the kept set is exactly a prefix.
    *
    * The running total is the two-pass distributed prefix sum of
    * [[Prefix.runningSum]] — never one task per group (the naive
    * group-partitioned window would funnel a 100 TB corpus's dominant
    * language through a single sort). The boundary row that would cross
    * the budget is dropped (no partial documents).
    *
    * Call-time contract (inherited from [[Prefix.runningSum]]): above the
    * size gate an eager boundary-sampling job runs when this is CALLED,
    * and `group`/`order`/`weight` resolve by name against the
    * materialized frame — see the Prefix scaladoc.
    *
    * → input columns + (cum_weight, kept). */
  def budgetSelect(
      df: DataFrame, group: Column, order: Seq[Column], weight: Column,
      budget: Long): DataFrame = {
    // fail fast on collision like the sibling operators: the natural
    // upstream (temperatureResample) also emits `kept`, and silently
    // replacing it would discard the temperature decision for every row
    require(!df.columns.contains("kept") && !df.columns.contains("cum_weight"),
      "budgetSelect adds cum_weight/kept columns; the input already has one — " +
        "apply and drop the upstream decision first (e.g. .filter($\"kept\").drop(\"kept\"))")
    Prefix.runningSum(df, group, order, weight, "cum_weight")
      .withColumn("kept", col("cum_weight") <= budget)
  }

  /** THE salted order hash: the raw polynomial hash preserves magnitude
    * order for short keys (no mod wrap below ~1e9), so ordering by it
    * would just sort by id length and a salt change would barely
    * reshuffle. One multiply-and-wrap mixes it: h < P and the Knuth
    * constant keep the product < 2^62 (exact in i64 and in DuckDB HUGEINT
    * alike), and the thousands of mod wraps decorrelate rank from key
    * shape and amplify the salt. [[hashSampleK]], [[shuffleShards]] and
    * their DuckDB oracles all replay this one definition. */
  private[operators] def mixedHash(key: Column, salt: String): Column = {
    val h = Dedup.rollingHash(
      concat(lit(salt), lit(":"), coalesce(key.cast("string"), lit(""))))
    pmod(h * lit(2654435761L), lit(graft.functions.RollingHash.Mod))
  }

  /** Exactly-k-per-group deterministic sample — "pick 100 eval docs per
    * language", reproducibly: rows rank within their group by the salted
    * engine-neutral hash of their key (ties impossible below: the unique
    * key breaks them), and the k smallest win. Unlike a rate-based
    * Bernoulli the count is EXACT per group (a group smaller than k keeps
    * everything); unlike `orderBy.limit` it is per-group and unbiased by
    * any data column. One window shuffle on the group key; the hash order
    * is a pure function of (salt, key), so runs, engines and
    * partitionings agree row-for-row — PROVIDED `key` is unique and
    * non-null per row (the same precondition as [[stratifiedHashSample]]):
    * duplicate or null keys tie on the whole sort; tied rows still get
    * DISTINCT consecutive ranks (ROWS-frame prefix count — exactly k rows
    * per group come back), but which tied row wins is engine/scan-order
    * dependent. `salt` redraws. Call-time contract inherited from
    * [[Prefix.runningSum]] (eager sampling job above the size gate,
    * by-name resolution — see the Prefix scaladoc).
    * → input columns + sample_rank (1-based). */
  def hashSampleK(
      df: DataFrame, group: Column, key: Column, k: Int,
      salt: String = "v1"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(!df.columns.contains("sample_rank"),
      "hashSampleK adds a `sample_rank` column; the input already has one")
    val mixed = mixedHash(key, salt)
    // ranks via the two-pass prefix count: a corpus-scale input with a
    // handful of groups never funnels a group through one task
    Prefix.runningRank(df, group, Seq(mixed.asc, key.asc_nulls_first), "sample_rank")
      .filter(col("sample_rank") <= k)
  }

  /** The LAST step before training: a reproducible global shuffle of the
    * curated corpus into `numShards` shards. Every row gets a shard and a
    * 1-based position inside it; reading the shards in (shard,
    * pos_in_shard) order replays one fixed pseudo-random permutation of
    * the corpus — the training-order shuffle, as a pure function of
    * (salt, key), so a re-run, another engine, or a different input
    * partitioning materializes byte-identical shards. `salt` redraws the
    * permutation (the "shuffle seed" between epochs — cheaper than
    * re-materializing: epoch k reads with salt k).
    *
    * Shard membership is the mixed hash mod `numShards`: sizes are
    * binomial around corpus/numShards (tightly concentrated — shard
    * ASSIGNMENT never depends on planning-time sampling). Positions come
    * from [[Prefix.runningRank]]'s two-pass prefix count, so even a
    * SMALL `numShards` (one file per language, say) never funnels a
    * shard's order through one task — `numShards` sizes the OUTPUT
    * files, not the sort parallelism. Same unique-non-null-key
    * precondition as [[hashSampleK]]: duplicate keys tie on the whole
    * order and resolve by scan order (distinct positions, arbitrary
    * assignment). Call-time contract inherited from [[Prefix.runningSum]]
    * (eager sampling job above the size gate, by-name resolution — see
    * the Prefix scaladoc).
    * → input columns + shard + pos_in_shard. */
  def shuffleShards(
      df: DataFrame, key: Column, numShards: Int,
      salt: String = "v1"): DataFrame = {
    require(numShards >= 1, s"numShards must be >= 1, got $numShards")
    require(!df.columns.contains("shard") && !df.columns.contains("pos_in_shard"),
      "shuffleShards adds shard/pos_in_shard columns; the input already has one")
    val mixed = mixedHash(key, salt)
    val withShard = df.withColumn("shard", pmod(mixed, lit(numShards.toLong)))
    Prefix.runningRank(withShard, col("shard"),
      Seq(mixed.asc, key.asc_nulls_first), "pos_in_shard")
  }

  /** Data-recipe up-sampling: materialize each group's rows
    * `weightsPermille(group)/1000` times in expectation — the "2.3 epochs
    * of Wikipedia, 0.8 of CommonCrawl" mixing step that turns a recipe
    * table into the actual training stream. Integer epochs replicate
    * every row (`epoch` = 0..n-1); the fractional remainder is one extra
    * copy for rows whose deterministic hash bucket falls under it — so
    * the realized rate is exact in expectation and every engine/run/
    * partitioning materializes the SAME set (same guarantees as
    * [[hashSplit]]; `salt` versions the draw). A weight of 0 drops the
    * group; 1000 passes it through unchanged.
    *
    * Pure map-side: a literal when-chain resolves the weight, the row
    * explodes its own `sequence` — no shuffle, no join; composes into
    * the scan. At 100 TB the blow-up factor is the recipe's, never more.
    * → input columns + epoch. */
  def epochUpsample(
      df: DataFrame, group: Column, key: Column,
      weightsPermille: Map[String, Int], defaultPermille: Int,
      salt: String = "v1"): DataFrame = {
    require((defaultPermille +: weightsPermille.values.toSeq).forall(_ >= 0),
      "epoch weights must be >= 0")
    require(!df.columns.contains("epoch") && !df.columns.contains("__reps"),
      "epochUpsample adds an `epoch` column; the input already has epoch/__reps")
    val w = weightsPermille.foldLeft(lit(defaultPermille): Column) {
      case (acc, (g, p)) => when(group === g, lit(p)).otherwise(acc)
    }
    val stratum = concat(lit(salt), lit(":"), coalesce(group.cast("string"), lit("")))
    val reps = (w.cast("long") / 1000L).cast("long") +
      when(sampleBucket(stratum, key) < pmod(w.cast("long"), lit(1000L)), 1L).otherwise(0L)
    df.withColumn("__reps", reps)
      .filter(col("__reps") > 0)
      .withColumn("epoch", explode(sequence(lit(0L), col("__reps") - 1L)))
      .drop("__reps")
  }

  /** Temperature-scaled group mixing — the multilingual-training α
    * exponent (XLM/mBERT style): rebalance group shares from p_g toward
    * p_g^α by downsampling each group relative to the SMALLEST one,
    * keep-rate r_g = (n_min/n_g)^(1−α) — the smallest group keeps
    * everything (1000‰), dominant groups are damped by the temperature
    * (α = 1 keeps the natural distribution, α = 0 equalizes counts).
    * The keep decision is the deterministic [[sampleBucket]] Bernoulli —
    * map-side, engine-replayable, stable under repartition and retries.
    *
    * Group sizes are one map-side-combined aggregate producing a
    * rows-per-group table; the global min is an unpartitioned window
    * over that TINY table (never a cross join against the corpus) and
    * the resulting rate table broadcasts back — the corpus itself never
    * shuffles. Engine parity of the rate: exact at α = 0.5 (computed
    * via IEEE-correctly-rounded `sqrt`, replayed identically by the
    * oracle); other α use `pow`, where the last ulp is libm-dependent —
    * document-level decisions may then differ AT the rate boundary
    * across engines (never across runs of the same engine).
    *
    * The keep rate quantizes to PARTS PER BILLION (bucket = hash mod 10⁹
    * against ⌊r_g·10⁹⌋), not the per-mille grid [[sampleBucket]] uses for
    * rates and splits: realistic multilingual imbalances are 10⁴-10⁵×
    * (English vs a low-resource language), where a per-mille floor is a
    * 10-100% relative bias on the damped group's realized rate — and any
    * group beyond 1000^(1/(1−α)) times the smallest (α = 0: just 1000×)
    * would floor to 0 and be silently dropped ENTIRELY instead of
    * downsampled. Per-billion pushes that extinction bound to 10⁹× and
    * the quantization bias below anything a corpus can resolve. The fine
    * bucket comes from [[decisionHash]] (see its scaladoc: the raw
    * polynomial's high bits are badly non-uniform — a 0.707 rate
    * realized as ~0.99 — and an affine mix fixes the marginal but keeps
    * chained stages' decisions correlated; the quadratic mix fixes
    * both, measured). The mod-10⁹ bucket over the [0, 10⁹+7) mixed
    * range keeps a ~7e-9 bias toward buckets 0-6 — identical in the
    * oracle's replay, invisible next to the rate itself.
    *
    * → input columns + (keep_ppb, kept); filter on `kept` to apply.
    */
  def temperatureResample(
      df: DataFrame, group: Column, key: Column, alpha: Double): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha must be in [0, 1], got $alpha")
    require(!df.columns.contains("keep_ppb") && !df.columns.contains("kept"),
      "temperatureResample adds keep_ppb/kept columns; the input already has one")
    val sizes = df.groupBy(group.as("__g")).agg(count(lit(1)).as("__n"))
    val ratio = min(col("__n")).over(Window.partitionBy()).cast("double") / col("__n")
    val rate = if (alpha == 0.5) sqrt(ratio) else pow(ratio, lit(1.0 - alpha))
    val rates = broadcast(sizes
      .withColumn("keep_ppb", floor(rate * lit(1.0e9)).cast("long"))
      .select(col("__g"), col("keep_ppb")))
    // null-safe: groupBy above counts NULL as a group, so the join must
    // match it too — a plain === would silently drop null-group rows —
    // and the bucket hash follows hashSplit's convention (null stratum
    // and null key hash as the empty string) instead of propagating null
    // into `kept`
    val bucket = pmod(decisionHash(concat(
      coalesce(group.cast("string"), lit("")), lit(":"),
      coalesce(key.cast("string"), lit("")))), lit(1000000000L))
    df.join(rates, group <=> col("__g"))
      .drop("__g")
      .withColumn("kept", bucket < col("keep_ppb"))
  }
}
