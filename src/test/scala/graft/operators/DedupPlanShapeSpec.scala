package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Plan-shape guards for the dedup tier: these operators were specifically
  * engineered down to a known shuffle budget (see Dedup scaladoc), and a
  * careless refactor — a distinct() for pair dedup, an aggregate
  * formulation of the signature — silently reintroduces corpus-wide
  * exchanges that only show up as cost at scale.
  */
class DedupPlanShapeSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "a b c d e f"), (2L, "a b c d e g"), (3L, "x y z w v u"))
    .toDF("doc_id", "text")

  private def nExchanges(df: DataFrame): Int =
    "(?<!Broadcast)Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).length

  /** DISTINCT shuffles by canonical plan: a self-join prints its shared
    * exchange once per side, but runtime exchange reuse materializes each
    * canonically-identical exchange once — this is the number that prices
    * the plan. */
  private def nDistinctExchanges(df: DataFrame): Int =
    df.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e.canonicalized
    }.distinct.size

  test("minhash signatures are narrow-only: zero exchanges") {
    val sig = Dedup.minhashSignatures(docs, col("doc_id"), col("text"), n = 3, k = 8)
    assert(nExchanges(sig) == 0,
      s"per-row signature must not shuffle:\n${sig.queryExecution.executedPlan}")
  }

  // the LSH pair plan's load-bearing property at corpus scale: NOTHING
  // corpus-sized carries the shingle arrays through a shuffle — the band
  // exchange ships (doc, band, sig) only, and shingles enter an exchange
  // only for candidate docs (output-bounded). A careless refactor that
  // rides the hs array through the band join reintroduces a ~34 GB
  // exchange at 10M docs (measured, round 8).
  private def assertSlimBandExchange(plan: String): Unit = {
    val bandExchanges = "Exchange hashpartitioning\\([ab]?band[^\\n]*".r.findAllIn(plan).toList
    assert(bandExchanges.nonEmpty, s"band exchange missing:\n$plan")
    assert(!bandExchanges.exists(_.contains("hs")),
      s"the band exchange must never carry the shingle arrays:\n$plan")
  }

  /** Evaluate `body` with auto-broadcast off: the toy fixture otherwise
    * broadcasts every join side and the exchange-shape assertions have
    * nothing to look at (at corpus scale these exchanges are real). */
  private def withNoAutoBroadcast[A](body: => A): A = {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("LSH near-dup pairs (collect strategy, the default): one grouped bucket " +
    "aggregate — no window, no band self-join, band exchange still slim") {
    withNoAutoBroadcast {
    for (cap <- Seq(10000, Int.MaxValue)) {
      val pairs = Dedup.minhashNearDupPairs(
        docs, col("doc_id"), col("text"), n = 3, k = 8, bands = 4, minJaccardPermille = 200,
        maxBucketSize = cap)
      val plan = pairs.queryExecution.executedPlan.toString
      assertSlimBandExchange(plan)
      // the cap is a size filter on the collected bucket row — neither
      // cap mode pays a window sort or a self-join build/probe
      assert(!plan.contains("Window"),
        s"the bucket cap must not pay a count window (cap=$cap):\n$plan")
      assert(!"ShuffledHashJoin \\[a?band".r.findFirstIn(plan).isDefined,
        s"bucket pairs must not self-join the band exchange (cap=$cap):\n$plan")
      // collect_list on the high-cardinality bucket key goes through the
      // object aggregate (sort-fallback bounded per partition)
      assert(plan.contains("ObjectHashAggregate"),
        s"bucket collect aggregate missing (cap=$cap):\n$plan")
      // band + pair-dedup agg + candidate-id distinct + two verify joins
      // (candidate side + the reused candidate-shingle exchange)
      assert(nDistinctExchanges(pairs) <= 6,
        s"LSH pair plan grew extra shuffles (cap=$cap):\n$plan")
    }
    }
  }

  test("simhash near-dup pairs keep the single-exchange shape") {
    val pairs = Dedup.simhashNearDupPairs(docs, col("doc_id"), col("text"), maxHamming = 2)
    assert(nExchanges(pairs) <= 2,
      s"simhash pair plan grew extra shuffles:\n${pairs.queryExecution.executedPlan}")
  }

  test("range join plans as an equi-join, never a nested loop") {
    val points = Seq((1L, 10L, 900L)).toDF("user_id", "pt", "p_id")
    val ivs = Seq((1L, 5L, 12L, 100L)).toDF("i_user", "lo", "hi", "i_id")
    val joined = Relational.rangeJoin(
      points, Seq("user_id"), "pt", ivs, Seq("i_user"), "lo", "hi", bucketWidth = 4L)
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"range join degraded to a θ-join plan:\n$plan")
    // the exact range predicate must ride the equi-join as a residual, and
    // the interval side must explode to bucket rows
    assert(plan.contains("Generate explode"), s"interval bucketing missing:\n$plan")
  }

  test("contamination overlap is an equi-join on the shingle hash") {
    val bench = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val train = Seq((10L, "a b c d x")).toDF("doc_id", "text")
    val pairs = Contamination.ngramOverlapPairs(
      bench, col("doc_id"), col("text"), train, col("doc_id"), col("text"),
      n = 3, minShared = 1)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"contamination must never be bench × corpus:\n$plan")
  }

  test("stratified sample is pure map-side: zero exchanges") {
    val sampled = Sampling.stratifiedHashSample(
      docs.withColumn("lang", TextAnalysis.langId(col("text"))),
      col("lang"), col("doc_id"), Map("en" -> 200), 500)
    assert(nExchanges(sampled) == 0,
      s"sampling must compose into the scan:\n${sampled.queryExecution.executedPlan}")
  }

  test("duplicateSpans: semi-join on the gram key, never broadcast of the corpus") {
    // below the input-size gate (toy inputs): fully lazy plan, shuffled
    // semi join, NO eager sizing job
    val lazySpans = Dedup.duplicateSpans(docs, col("doc_id"), col("text"), n = 3)
    val lazyPlan = lazySpans.queryExecution.executedPlan.toString
    assert(lazyPlan.contains("ShuffledHashJoin") && lazyPlan.contains("LeftSemi"),
      s"below the size gate the mask pass must stay the lazy shuffled semi join:\n$lazyPlan")
    assert(!lazyPlan.contains("BroadcastNestedLoopJoin") && !lazyPlan.contains("CartesianProduct"),
      s"duplicateSpans degraded to a non-equi plan:\n$lazyPlan")
    // above the gate (the common corpus case): the GramCountSketch
    // pre-filter sits in the postings scan, the sketch-positive sliver is
    // cached, the exact >= 2 keys BROADCAST into a map-side semi join —
    // nothing corpus-sized shuffles at all
    spark.conf.set(Dedup.BroadcastGateMinBytesKey, "0")
    try {
      val spans = Dedup.duplicateSpans(docs, col("doc_id"), col("text"), n = 3)
      val plan = spans.queryExecution.executedPlan.toString
      assert(plan.contains("gram_sketch_maybe_dup"),
        s"above the gate the postings scan must carry the sketch pre-filter:\n$plan")
      assert(plan.contains("InMemoryTableScan"),
        s"above the gate the mask pass must read the cached candidate sliver:\n$plan")
      assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
        s"small dup-key sets above the gate must broadcast:\n$plan")
      // dup keys above maxBroadcastKeys: shuffled semi join against the
      // cached candidates
      val big = Dedup.duplicateSpans(docs, col("doc_id"), col("text"), n = 3,
        maxBroadcastKeys = 0L)
      val bigPlan = big.queryExecution.executedPlan.toString
      assert(bigPlan.contains("ShuffledHashJoin") && bigPlan.contains("LeftSemi"),
        s"above the broadcast cap the mask pass must be the shuffled semi join:\n$bigPlan")
      // the cluster build strategy (per-task sketches, tree-reduced)
      spark.conf.set(Dedup.SketchBuildKey, "perTask")
      val perTask =
        try Dedup.duplicateSpans(docs, col("doc_id"), col("text"), n = 3)
        finally spark.conf.unset(Dedup.SketchBuildKey)
      // all four strategies emit identical spans
      val want = lazySpans.collect().sortBy(r => (r.getLong(0), r.getLong(1))).toSeq
      for ((got, label) <- Seq((spans, "sketch+broadcast"), (big, "sketch+shuffled"),
          (perTask, "perTask build"))) {
        assert(got.collect().sortBy(r => (r.getLong(0), r.getLong(1))).toSeq == want,
          s"$label path must emit the lazy path's spans")
      }
    } finally spark.conf.unset(Dedup.BroadcastGateMinBytesKey)
  }

  test("duplicateSpans: a saturation-doomed sketch is skipped for the lazy exact count") {
    // plane cap forced far below the sizing target (the shape of a
    // beyond-plane-scale corpus, or a tight-executor cap on a big one):
    // a saturated sketch passes ~everything, so the operator must keep
    // the lazy exchange and never build/probe the sketch
    val want = Dedup.duplicateSpans(docs, col("doc_id"), col("text"), n = 3)
      .collect().sortBy(r => (r.getLong(0), r.getLong(1))).toSeq // default confs
    spark.conf.set(Dedup.BroadcastGateMinBytesKey, "0")
    spark.conf.set(Dedup.SketchMaxBytesKey, "16")
    // the 64-cell cap falls short of any ratio × desired cells this
    // large, whatever the toy relation's stats estimate — the
    // predicted-saturation shape
    spark.conf.set(Dedup.SketchMinSizingRatioKey, "1000000")
    try {
      val spans = Dedup.duplicateSpans(docs, col("doc_id"), col("text"), n = 3)
      val plan = spans.queryExecution.executedPlan.toString
      assert(!plan.contains("gram_sketch_maybe_dup"),
        s"an undersized-by-ratio sketch must not be built or probed:\n$plan")
      assert(plan.contains("ShuffledHashJoin") && plan.contains("LeftSemi"),
        s"the fallback must be the lazy shuffled semi join:\n$plan")
      assert(spans.collect().sortBy(r => (r.getLong(0), r.getLong(1))).toSeq == want,
        "fallback rows must equal the lazy path's")
    } finally {
      spark.conf.unset(Dedup.BroadcastGateMinBytesKey)
      spark.conf.unset(Dedup.SketchMaxBytesKey)
      spark.conf.unset(Dedup.SketchMinSizingRatioKey)
    }
  }

  test("duplicateSpans: unknown stats (RDD-backed input) keep the sketch, not the fallback") {
    // a non-file-backed plan reports the defaultSizeInBytes SENTINEL
    // (Long.MaxValue) — "unknown", not "huge": the saturation check must
    // not read it as a beyond-plane-scale corpus and silently drop the
    // pre-filter that r9 measured 4.2x on
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val rdd = spark.sparkContext.parallelize(
      docs.collect().toIndexedSeq)
    val rddDocs = spark.createDataFrame(rdd,
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
    assert(rddDocs.queryExecution.optimizedPlan.stats.sizeInBytes > BigInt(Long.MaxValue) / 2,
      "precondition: the RDD-backed plan must report the unknown-size sentinel")
    spark.conf.set(Dedup.BroadcastGateMinBytesKey, "0")
    // tiny planes: the unknown-stats bypass must hold at ANY cap, and the
    // shared test JVM shouldn't allocate the default 1 GiB planes
    spark.conf.set(Dedup.SketchMaxBytesKey, "1048576")
    try {
      val spans = Dedup.duplicateSpans(rddDocs, col("doc_id"), col("text"), n = 3)
      val plan = spans.queryExecution.executedPlan.toString
      assert(plan.contains("gram_sketch_maybe_dup"),
        s"unknown stats must keep the r9 capped-sketch behavior:\n$plan")
    } finally {
      spark.conf.unset(Dedup.BroadcastGateMinBytesKey)
      spark.conf.unset(Dedup.SketchMaxBytesKey)
    }
  }

  test("duplicateSpans: a PROJECTED unknown-stats input still counts as unknown") {
    // Spark's size-only stats visitor scales a Project's estimate by its
    // row-width ratio, so a projection over an RDD-backed input turns the
    // Long.MaxValue sentinel into garbage BELOW it — a root-only sentinel
    // comparison reads that as a real beyond-plane-scale corpus and drops
    // the sketch. The leaf-level check must classify it as unknown.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val rdd = spark.sparkContext.parallelize(
      docs.collect().toIndexedSeq.map(r => Row(r.getLong(0), r.getString(1), "pad")))
    val wide = spark.createDataFrame(rdd,
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
        StructField("pad", StringType))))
    val projected = wide.select(col("doc_id"), col("text"))
    val rootStats = projected.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(rootStats < BigInt(Long.MaxValue) && rootStats > BigInt(1L << 50),
      s"precondition: the projected plan must report a SCALED (sub-sentinel, still " +
        s"absurd) estimate, got $rootStats")
    spark.conf.set(Dedup.BroadcastGateMinBytesKey, "0")
    spark.conf.set(Dedup.SketchMaxBytesKey, "1048576")
    try {
      val spans = Dedup.duplicateSpans(projected, col("doc_id"), col("text"), n = 3)
      val plan = spans.queryExecution.executedPlan.toString
      assert(plan.contains("gram_sketch_maybe_dup"),
        s"a scaled sentinel must not be read as a real beyond-plane-scale estimate:\n$plan")
    } finally {
      spark.conf.unset(Dedup.BroadcastGateMinBytesKey)
      spark.conf.unset(Dedup.SketchMaxBytesKey)
    }
  }

  test("temperatureResample and quantileBuckets broadcast their tiny side") {
    val langs = docs.withColumn("lang", TextAnalysis.langId(col("text")))
      .withColumn("n_chars", length(col("text")).cast("long"))
    for (df <- Seq(
      Sampling.temperatureResample(langs, col("lang"), col("doc_id"), alpha = 0.5),
      Stats.quantileBuckets(langs, Seq("lang"), "n_chars", "doc_id", Seq(500)))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"rate/threshold table must broadcast back, not shuffle the corpus:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"degraded to a non-equi plan:\n$plan")
    }
  }

  test("targetAffinity broadcasts the target gram set") {
    val affinity = TextAnalysis.targetAffinity(
      docs, col("doc_id"), col("text"), docs.limit(1), col("text"), n = 2)
    val plan = affinity.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the target set must be the broadcast side, never a corpus shuffle on h:\n$plan")
  }

  test("budgetSelect: sliced windows over one shared range shuffle, broadcast offsets only") {
    // the two-pass prefix sum (Prefix.runningSum): the only join allowed
    // is the BROADCAST of the tiny slice-offsets table; the corpus-scale
    // window must be sliced — partitioned by (slice, group), never by the
    // group alone (the one-task-per-group trap); full shape + value
    // equivalence is pinned in SamplingScaleSpec
    // force the two-pass path (the size gate would send this toy input
    // down the naive window — SamplingScaleSpec pins the gate itself)
    spark.conf.set(Prefix.TwoPassMinBytesKey, "0")
    val budgeted =
      try Sampling.budgetSelect(
        docs.withColumn("w", lit(3L)), col("doc_id") % 2, Seq(col("doc_id")), col("w"), 5L)
      finally spark.conf.unset(Prefix.TwoPassMinBytesKey)
    budgeted.collect()
    // the offsets join carries no forced hint anymore (a high-cardinality
    // group key would broadcast a multi-GB table — see Prefix.runningSum);
    // AQE's runtime-exact stage sizes convert the join to a broadcast
    // whenever the small side actually is small, so the pin reads the
    // FINAL adaptive plan (the printed Initial Plan legitimately shows
    // the pre-AQE SortMergeJoin)
    val plan = budgeted.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin"),
      s"the offsets join must resolve to a broadcast at runtime:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"no shuffled join may survive AQE in budget selection:\n$plan")
    assert(plan.contains("windowspecdefinition(__pfx_pid"),
      s"corpus window must be sliced by (pid, group):\n$plan")
  }
}
