package graft.operators

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkSpec

class ContaminationSpec extends SparkSpec {
  import spark.implicits._

  /** Naive reference: distinct word n-grams (same semantics as
    * Dedup.shingleHashes — whitespace tokens, sliding n, dedup). */
  private def grams(text: String, n: Int): Set[String] = {
    val toks = text.split("\\s+").filter(_.nonEmpty).toSeq
    if (toks.length < n) Set.empty else toks.sliding(n).map(_.mkString(" ")).toSet
  }

  test("overlap pairs: shared-count threshold and coverage permille") {
    val bench = Seq((1L, "a b c d e")).toDF("doc_id", "text") // 3 shingles
    val train = Seq(
      (10L, "a b c d x"), // shares "a b c", "b c d" -> 2
      (11L, "z z q"),     // shares nothing
      (12L, "a b c x y")  // shares only "a b c" -> below minShared=2
    ).toDF("doc_id", "text")
    val got = Contamination.ngramOverlapPairs(
      bench, col("doc_id"), col("text"), train, col("doc_id"), col("text"),
      n = 3, minShared = 2)
      .select("bench_id", "train_id", "n_shared", "bench_size", "contaminated_permille")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 10L, 2L, 3L, 666L))) // floor(2*1000/3)
  }

  test("hot-shingle cap: boilerplate n-grams do not create pairs") {
    val bench = Seq((1L, "the same header x y z")).toDF("doc_id", "text")
    // "the same header" appears in 3 train docs -> capped at 2; each train
    // doc then shares nothing else with the bench doc
    val train = Seq(
      (10L, "the same header p q r"),
      (11L, "the same header s t u"),
      (12L, "the same header v w j")
    ).toDF("doc_id", "text")
    val capped = Contamination.ngramOverlapPairs(
      bench, col("doc_id"), col("text"), train, col("doc_id"), col("text"),
      n = 3, minShared = 1, maxShingleFreq = 2L)
    assert(capped.count() == 0)
    val uncapped = Contamination.ngramOverlapPairs(
      bench, col("doc_id"), col("text"), train, col("doc_id"), col("text"),
      n = 3, minShared = 1, maxShingleFreq = 100L)
    assert(uncapped.count() == 3)
  }

  test("above the persist gate: one-scan cached postings, identical output") {
    val bench = Seq((1L, "a b c d e"), (2L, "p q r s")).toDF("doc_id", "text")
    val train = Seq(
      (10L, "a b c d x"), (11L, "z z q w e r"), (12L, "p q r s t"),
      (13L, "a b c x y")).toDF("doc_id", "text")
    def run() = Contamination.ngramOverlapPairs(
      bench, col("doc_id"), col("text"), train, col("doc_id"), col("text"),
      n = 3, minShared = 2)
    def spansRun() = Contamination.ngramOverlapSpans(
      bench, col("doc_id"), col("text"), train, col("doc_id"), col("text"),
      n = 3, minShared = 2)
    val defaultPairs = run().collect().map(_.toSeq).toSet
    val defaultSpans = spansRun().collect().map(_.toSeq).toSet
    spark.conf.set(Contamination.PersistGateMinBytesKey, "0")
    try {
      val gated = run()
      assert(gated.collect().map(_.toSeq).toSet == defaultPairs)
      // the join pass reads the persisted slim posting table, not a
      // second corpus scan
      assert(gated.queryExecution.executedPlan.toString.contains("InMemoryTableScan"))
      assert(spansRun().collect().map(_.toSeq).toSet == defaultSpans)
    } finally {
      spark.conf.unset(Contamination.PersistGateMinBytesKey)
      spark.sharedState.cacheManager.clearCache()
    }
    // oversized-bench fallback: shuffle-hash builds instead of forced
    // broadcasts, identical output
    spark.conf.set(Contamination.BenchBroadcastMaxBytesKey, "0")
    try {
      assert(run().collect().map(_.toSeq).toSet == defaultPairs)
      assert(spansRun().collect().map(_.toSeq).toSet == defaultSpans)
      assert(!run().queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    } finally {
      spark.conf.unset(Contamination.BenchBroadcastMaxBytesKey)
      spark.sharedState.cacheManager.clearCache()
    }
  }

  test("inverted-index overlap ≡ naive set intersection (property)") {
    val genDoc = Gen.choose(2, 10).flatMap(k =>
      Gen.listOfN(k, Gen.oneOf("a", "b", "c", "d")).map(_.mkString(" ")))
    val genCorpus = Gen.choose(1, 8).flatMap(k => Gen.listOfN(k, genDoc))
    val prop = Prop.forAll(genCorpus, genCorpus) { (bs: List[String], ts: List[String]) =>
      val bench = bs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val train = ts.zipWithIndex.map { case (t, i) => (1000L + i, t) }.toDF("doc_id", "text")
      val got = Contamination.ngramOverlapPairs(
        bench, col("doc_id"), col("text"), train, col("doc_id"), col("text"),
        n = 2, minShared = 1)
        .select("bench_id", "train_id", "n_shared")
        .as[(Long, Long, Long)].collect().toSet
      val expected = (for {
        (bt, bi) <- bs.zipWithIndex
        (tt, ti) <- ts.zipWithIndex
        shared = (grams(bt, 2) intersect grams(tt, 2)).size
        if shared >= 1
      } yield (bi.toLong, 1000L + ti, shared.toLong)).toSet
      got == expected
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("normalize hook: case-folded shingles catch re-cased contamination") {
    val bench = Seq((1L, "The Quick Brown Fox Jumps")).toDF("doc_id", "text")
    val train = Seq((10L, "the quick brown fox jumps")).toDF("doc_id", "text")
    // exact-surface default: no shared shingles across the case change
    val exact = Contamination.ngramOverlapPairs(
      bench, col("doc_id"), col("text"), train, col("doc_id"), col("text"),
      n = 3, minShared = 1)
    assert(exact.count() == 0)
    // lower-cased shingling flags the pair with full coverage
    val folded = Contamination.ngramOverlapPairs(
      bench, col("doc_id"), col("text"), train, col("doc_id"), col("text"),
      n = 3, minShared = 1, normalize = lower)
      .select("bench_id", "train_id", "n_shared", "contaminated_permille")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(folded == Set((1L, 10L, 3L, 1000L)))
  }

  test("overlap spans: merged leaked runs in the train doc, repeats included") {
    val bench = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    // train grams (pos): "z a b"0 "a b c"1 "b c d"2 "c d e"3 "d e z"4
    //                    "e z a"5 "z a b"6 "a b c"7
    val train = Seq((10L, "z a b c d e z a b c")).toDF("doc_id", "text")
    val got = Contamination.ngramOverlapSpans(
      bench, col("doc_id"), col("text"), train, col("doc_id"), col("text"),
      n = 3, minShared = 2)
      .select("bench_id", "train_id", "n_shared", "span_start", "span_end", "n_grams")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    // shared distinct: "a b c","b c d","c d e"; leaked positions 1,2,3 merge
    // (gap <= 3) into [1,6); the second "a b c" at pos 7 is a repeat
    // occurrence of a leaked shingle -> masked too, its own island [7,10)
    assert(got == Set((1L, 10L, 3L, 1L, 6L, 3L), (1L, 10L, 3L, 7L, 10L, 1L)))
  }

  test("overlap spans: pairs below minShared emit nothing") {
    val bench = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val train = Seq((10L, "a b c x y z")).toDF("doc_id", "text") // shares only "a b c"
    val got = Contamination.ngramOverlapSpans(
      bench, col("doc_id"), col("text"), train, col("doc_id"), col("text"),
      n = 3, minShared = 2)
    assert(got.count() == 0)
  }

  test("semanticOverlapPairs: threshold on the exact quantized dot, zero shuffles") {
    // unit-ish 2d vectors: (1,0)·(1,0)=1e6, (1,0)·(0.6,0.8)=600000,
    // (1,0)·(0,1)=0 — quantized exactly since 3 decimals suffice
    val bench = Seq((1L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val train = Seq(
      (10L, Seq(1.0f, 0.0f)), (11L, Seq(0.6f, 0.8f)), (12L, Seq(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val out = Contamination.semanticOverlapPairs(
      bench, col("vec_id"), col("embedding"),
      train, col("vec_id"), col("embedding"), minScoreQ = 500000L)
    assert(out.as[(Long, Long, Long)].collect().toSet ==
      Set((1L, 10L, 1000000L), (1L, 11L, 600000L)))
    // the sweep is map-side: the ONLY exchange is the bench broadcast
    // (shuffle exchanges print as bare "Exchange" in Spark 4 plans —
    // masking BroadcastExchange first keeps this check falsifiable)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.replace("BroadcastExchange", "BX").contains("Exchange"),
      s"semantic sweep must not shuffle:\n$plan")
  }
}
