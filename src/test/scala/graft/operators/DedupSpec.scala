package graft.operators

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkSpec
import graft.functions.{MinHashSigKernel, RollingHash, TextHashes}
import org.apache.spark.unsafe.types.UTF8String

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("fused ShingleHashes ≡ HOF-composed shingle pipeline (property)") {
    val genDoc = Gen.choose(0, 8).flatMap(k =>
      Gen.listOfN(k, Gen.oneOf("a", "bb", "ccc", "dd d", "", " ")).map(_.mkString(" ")))
    val prop = Prop.forAll(Gen.listOfN(20, genDoc)) { docs: List[String] =>
      val df = docs.zipWithIndex.map(_.swap).toDF("id", "text")
      val fused = df.select(col("id"), sort_array(Dedup.shingleHashes(col("text"), 3)).as("h"))
        .as[(Int, Seq[Long])].collect().toMap
      val composed = df.select(col("id"), sort_array(Dedup.shingleHashesComposed(col("text"), 3)).as("h"))
        .as[(Int, Seq[Long])].collect().toMap
      fused == composed
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(res.passed, res.status.toString)
  }

  test("rolling hash: golden values + engine-neutral definition") {
    assert(RollingHash.hash(UTF8String.fromString("")) == 0L)
    assert(RollingHash.hash(UTF8String.fromString("a")) == 97L)
    assert(RollingHash.hash(UTF8String.fromString("ab")) == 97L * 31 + 98)
    // matches the mod arithmetic the DuckDB oracle replays
    val h = "abcdefghij".foldLeft((0L, true)) { case ((acc, first), c) =>
      (if (first) c.toLong else (acc * 31 + c) % 1000000007L, false)
    }._1
    assert(RollingHash.hash(UTF8String.fromString("abcdefghij")) == h)
  }

  test("exact dedup groups by content hash") {
    val df = Seq((1, "same text"), (2, "same text"), (3, "other")).toDF("id", "text")
    val got = Dedup.exactGroups(df, col("text"), col("id"))
      .select("n_copies", "canonical_id").as[(Long, Int)].collect().toSet
    assert(got == Set((2L, 1), (1L, 3)))
  }

  test("exact drop-list: anti-on-duplicates ≡ semi-on-canonicals (property)") {
    // the output-bounded apply form must keep EXACTLY the docs the
    // keep-side form keeps, on any multiset of contents
    val gen = Gen.listOf(Gen.zip(Gen.choose(1L, 40L), Gen.oneOf("a", "b", "c", "d")))
      .map(_.distinctBy(_._1))
    val prop = Prop.forAll(gen) { rows =>
      val df = rows.toDF("id", "text")
      val viaAnti = df.join(
        Dedup.exactDropList(df, col("text"), col("id")).select(col("doc_id").as("id")),
        Seq("id"), "left_anti").select("id").as[Long].collect().toSet
      val viaSemi = df.join(
        Dedup.exactGroups(df, col("text"), col("id"))
          .select(col("canonical_id").as("id")),
        Seq("id"), "left_semi").select("id").as[Long].collect().toSet
      viaAnti == viaSemi
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
    // and the list itself names the loser→winner mapping
    val df = Seq((5L, "x"), (2L, "x"), (9L, "y")).toDF("id", "text")
    val drops = Dedup.exactDropList(df, col("text"), col("id"))
      .as[(Long, Long)].collect().toSet
    assert(drops == Set((5L, 2L)))
    // the gated one-call operator produces the same survivors through
    // BOTH branches (gate forced each way) — including for a NULL id,
    // which raw join semantics would flip across the gate (a semi join
    // drops a null key, an anti join keeps it); the operator drops it
    // on both branches
    val withNull = Seq(
      (Some(5L), "x"), (Some(2L), "x"), (Some(9L), "y"), (None, "y"))
      .toDF("id", "text")
    val expect = Set(2L, 9L)
    for (gate <- Seq("0", Long.MaxValue.toString);
         (d, dName) <- Seq((df, "plain"), (withNull, "withNull"))) {
      spark.conf.set(Dedup.ExactSemiMaxBytesKey, gate)
      try assert(Dedup.exactDeduplicate(d, col("text"), "id")
        .select("id").as[Long].collect().toSet == expect, s"gate=$gate input=$dName")
      finally spark.conf.unset(Dedup.ExactSemiMaxBytesKey)
    }
  }

  test("n-gram jaccard pairs: hand-computed overlap") {
    // doc1/doc2 share 2 of their 3-gram shingles; doc3 shares none
    val df = Seq(
      (1, "w x y z"),   // shingles: {w x y, x y z}
      (2, "w x y z q"), // shingles: {w x y, x y z, y z q}
      (3, "a b c d")    // shingles: {a b c, b c d}
    ).toDF("id", "text")
    val got = Dedup.jaccardPairs(df, col("id"), col("text"), n = 3, minJaccardPermille = 100)
      .select("a_id", "b_id", "common", "jaccard_permille")
      .as[(Int, Int, Long, Long)].collect().toSet
    assert(got == Set((1, 2, 2L, 666L))) // 2 / (2 + 3 - 2) = 0.666...
  }

  test("hot-shingle cap drops pairs only reachable via capped shingles") {
    val df = Seq((1, "h h h"), (2, "h h h"), (3, "h h h")).toDF("id", "text")
    // shingle "h h h" appears in 3 docs; cap at 2 removes the whole index
    val capped = Dedup.jaccardPairs(df, col("id"), col("text"), 3, 100, maxShingleFreq = 2)
    assert(capped.count() == 0)
    val uncapped = Dedup.jaccardPairs(df, col("id"), col("text"), 3, 100)
    assert(uncapped.count() == 3) // all three pairs, jaccard 1000
  }

  test("minhash LSH near-dups = exact-jaccard pairs it can see; verify kills false positives") {
    val df = Seq(
      (1, "the quick brown fox jumps over the lazy dog today"),
      (2, "the quick brown fox jumps over the lazy dog tonight"), // near-dup of 1
      (3, "completely different words appear in this sentence here now")
    ).toDF("id", "text")
    val pairs = Dedup.minhashNearDupPairs(df, col("id"), col("text"),
      n = 3, k = 8, bands = 4, minJaccardPermille = 500)
      .select("a_id", "b_id").as[(Int, Int)].collect().toSet
    assert(pairs == Set((1, 2)))
  }

  test("duplicateSpans: a narrow-hash collision does not fabricate a span (wide key space)") {
    // brute-force a birthday collision in the NARROW rolling-hash space:
    // two distinct tokens with the same h1 — in the narrow space the grams
    // "a a a" / "b b b" would then look like one duplicated gram (the
    // saturation mode that emptied 2.2M of 8.4M docs at 10M-doc scale)
    val mod = 1000000007L
    def h1(t: String): Long = t.codePoints().toArray.foldLeft((0L, true)) {
      case ((h, first), cp) => (if (first) cp % mod else (h * 31 + cp) % mod, false)
    }._1
    val seen = scala.collection.mutable.HashMap.empty[Long, String]
    var collision: Option[(String, String)] = None
    var i = 0
    while (collision.isEmpty) {
      val t = "t" + i
      seen.put(h1(t), t).foreach(prev => if (prev != t) collision = Some((prev, t)))
      i += 1
    }
    val (a, b) = collision.get
    assert(h1(a) == h1(b) && a != b)
    val df = Seq((1L, s"$a $a $a"), (2L, s"$b $b $b")).toDF("doc_id", "text")
    assert(Dedup.duplicateSpans(df, col("doc_id"), col("text"), n = 3).count() == 0,
      s"colliding tokens $a/$b must not fabricate a duplicated span")
    // and a REAL cross-doc duplicate is still caught in the wide space
    val real = Seq((1L, s"$a $a $a"), (2L, s"$a $a $a")).toDF("doc_id", "text")
    assert(Dedup.duplicateSpans(real, col("doc_id"), col("text"), n = 3)
      .select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("LSH hot-bucket cap: a boilerplate cluster is pruned whole, others survive") {
    // 6 identical docs = one 6-doc bucket in EVERY band (boilerplate
    // cluster); docs 7/8 are a small near-dup pair in their own buckets
    val df = ((1 to 6).map(i => (i, "same same same same same same text here")) ++ Seq(
      (7, "the quick brown fox jumps over the lazy dog today"),
      (8, "the quick brown fox jumps over the lazy dog tonight")))
      .toDF("id", "text")
    val capped = Dedup.minhashNearDupPairs(df, col("id"), col("text"),
      n = 3, k = 8, bands = 4, minJaccardPermille = 500, maxBucketSize = 5)
      .select("a_id", "b_id").as[(Int, Int)].collect().toSet
    assert(capped == Set((7, 8)), "cluster capped away, small pair survives")
    val uncapped = Dedup.minhashNearDupPairs(df, col("id"), col("text"),
      n = 3, k = 8, bands = 4, minJaccardPermille = 500)
      .select("a_id", "b_id").as[(Int, Int)].collect().toSet
    assert(uncapped.size == 15 + 1, "default cap far above any fixture bucket")
    // observability: the capped-away buckets are reportable as data — the
    // 6-doc boilerplate cluster occupies one over-cap bucket in each band
    val reported = Dedup.cappedLshBuckets(df, col("id"), col("text"),
      n = 3, k = 8, bands = 4, maxBucketSize = 5)
      .select("band", "bucket_size").as[(Int, Long)].collect().toSet
    assert(reported == (0 until 4).map(b => (b, 6L)).toSet, s"got $reported")
    // the dial's ACCOUNTING (what LshBench's `capped` leg publishes) must
    // bound what the pair pipeline actually dropped: per capped bucket the
    // candidate-occurrence bound is C(size, 2); a PAIR is lost only when
    // every shared band is capped, so Σ C(size,2) ≥ pairs lost. Here the
    // cluster floods all 4 bands: bound = 4 × C(6,2) = 60, actual loss =
    // C(6,2) = 15 (the uncapped-minus-capped delta computed above).
    val acct = Dedup.cappedLshBuckets(df, col("id"), col("text"),
      n = 3, k = 8, bands = 4, maxBucketSize = 5)
      .agg(sum(col("bucket_size")).as("mass"),
        sum(expr("bucket_size * (bucket_size - 1) DIV 2")).as("pair_bound"))
      .as[(Long, Long)].head()
    assert(acct == ((24L, 60L)), s"got $acct")
    val lost = uncapped.size - capped.size
    assert(lost == 15 && lost <= acct._2,
      s"pairs lost $lost must be within the dial's bound ${acct._2}")
  }

  test("hot-bucket cap keeps a pair whose FIRST shared band is capped but a later band survives") {
    // hand-built signature table (k = 4, bands = 4, r = 1 → band b keys on
    // mh_b alone): docs 1-6 flood band 0's bucket 100 past the cap; docs
    // 7/8 also sit in that bucket AND share a private band-3 bucket. The
    // r7 first-shared-band filter (computed from the signature arrays,
    // blind to capping) dropped (7,8) at every band; the capped-mode
    // pair-keyed dedup must surface it exactly once via band 3.
    val sig = ((1 to 6).map(i => (i.toLong, 100L, 10L + i, 20L + i, 30L + i)) ++ Seq(
      (7L, 100L, 7L, 77L, 777L),
      (8L, 100L, 8L, 88L, 777L)))
      .toDF("doc", "mh_0", "mh_1", "mh_2", "mh_3")
    val pairs = Dedup.lshCandidates(sig, k = 4, bands = 4, maxBucketSize = 5)
      .as[(Long, Long)].collect().toList
    assert(pairs == List((7L, 8L)), s"got $pairs")
    // and with capping off, the band-0 bucket emits all 28 pairs
    val all = Dedup.lshCandidates(sig, k = 4, bands = 4, maxBucketSize = Int.MaxValue)
    assert(all.count() == 28)
  }

  /** Brute-force LSH candidate reference over the operator's own band
    * signatures, collected: bucketing by (band, sig), the hot-bucket cap
    * and exactly-once a < b pairs, all in Scala. NULL-id rows join no
    * bucket. */
  private def bruteLshCandidates(
      sig: org.apache.spark.sql.DataFrame, k: Int, bands: Int, cap: Int): Set[(Long, Long)] = {
    val rows = sig.select(col("doc"),
        array(Dedup.bandSignaturesFromCols(k, bands): _*).cast("array<string>"))
      .as[(Option[Long], Seq[String])].collect()
      .collect { case (Some(d), bs) => d -> bs }
    val buckets = rows.toSeq
      .flatMap { case (d, bs) => bs.zipWithIndex.map { case (s, b) => (b, s) -> d } }
      .groupBy(_._1).values.map(_.map(_._2).sorted)
    (for {
      ds <- buckets.toSeq if ds.length <= cap
      i <- ds.indices; j <- (i + 1) until ds.length
    } yield (ds(i), ds(j))).toSet
  }

  /** Brute-force n-gram Jaccard reference over the operator's own shingle
    * hashes, collected: document frequency, the hot-shingle cap, the
    * overlap and ⌊1000·common/union⌋, all in Scala. The sizes count capped
    * shingles; `common` does not. NULL-id and shingle-free docs pair with
    * nothing. → (a, b, common, a_size, b_size, jaccard_permille). */
  private def bruteJaccard(
      df: org.apache.spark.sql.DataFrame, n: Int, tau: Int,
      cap: Long): Set[(Long, Long, Long, Long, Long, Long)] = {
    val docs = df.select(col("doc_id"), Dedup.shingleHashes(col("text"), n))
      .as[(Option[Long], Option[Seq[Long]])].collect()
      .collect { case (Some(d), Some(hs)) if hs.nonEmpty => d -> hs.toSet }
    val dfCount = docs.toSeq.flatMap(_._2).groupBy(identity).map { case (h, o) => h -> o.size }
    (for {
      (a, ha) <- docs.toSeq; (b, hb) <- docs.toSeq if a < b
      common = ha.intersect(hb).count(h => dfCount(h) <= cap).toLong
      if common > 0
      jac = 1000L * common / (ha.size + hb.size - common)
      if jac >= tau
    } yield (a, b, common, ha.size.toLong, hb.size.toLong, jac)).toSet
  }

  test("LSH candidate pairs: hand-built buckets, capped and uncapped") {
    // mixed fixture: a >cap boilerplate cluster (docs 1-6), a private pair
    // that ALSO grazes the hot band-0 bucket (7/8 — the band-survival
    // contract), and a genuine small pair (9/10)
    val sig = ((1 to 6).map(i => (i.toLong, 100L, 10L + i, 20L + i, 30L + i)) ++ Seq(
      (7L, 100L, 7L, 77L, 777L),
      (8L, 100L, 8L, 88L, 777L),
      (9L, 900L, 9L, 99L, 999L),
      (10L, 900L, 9L, 91L, 991L)))
      .toDF("doc", "mh_0", "mh_1", "mh_2", "mh_3")
    def run(cap: Int): Set[(Long, Long)] =
      Dedup.lshCandidates(sig, k = 4, bands = 4, maxBucketSize = cap)
        .as[(Long, Long)].collect().toSet
    assert(run(5) == Set((7L, 8L), (9L, 10L)))
    // uncapped, band 0's bucket 100 holds docs 1-8: all 28 of its pairs,
    // each once although 7/8 also share band 3
    val all1to8 = for (a <- 1L to 8L; b <- (a + 1) to 8L) yield (a, b)
    assert(run(Int.MaxValue) == all1to8.toSet + ((9L, 10L)))
  }

  test("LSH: a NULL-id row is dropped before the bucket cap counts it") {
    // a bucket's size must count only real ids: docs 1/2 + a NULL row
    // share every band, and cap=2 keeps the pair only if the NULL row is
    // excluded from the size
    val sig = Seq(
      (Some(1L), 5L, 15L, 25L, 35L),
      (Some(2L), 5L, 15L, 25L, 35L),
      (None: Option[Long], 5L, 15L, 25L, 35L))
      .toDF("doc", "mh_0", "mh_1", "mh_2", "mh_3")
    val got = Dedup.lshCandidates(sig, k = 4, bands = 4, maxBucketSize = 2)
      .as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)), s"got $got")
  }

  test("jaccardPairs: a NULL-id row is dropped, never paired") {
    val df = Seq((Some(1L), "x y z x y z"), (Some(2L), "x y z x y z"),
      (None: Option[Long], "x y z x y z")).toDF("doc_id", "text")
    val got = Dedup.jaccardPairs(df, col("doc_id"), col("text"), n = 3,
      minJaccardPermille = 500)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)), s"got $got")
  }

  test("jaccardPairs ≡ brute-force Jaccard (property, random corpora and caps)") {
    // tiny vocabulary forces heavy shingle sharing, including over-cap
    // shingles; pairs, overlaps, sizes and the exact jaccard_permille
    // must match the oracle under every drawn cap
    val word = Gen.oneOf("a", "b", "c", "d")
    val gen = for {
      nDocs <- Gen.choose(2, 12)
      cap <- Gen.oneOf(2L, 3L, 1000000L)
      tau <- Gen.oneOf(1, 300, 700)
      docs <- Gen.listOfN(nDocs, Gen.listOfN(6, word).map(_.mkString(" ")))
    } yield (docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }, cap, tau)
    val prop = Prop.forAll(gen) { case (rows, cap, tau) =>
      val df = rows.toDF("doc_id", "text")
      val got = Dedup.jaccardPairs(df, col("doc_id"), col("text"), n = 3,
          minJaccardPermille = tau, maxShingleFreq = cap)
        .select(col("a_id"), col("b_id"), col("common"), col("a_size").cast("long"),
          col("b_size").cast("long"), col("jaccard_permille"))
        .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
      got == bruteJaccard(df, 3, tau, cap)
    }
    val res = SCTest.check(prop)(_.withMinSuccessfulTests(25))
    assert(res.passed, res.status.toString)
  }

  test("lshCandidates ≡ brute-force bucketing (property, random tables and caps)") {
    // small value domain forces heavy bucket collisions (including
    // over-cap buckets and multi-band shared pairs)
    val gen = for {
      nDocs <- Gen.choose(2, 30)
      cap <- Gen.oneOf(2, 3, 5, Int.MaxValue)
      rows <- Gen.listOfN(nDocs, Gen.listOfN(4, Gen.choose(0L, 3L)))
    } yield (rows.zipWithIndex.map { case (mh, i) =>
      (i.toLong, mh(0), mh(1), mh(2), mh(3)) }, cap)
    val prop = Prop.forAll(gen) { case (rows, cap) =>
      val sig = rows.toDF("doc", "mh_0", "mh_1", "mh_2", "mh_3")
      Dedup.lshCandidates(sig, k = 4, bands = 4, maxBucketSize = cap)
        .as[(Long, Long)].collect().toSet == bruteLshCandidates(sig, 4, 4, cap)
    }
    val res = SCTest.check(prop)(_.withMinSuccessfulTests(30))
    assert(res.passed, res.status.toString)
  }

  test("simhash: identical docs hamming 0; banded pairs = brute force at hamming<=2") {
    val docs = Seq(
      (1, "alpha beta gamma delta"),
      (2, "alpha beta gamma delta"),
      (3, "alpha beta gamma epsilon"),
      (4, "zeta eta theta iota")).toDF("id", "text")
    val sigs = Dedup.simhashSignatures(docs, col("id"), col("text"))
      .as[(Int, Long)].collect().toMap
    assert(sigs(1) == sigs(2))
    assert(sigs.values.forall(s => s >= 0 && s < (1L << 30)))
    val banded = Dedup.simhashNearDupPairs(docs, col("id"), col("text"), maxHamming = 2)
      .select("a_id", "b_id", "hamming").as[(Int, Int, Long)].collect().toSet
    val brute = (for {
      (a, sa) <- sigs.toSeq; (b, sb) <- sigs.toSeq if a < b
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 2
    } yield (a, b, h.toLong)).toSet
    assert(banded == brute)
    assert(banded.contains((1, 2, 0L)))
  }

  test("MinHashSig kernel: params match Dedup.minhashParams; sig = per-permutation min") {
    val (as, bs) = MinHashSigKernel.params(8, 42L)
    assert(as.toSeq.zip(bs.toSeq) == Dedup.minhashParams(8))
    val docs = Seq((1, "alpha beta gamma delta epsilon"), (2, "x")).toDF("id", "text")
    val sig = Dedup.minhashSignatures(docs, col("id"), col("text"), n = 3, k = 8)
    assert(sig.columns.toSeq == ("doc" +: (0 until 8).map(i => s"mh_$i")))
    val rows = sig.collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1)) // doc 2 has < 3 tokens -> absent
    val hs = docs.filter(col("id") === 1)
      .select(Dedup.shingleHashes(col("text"), 3)).as[Seq[Long]].head()
    val expected = Dedup.minhashParams(8).map { case (a, b) =>
      hs.map(h => (a * h + b) % RollingHash.Mod).min }
    assert(rows.head.toSeq.tail == expected)
  }

  test("incremental index survives the parquet round-trip it is designed for") {
    // the operator contract says the old corpus's signatures are computed
    // once and PERSISTED — pin that the mh_i schema round-trips through
    // parquet and the probe gives identical pairs from the re-read table
    val oldDocs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely different content about spark streaming state"))
      .toDF("doc_id", "text")
    val newDocs = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text")
    val (n, k, bands, tau) = (3, 8, 4, 400)
    val sig = Dedup.minhashSignatures(oldDocs, col("doc_id"), col("text"), n, k)
    val dir = java.nio.file.Files.createTempDirectory("graft_inc_idx").toString
    sig.write.mode("overwrite").parquet(dir)
    val reread = spark.read.parquet(dir)
    def run(idx: org.apache.spark.sql.DataFrame) =
      Dedup.incrementalNearDupPairs(
        newDocs, col("doc_id"), col("text"), idx,
        oldDocs, col("doc_id"), col("text"), n, k, bands, tau)
        .select("new_id", "dup_of_id", "jaccard_permille", "dup_in_increment")
        .as[(Long, Long, Long, Boolean)].collect().toSet
    val fromMemory = run(sig)
    val fromParquet = run(reread)
    assert(fromParquet == fromMemory && fromParquet.nonEmpty)
  }

  test("incremental ≡ batch (property: random corpora, random split)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // small word pool → heavy shingle collisions → real near-dup structure
    val genDoc = Gen.choose(3, 8).flatMap(k =>
      Gen.listOfN(k, Gen.oneOf("alpha", "beta", "gamma", "delta")).map(_.mkString(" ")))
    val gen = for {
      nOld <- Gen.choose(1, 6); nNew <- Gen.choose(1, 5)
      olds <- Gen.listOfN(nOld, genDoc); news <- Gen.listOfN(nNew, genDoc)
    } yield (olds, news)
    val (n, k, bands, tau) = (2, 8, 4, 300)
    val prop = Prop.forAll(gen) { case (olds, news) =>
      val oldDocs = olds.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val newDocs = news.zipWithIndex.map { case (t, i) => (100L + i, t) }.toDF("doc_id", "text")
      val oldSig = Dedup.minhashSignatures(oldDocs, col("doc_id"), col("text"), n, k)
      val got = Dedup.incrementalNearDupPairs(
        newDocs, col("doc_id"), col("text"), oldSig,
        oldDocs, col("doc_id"), col("text"), n, k, bands, tau)
        .select("new_id", "dup_of_id", "jaccard_permille", "dup_in_increment")
        .as[(Long, Long, Long, Boolean)].collect().toSet
      val batch = Dedup.minhashNearDupPairs(
        oldDocs.unionByName(newDocs), col("doc_id"), col("text"), n, k, bands, tau)
        .filter(col("b_id") >= 100L)
        .select(col("b_id"), col("a_id"), col("jaccard_permille"),
          (col("a_id") >= 100L).as("in_inc"))
        .as[(Long, Long, Long, Boolean)].collect().toSet
      got == batch
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(res.passed, res.status.toString)
  }

  test("incremental near-dup vs persisted index ≡ batch pairs touching the increment") {
    // "old corpus" indexed once; the increment arrives later with ids
    // above the old range
    val oldDocs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely different content about spark streaming state"),
      (3L, "a third document with its own unrelated words entirely"))
      .toDF("doc_id", "text")
    val newDocs = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"), // near-dup of 1
      (11L, "the quick brown fox jumps over the lazy dog tonight!"), // near-dup of 1 AND 10
      (12L, "fresh unseen text that matches nothing in the corpus"))
      .toDF("doc_id", "text")
    val (n, k, bands, tau) = (3, 8, 4, 400)
    val oldSig = Dedup.minhashSignatures(oldDocs, col("doc_id"), col("text"), n, k)
    def incremental() = Dedup.incrementalNearDupPairs(
      newDocs, col("doc_id"), col("text"), oldSig,
      oldDocs, col("doc_id"), col("text"), n, k, bands, tau)
      .select("new_id", "dup_of_id", "jaccard_permille", "dup_in_increment")
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Boolean)].collect().toSet
    val got = pairsOf(incremental())
    // oracle: the batch operator over old ∪ new, restricted to pairs that
    // touch a new doc (a_id < b_id and new ids are higher, so b is new)
    val batch = Dedup.minhashNearDupPairs(
      oldDocs.unionByName(newDocs), col("doc_id"), col("text"), n, k, bands, tau)
      .filter(col("b_id") >= 10L)
      .select(col("b_id"), col("a_id"), col("jaccard_permille"),
        (col("a_id") >= 10L).as("in_inc"))
      .as[(Long, Long, Long, Boolean)].collect().toSet
    assert(got == batch)
    assert(got.exists(r => r._1 == 10L && r._2 == 1L && !r._4)) // vs old corpus
    assert(got.exists(r => r._1 == 11L && r._2 == 10L && r._4)) // within increment
    assert(!got.exists(r => r._1 == 12L)) // fresh doc matches nothing

    // both sides of broadcastProbeMaxBytes, with auto-broadcast off so
    // only the gate can broadcast: under it the touched keys broadcast
    // into the semi-join that prunes the index; forced large (0) they
    // shuffle. The pairs are the same.
    val touchedKeysBroadcast =
      """BroadcastHashJoin \[band#\d+, sig#\d+L?\], \[band#\d+, sig#\d+L?\], LeftSemi""".r
    def leg(gate: Option[String]): (Set[(Long, Long, Long, Boolean)], String) = {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      gate.foreach(spark.conf.set(Dedup.IncrementBroadcastMaxBytesKey, _))
      try {
        val df = incremental()
        val rows = pairsOf(df)
        (rows, df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head)
      } finally {
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset(Dedup.IncrementBroadcastMaxBytesKey)
      }
    }
    val (small, smallPlan) = leg(None)
    val (large, largePlan) = leg(Some("0"))
    assert(small == got && large == got)
    assert(touchedKeysBroadcast.findFirstIn(smallPlan).isDefined,
      s"under the gate the touched keys must broadcast:\n$smallPlan")
    assert(touchedKeysBroadcast.findFirstIn(largePlan).isEmpty,
      s"over the gate the touched keys must not broadcast:\n$largePlan")
    assert(!largePlan.contains("BroadcastExchange"), s"nothing else may broadcast:\n$largePlan")
  }

  test("incremental ≡ batch under an ACTIVE hot-bucket cap; boilerplate pruned, real pair kept") {
    // six identical boilerplate old docs put >cap members in every band
    // bucket of the PERSISTED index; one real near-dup pair stays in
    // small buckets throughout
    val oldDocs = ((1L to 6L).map(i =>
      (i, "shared boilerplate header exactly the same for all docs")) :+
      (7L, "unique snowflake content alpha beta gamma delta")).toDF("doc_id", "text")
    val newDocs = Seq(
      (10L, "shared boilerplate header exactly the same for all docs"),
      (11L, "unique snowflake content alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val (n, k, bands, tau, cap) = (3, 8, 4, 300, 4)
    val oldSig = Dedup.minhashSignatures(oldDocs, col("doc_id"), col("text"), n, k)
    val inc = Dedup.incrementalNearDupPairs(
      newDocs, col("doc_id"), col("text"), oldSig,
      oldDocs, col("doc_id"), col("text"), n, k, bands, tau, maxBucketSize = cap)
      .select("new_id", "dup_of_id", "jaccard_permille", "dup_in_increment")
      .as[(Long, Long, Long, Boolean)].collect().toSet
    // the merged-corpus batch run with the SAME cap is the contract
    val batch = Dedup.minhashNearDupPairs(
      oldDocs.unionByName(newDocs), col("doc_id"), col("text"), n, k, bands, tau,
      maxBucketSize = cap)
      .filter(col("b_id") >= 10L)
      .select(col("b_id"), col("a_id"), col("jaccard_permille"),
        (col("a_id") >= 10L).as("in_inc"))
      .as[(Long, Long, Long, Boolean)].collect().toSet
    assert(inc == batch)
    assert(!inc.exists(_._1 == 10L), "the capped boilerplate cluster must be pruned as a whole")
    assert(inc.exists(r => r._1 == 11L && r._2 == 7L), "uncapped buckets keep their pairs")
  }

  test("incremental ≡ batch with a NULL-id index row straddling the cap boundary") {
    // three identical old docs + one NULL-id copy share every band
    // bucket; one identical new doc joins them. With NULL ids excluded
    // (the batch operator's r12 contract) the bucket holds exactly
    // cap=4 members and the pairs SURVIVE; an incremental side that
    // still counted the NULL row would see 5 > cap and silently cap the
    // bucket — the divergence this test pins shut.
    val text = "shared boilerplate header exactly the same for all docs"
    val oldDocs = (Seq(1L, 2L, 3L).map(i => (Some(i), text)) :+
      ((None: Option[Long], text))).toDF("doc_id", "text")
    val newDocs = Seq((10L, text)).toDF("doc_id", "text")
    val (n, k, bands, tau, cap) = (3, 8, 4, 300, 4)
    val oldSig = Dedup.minhashSignatures(oldDocs, col("doc_id"), col("text"), n, k)
    val inc = Dedup.incrementalNearDupPairs(
      newDocs, col("doc_id"), col("text"), oldSig,
      oldDocs, col("doc_id"), col("text"), n, k, bands, tau, maxBucketSize = cap)
      .select("new_id", "dup_of_id").as[(Long, Long)].collect().toSet
    val batch = Dedup.minhashNearDupPairs(
      oldDocs.unionByName(newDocs), col("doc_id"), col("text"), n, k, bands, tau,
      maxBucketSize = cap)
      .filter(col("b_id") >= 10L)
      .select(col("b_id"), col("a_id")).as[(Long, Long)].collect().toSet
    assert(batch == Set((10L, 1L), (10L, 2L), (10L, 3L)),
      s"batch must keep the exactly-at-cap bucket's pairs, got $batch")
    assert(inc == batch, s"incremental $inc != batch $batch")
  }

  test("hotShingles: the dial reports exactly the shingles the jaccard cap drops") {
    // 6 docs share the boilerplate run "copyright footer text" (one hot
    // 3-gram, df=6); docs 7/8 share a private near-dup 3-gram (df=2)
    val df = ((1 to 6).map(i => (i.toLong, s"copyright footer text unique$i ending$i")) ++ Seq(
      (7L, "the quick brown fox leaps"),
      (8L, "the quick brown fox sleeps")))
      .toDF("doc_id", "text")
    // dial at cap 5: ONLY the boilerplate shingle is hot
    val hot = Dedup.hotShingles(df, col("doc_id"), col("text"), n = 3, maxShingleFreq = 5L)
      .as[(Long, Long)].collect()
    assert(hot.map(_._2).toSeq == Seq(6L), s"got ${hot.toSeq}")
    // and the reported hash is the boilerplate 3-gram's hash
    val expectedHash = df.filter(col("doc_id") === 1)
      .select(explode(Dedup.shingleHashes(col("text"), 3)).as("h"))
      .intersect(df.filter(col("doc_id") === 2)
        .select(explode(Dedup.shingleHashes(col("text"), 3)).as("h")))
      .as[Long].collect().toSet
    assert(hot.map(_._1).toSet == expectedHash)
    // the cap's effect on the pair pipeline matches the dial: with the
    // hot shingle dropped, docs 1-6 share NOTHING (their other grams are
    // unique), so no 1-6 pair reaches any threshold; 7/8 survive. The
    // dial row is precisely the intersection mass the cap shaved.
    val pairs = Dedup.jaccardPairs(df, col("doc_id"), col("text"), n = 3,
      minJaccardPermille = 1, maxShingleFreq = 5L)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs == Set((7L, 8L)), s"got $pairs")
    // uncapped control: the boilerplate pairs come back
    val all = Dedup.jaccardPairs(df, col("doc_id"), col("text"), n = 3,
      minJaccardPermille = 1).count()
    assert(all == 15 + 1)
  }

  test("autoSketchMaxBytes: strategy-aware divisor, total-budget floor, and explicit-conf precedence") {
    val heap = Runtime.getRuntime.maxMemory
    // local master ⇒ auto resolves shared ⇒ ONE sketch: heap/8 (above
    // the 64 MB floor on any real test heap)
    val sharedCap = Dedup.autoSketchMaxBytes(spark)
    assert(sharedCap == math.max(heap / 8, 64L * 1024 * 1024), s"shared cap $sharedCap")
    // explicit perTask on local divides by local task concurrency —
    // the 64 MB floor lifts the TOTAL budget before the divide, never
    // each sketch (a per-sketch floor times concurrency blew the heap/8
    // budget on small executors: 1g × 8 cores ⇒ 512 MB of bitplanes)
    spark.conf.set(Dedup.SketchBuildKey, "perTask")
    try {
      val par = spark.sparkContext.defaultParallelism
      val perTaskCap = Dedup.autoSketchMaxBytes(spark)
      assert(perTaskCap == math.max(heap / 8, 64L * 1024 * 1024) / par,
        s"perTask cap $perTaskCap for parallelism $par")
      assert(perTaskCap <= sharedCap)
      // the budget invariant the r12 review flagged: sketches × per-sketch
      // bytes never exceeds the floored total budget
      assert(perTaskCap * par <= math.max(heap / 8, 64L * 1024 * 1024),
        "concurrent sketch bytes must fit the total budget")
    } finally spark.conf.unset(Dedup.SketchBuildKey)
  }

  test("duplicateSpans: cross-doc span, island merge, within-doc repeat") {
    val docs = Seq(
      // docs 1+2 share the 5-token run "one two three four five" →
      // 3 overlapping dup 3-grams each, merged into ONE span of 5 tokens
      (1L, "one two three four five zebra quilt jumble"),
      (2L, "prefix word one two three four five xylophone"),
      // doc 3 repeats its own 3-gram "ha ha ha" (positions 0..3 all hash
      // "ha ha ha") → the whole run is one span; no other doc involved
      (3L, "ha ha ha ha ha ha"),
      // doc 4 shares nothing 3-token long with anyone
      (4L, "totally distinct content nothing repeats here at all"))
      .toDF("doc_id", "text")
    val got = Dedup.duplicateSpans(docs, col("doc_id"), col("text"), n = 3)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, 0L, 5L, 3L),  // tokens [0,5): grams at 0,1,2
      (2L, 2L, 7L, 3L),  // tokens [2,7): grams at 2,3,4
      (3L, 0L, 6L, 4L))) // tokens [0,6): grams at 0,1,2,3 (self-repeat)
  }

  test("duplicateSpans: non-adjacent dup grams stay separate spans") {
    val docs = Seq(
      (1L, "alpha beta gamma SEP1 SEP2 SEP3 SEP4 delta epsilon zeta"),
      (2L, "alpha beta gamma MID1 MID2 MID3 MID4 delta epsilon zeta"))
      .toDF("doc_id", "text")
    val got = Dedup.duplicateSpans(docs, col("doc_id"), col("text"), n = 3)
      .as[(Long, Long, Long, Long)].collect().toSet
    // each doc: gram at 0 ("alpha beta gamma") and gram at 7 ("delta
    // epsilon zeta") duplicated, nothing between → two 3-token spans
    assert(got == Set(
      (1L, 0L, 3L, 1L), (1L, 7L, 10L, 1L),
      (2L, 0L, 3L, 1L), (2L, 7L, 10L, 1L)))
  }

  test("duplicateSpans ≡ brute-force positional oracle (property)") {
    // tiny vocab forces dense collisions; n=3 exercises the gap-2 merge
    val genDoc = Gen.choose(0, 9).flatMap(k =>
      Gen.listOfN(k, Gen.oneOf("x", "y", "z")).map(_.mkString(" ")))
    val prop = Prop.forAll(
      Gen.choose(2, 6).flatMap(Gen.listOfN(_, genDoc)), Gen.choose(2, 3)) {
      (docs: List[String], n: Int) =>
        val toks = docs.map(_.split("\\s+").filter(_.nonEmpty).toSeq)
        val grams = toks.zipWithIndex.flatMap { case (w, d) =>
          w.sliding(n).filter(_.size == n).zipWithIndex.map {
            case (g, p) => (d.toLong, p.toLong, g.mkString(" ")) }
        }
        val counts = grams.groupBy(_._3).view.mapValues(_.size).toMap
        val expected = grams.filter(g => counts(g._3) >= 2)
          .groupBy(_._1).toSeq.flatMap { case (d, ps) =>
            // islands over sorted duplicated positions: coverage merge —
            // gap < n overlaps, gap == n touches; both are one run
            val sorted = ps.map(_._2).sorted
            val islands = sorted.foldLeft(List.empty[(Long, Long, Long)]) {
              case ((s, e, c) :: t, p) if p - e <= n => (s, p, c + 1) :: t
              case (acc, p) => (p, p, 1L) :: acc
            }
            islands.map { case (s, e, c) => (d, s, e + n, c) }
          }.toSet
        val got = Dedup.duplicateSpans(
          docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"),
          col("doc_id"), col("text"), n)
          .as[(Long, Long, Long, Long)].collect().toSet
        got == expected
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(res.passed, res.status.toString)
  }

  test("duplicateSpans: coverage-overlapping grams merge into ONE disjoint span") {
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "a b c x c d e"))
      .toDF("doc_id", "text")
    val got = Dedup.duplicateSpans(docs, col("doc_id"), col("text"), n = 3)
      .as[(Long, Long, Long, Long)].collect().toSet
    // dup grams: "a b c" (d1:0, d2:0) and "c d e" (d1:2, d2:4). doc 1's
    // positions {0,2} have gap 2 < 3 — their spans [0,3) and [2,5) share
    // token 2, so ONE maximal span; doc 2's {0,4} stay apart (gap 4)
    assert(got == Set(
      (1L, 0L, 5L, 2L),
      (2L, 0L, 3L, 1L), (2L, 4L, 7L, 1L)))
  }

  test("duplicateSpans: TOUCHING coverage (gap == n) is one contiguous run") {
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c q1"), // duplicates doc 1's gram at pos 0
      (3L, "q2 d e f")) // duplicates doc 1's gram at pos 3
      .toDF("doc_id", "text")
    val got = Dedup.duplicateSpans(docs, col("doc_id"), col("text"), n = 3)
      .as[(Long, Long, Long, Long)].collect().toSet
    // doc 1's dup positions {0, 3}: coverages [0,3) and [3,6) touch ->
    // tokens [0,6) are one duplicated run, not two adjacent spans
    assert(got == Set(
      (1L, 0L, 6L, 2L),
      (2L, 0L, 3L, 1L),
      (3L, 1L, 4L, 1L)))
  }

  test("removeSpans: duplicateSpans mask applied end-to-end") {
    val docs = Seq(
      (1L, "one two three four five zebra quilt jumble"),
      (2L, "prefix word one two three four five xylophone"),
      (3L, "ha ha ha ha ha ha"), // fully duplicated -> ""
      (4L, "totally  distinct\tcontent")) // untouched, whitespace-normalized
      .toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(docs, col("doc_id"), col("text"), n = 3)
    val got = Dedup.removeSpans(docs, col("doc_id"), col("text"), spans)
      .as[(Long, String)].collect().toMap
    assert(got == Map(
      1L -> "zebra quilt jumble",
      2L -> "prefix word xylophone",
      3L -> "",
      4L -> "totally distinct content"))
  }

  test("remove_token_spans kernel: overlapping, unsorted, out-of-range spans") {
    import graft.functions.TextHashes
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    def run(text: String, spans: (Long, Long)*): String =
      TextHashes.removeSpans(UTF8String.fromString(text),
        new GenericArrayData(spans.map(_._1: Any).toArray),
        new GenericArrayData(spans.map(_._2: Any).toArray)).toString
    assert(run("a b c d e", (3L, 5L), (1L, 2L)) == "a c") // unsorted mask
    assert(run("a b c d e", (1L, 3L), (2L, 4L)) == "a e") // overlap merges
    assert(run("a b c", (10L, 20L), (-5L, -1L)) == "a b c") // out of range
    assert(run("a b c", (0L, 99L)) == "") // covers everything
    assert(run("  ", (0L, 1L)) == "") // token-free input
    assert(run("a b c") == "a b c") // empty mask: normalize only
    intercept[IllegalArgumentException] { // corrupt mask fails loudly
      TextHashes.removeSpans(UTF8String.fromString("a b"),
        new GenericArrayData(Array[Any](0L, 5L)),
        new GenericArrayData(Array[Any](3L)))
    }
  }

  /** Brute-force TF-cosine reference: df-capped vocab, integer cos²·1000. */
  private def bruteTfCosine(
      docs: Seq[(Long, String)], tau: Int, maxDf: Long): Set[(Long, Long, Long, Long, Long, Long)] = {
    val tf = docs.map { case (id, t) =>
      id -> t.split("\\s+").filter(_.nonEmpty)
        .map(tok => RollingHash.hash(UTF8String.fromString(tok)))
        .groupBy(identity).map { case (h, o) => h -> o.length.toLong }
    }.toMap
    val dfCount = tf.values.flatMap(_.keys).groupBy(identity).map { case (h, o) => h -> o.size }
    val sem = tf.map { case (id, v) => id -> v.filter(kv => dfCount(kv._1) <= maxDf) }
    val ids = docs.map(_._1).sorted
    (for {
      i <- ids.indices; j <- (i + 1) until ids.length
      a = sem(ids(i)); b = sem(ids(j))
      dot = a.keySet.intersect(b.keySet).toSeq.map(h => a(h) * b(h)).sum
      if dot > 0
      n2 = (m: Map[Long, Long]) => m.values.map(v => v * v).sum
      (na, nb) = (n2(a), n2(b))
      cos2 = 1000L * dot * dot / (na * nb)
      if cos2 >= tau
    } yield (ids(i), ids(j), dot, na, nb, cos2)).toSet
  }

  test("tfCosinePairs ≡ brute-force integer cosine (property)") {
    val genDoc = Gen.choose(1, 12).flatMap(k =>
      Gen.listOfN(k, Gen.oneOf("a", "b", "c", "d", "e")).map(_.mkString(" ")))
    val genCorpus = Gen.choose(2, 8).flatMap(k => Gen.listOfN(k, genDoc))
    val prop = Prop.forAll(genCorpus, Gen.oneOf(1L, 3L, 100L)) { (texts, maxDf) =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val got = Dedup.tfCosinePairs(docs.toDF("doc_id", "text"),
        col("doc_id"), col("text"), minCos2Permille = 300, maxTokenDf = maxDf)
        .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
      got == bruteTfCosine(docs, 300, maxDf)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }

  test("tfCosinePairs: repeated-vocabulary rewrite scores high, disjoint docs absent") {
    val docs = Seq(
      (1L, "x y z x"), (2L, "z x x y"), // same bag, reordered → cos=1
      (3L, "p q r s")                    // disjoint vocab
    ).toDF("doc_id", "text")
    val got = Dedup.tfCosinePairs(docs, col("doc_id"), col("text"), 900)
      .select("a_id", "b_id", "cos2_permille").as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 1000L)))
  }

  test("keepBest: best-quality doc wins its cluster, ties to smallest id") {
    val df = Seq(
      // cluster 1: doc 5 is longest; cluster 10: tie on quality → id 10
      (1L, 1L, 40L), (3L, 1L, 10L), (5L, 1L, 90L),
      (10L, 10L, 70L), (12L, 10L, 70L),
      (20L, 20L, 5L)) // singleton keeps itself
      .toDF("doc_id", "comp", "n_chars")
    val got = Dedup.keepBest(df, col("doc_id"), col("comp"),
      order = Seq(col("n_chars").desc, col("doc_id").asc))
      .as[(Long, Long, Long, Boolean)].collect().toSet
    assert(got == Set(
      (1L, 1L, 5L, false), (3L, 1L, 5L, false), (5L, 1L, 5L, true),
      (10L, 10L, 10L, true), (12L, 10L, 10L, false),
      (20L, 20L, 20L, true)))
  }

  test("lineDedup: corpus-hot lines cut everywhere, order kept, empties survive") {
    val docs = Seq(
      (1L, "unique one\nCOMMON FOOTER\nunique two", "a"),
      (2L, "COMMON FOOTER\n\nother text", "b"),
      (3L, "solo doc\n  \nmore solo", "c"),
      (4L, "COMMON FOOTER", "d")) // fully boilerplate → ""
      .toDF("doc_id", "text", "source")
    val got = Dedup.lineDedup(docs, col("doc_id"), col("text"),
      maxFreq = 1L, keepCols = Seq("source"))
      .as[(Long, String, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == (("a", "unique one\nunique two")))
    assert(got(2L) == (("b", "\nother text"))) // empty line is structure, kept
    assert(got(3L) == (("c", "solo doc\n  \nmore solo"))) // whitespace line never counted
    assert(got(4L) == (("d", "")))
  }

  test("lineDedup: within-doc repeats count toward the cap; trim keys, raw content kept") {
    val docs = Seq(
      (1L, "echo\necho"), // the same line twice IN ONE doc = 2 occurrences
      (2L, "  padded  \nkeep me"),
      (3L, "padded")) // trims equal to doc 2's padded line -> both count
      .toDF("doc_id", "text")
    val got = Dedup.lineDedup(docs, col("doc_id"), col("text"), maxFreq = 1L)
      .as[(Long, String)].collect().toMap
    assert(got(1L) == "") // 2 occurrences > 1 even though one doc
    assert(got(2L) == "keep me") // "  padded  " dropped by its trimmed key
    assert(got(3L) == "")
  }

  test("lineDedup: maxFreq raises the bar; untouched docs byte-identical") {
    val docs = Seq(
      (1L, "x\ny"), (2L, "x\nz"), (3L, "x\nw")) // "x" occurs 3 times
      .toDF("doc_id", "text")
    val loose = Dedup.lineDedup(docs, col("doc_id"), col("text"), maxFreq = 3L)
      .as[(Long, String)].collect().toMap
    assert(loose == Map(1L -> "x\ny", 2L -> "x\nz", 3L -> "x\nw"))
    val tight = Dedup.lineDedup(docs, col("doc_id"), col("text"), maxFreq = 2L)
      .as[(Long, String)].collect().toMap
    assert(tight == Map(1L -> "y", 2L -> "z", 3L -> "w"))
  }

  test("corpusDiff: keyed status by content hash, hashes null exactly off-side") {
    val oldDf = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    val newDf = Seq((2L, "b"), (3L, "c2"), (4L, "d")).toDF("doc_id", "text")
    val got = Dedup.corpusDiff(oldDf, newDf, col("doc_id"), col("text"))
      .as[(Long, String, String, String)].collect()
    assert(got.map(r => r._1 -> r._4).toMap ==
      Map(1L -> "removed", 2L -> "unchanged", 3L -> "changed", 4L -> "added"))
    // old_hash present iff the doc was in the old snapshot, same for new
    got.foreach { case (id, oh, nh, _) =>
      assert((oh == null) == (id == 4L))
      assert((nh == null) == (id == 1L))
    }
    // a changed doc carries BOTH hashes, and they differ
    val ch = got.find(_._1 == 3L).get
    assert(ch._2 != null && ch._3 != null && ch._2 != ch._3)
  }
}
