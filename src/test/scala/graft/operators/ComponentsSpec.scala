package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  test("connected components: chain, triangle, isolated vertex") {
    // components: {1,2,3,4} (a chain — needs >1 propagation round),
    // {10,11,12} (a triangle), {20} (isolated)
    val vertices = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 20L).toDF("id")
    val edges = Seq((2L, 3L), (3L, 4L), (1L, 2L), (10L, 11L), (11L, 12L), (10L, 12L))
      .toDF("src", "dst")
    val got = Components.connectedComponents(vertices, edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L))
  }

  test("connected components: long path converges within maxIter (distributed path)") {
    // a 12-vertex path: min label must travel the full diameter.
    // localEdgeThreshold = 0 forces the distributed propagation loop —
    // the default would solve this in the single-task union-find.
    val n = 12
    val vertices = (1L to n.toLong).toDF("id")
    val edges = (1L until n.toLong).map(i => (i, i + 1)).toDF("src", "dst")
    val got = Components.connectedComponents(vertices, edges, localEdgeThreshold = 0L)
      .as[(Long, Long)].collect().toMap
    assert(got.values.toSet == Set(1L))
  }

  test("connected components ≡ union-find (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val gen = for {
      n <- Gen.choose(1, 14)
      m <- Gen.choose(0, 20)
      es <- Gen.listOfN(m, Gen.zip(Gen.choose(1L, n.toLong), Gen.choose(1L, n.toLong)))
    } yield (n, es.filter(e => e._1 != e._2))
    val prop = Prop.forAll(gen) { case (n, es) =>
      // both execution paths against the same oracle: the default
      // single-task union-find and the forced two-level contraction
      val gotLocal = Components.connectedComponents(
        (1L to n.toLong).toDF("id"), es.toDF("src", "dst"))
        .as[(Long, Long)].collect().toMap
      val gotDist = Components.connectedComponents(
        (1L to n.toLong).toDF("id"), es.toDF("src", "dst"), localEdgeThreshold = 0L)
        .as[(Long, Long)].collect().toMap
      // union-find oracle
      val parent = scala.collection.mutable.Map((1L to n.toLong).map(i => i -> i): _*)
      def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      es.foreach { case (a, b) => val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb }
      val expected = (1L to n.toLong).map { v =>
        v -> (1L to n.toLong).filter(u => find(u) == find(v)).min
      }.toMap
      gotLocal == expected && gotDist == expected
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(res.passed, res.status.toString)
  }

  test("connected components: reliable-checkpoint mode gives identical labels") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_ckpt").toString
    val vertices = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 20L).toDF("id")
    val edges = Seq((2L, 3L), (3L, 4L), (1L, 2L), (10L, 11L), (11L, 12L), (10L, 12L))
      .toDF("src", "dst")
    // threshold 0: reliable checkpointing is a distributed-loop concern
    val got = Components.connectedComponents(
      vertices, edges, checkpointDir = Some(dir), localEdgeThreshold = 0L)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L))
    // the reliable path actually wrote round state under the dir
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter((p: java.nio.file.Path) => java.nio.file.Files.isRegularFile(p))
      .count()
    assert(wrote > 0)
  }

  test("reliable mode prunes finished rounds: at most 3 snapshots survive a long loop") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_prune").toString
    // a 40-vertex path needs several fused round-pairs even with halving —
    // without pruning this retains one vertex snapshot per checked round
    val n = 40
    val vertices = (1L to n.toLong).toDF("id")
    val edges = (1L until n.toLong).map(i => (i, i + 1)).toDF("src", "dst")
    val got = Components.connectedComponents(
      vertices, edges, checkpointDir = Some(dir), localEdgeThreshold = 0L)
      .as[(Long, Long)].collect().toMap
    assert(got.values.toSet == Set(1L))
    val rddDirs = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter((p: java.nio.file.Path) =>
        java.nio.file.Files.isDirectory(p) && p.getFileName.toString.startsWith("rdd-"))
      .count()
    // alive: the edge set + the final labels (+ at most the last mid,
    // whose prune ran before the final round materialized)
    assert(rddDirs > 0 && rddDirs <= 3, s"expected <=3 surviving snapshots, got $rddDirs")
  }

  test("contraction: components scattered across many partitions stitch correctly") {
    // a 200-vertex path repartitioned into 13 slices: edges of one
    // component land in MANY partitions, so the per-partition union-find
    // produces many local roots per chain and the stitch loop must
    // reconnect them across every boundary (threshold 0 also forces the
    // stitched root graph through the min-label loop, not the root UF)
    val n = 200
    val vertices = (1L to n.toLong).toDF("id")
    val edges = (1L until n.toLong).map(i => (i, i + 1)).toDF("src", "dst")
      .repartition(13)
    val got = Components.connectedComponents(vertices, edges, localEdgeThreshold = 0L)
      .as[(Long, Long)].collect().toMap
    assert(got.size == n && got.values.toSet == Set(1L))
  }

  test("contraction: a below-threshold root graph collapses into the single-task union-find") {
    // two 30-vertex paths (58 edges, 116 symmetrized): threshold 20 puts
    // symCount ABOVE the gate (→ distributed contraction) while the
    // stitched root graph stays BELOW it (→ the root-UF branch). Range
    // partitioning keeps chain segments contiguous, so each chain
    // contracts to ≤3 local roots — a handful of stitch edges, well
    // under the 20-edge threshold.
    val vertices = ((1L to 30L) ++ (101L to 130L)).toDF("id")
    val edges = ((1L until 30L).map(i => (i, i + 1)) ++
      (101L until 130L).map(i => (i, i + 1))).toDF("src", "dst")
      .repartitionByRange(3, col("src"))
    val got = Components.connectedComponents(vertices, edges, localEdgeThreshold = 20L)
      .as[(Long, Long)].collect().toMap
    assert(got.values.toSet == Set(1L, 101L))
    assert((1L to 30L).forall(got(_) == 1L) && (101L to 130L).forall(got(_) == 101L))
  }

  test("vertex payload columns pass through the assignment join unchanged") {
    // the q56 shape: the pick's ranking column rides the labels join as
    // payload instead of a second corpus join — labels must be identical
    // to the id-only call, payload values untouched, on BOTH assignment
    // regimes (broadcast below the gate, shuffled join above it)
    val vertices = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L), (9L, "i", 90L))
      .toDF("id", "tag", "n_chars")
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    def run(): Map[Long, (String, Long, Long)] =
      Components.connectedComponents(vertices, edges)
        .as[(Long, String, Long, Long)].collect()
        .map { case (id, tag, nc, comp) => id -> (tag, nc, comp) }.toMap
    val expected = Map(
      1L -> ("a", 10L, 1L), 2L -> ("b", 20L, 1L),
      3L -> ("c", 30L, 1L), 9L -> ("i", 90L, 9L))
    assert(run() == expected)
    // above the broadcast gate (0 bytes forces the shuffled labels join)
    spark.conf.set(Components.BroadcastLabelsMaxBytesKey, "0")
    try assert(run() == expected)
    finally spark.conf.unset(Components.BroadcastLabelsMaxBytesKey)
    // reserved names fail fast, before any edge work
    val bad = intercept[IllegalArgumentException] {
      Components.connectedComponents(
        Seq((1L, 5L)).toDF("id", "component_id"), edges)
    }
    assert(bad.getMessage.contains("component_id"))
  }

  test("connected components: empty edge set keeps every vertex its own component") {
    val vertices = Seq(5L, 6L).toDF("id")
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    val got = Components.connectedComponents(vertices, edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(5L -> 5L, 6L -> 6L))
  }

  test("q78 geometry: block-24 chains force >= 2 WORKING stitch pairs") {
    // the q78 oracle exists to value-test MULTI-PAIR label propagation
    // (labels flowing between fused round-pairs). That property holds
    // only while the chain geometry fragments each block into a root
    // chain of diameter >= 5 — this pins it as data (via the loop-stats
    // seam) so a partitioning or block-width drift can't silently
    // reduce q78 to a single-working-pair oracle. Same shape as the
    // registered query: blocks of 24, hash-repartitioned on src,
    // threshold 0 forcing the distributed gate at both levels.
    val n = 2400L
    val docs = spark.range(n).select(col("id").as("doc_id"))
    val edges = docs
      .filter(pmod(col("doc_id"), lit(24)) =!= 0)
      .select(col("doc_id").as("src"), (col("doc_id") - 1L).as("dst"))
      .repartition(32, col("src"))
    val labels = Components.connectedComponents(
      docs.select(col("doc_id").as("id")), edges, localEdgeThreshold = 0L)
      .as[(Long, Long)].collect()
    // correctness first: component min = the block floor, closed form
    assert(labels.forall { case (id, comp) => comp == id - id % 24 })
    val (working, total) = Components.lastStitchLoopStats.get()
    assert(working >= 2,
      s"q78's chain geometry must force >= 2 working stitch pairs, got ($working, $total)")
    assert(total == working + 1,
      s"the loop should spend exactly one convergence-detect pair, got ($working, $total)")

    // reset contract: a later call on the SAME thread that never reaches
    // the stitch loop (here: the single-task union-find path) must report
    // (-1, -1), not this call's stats — the reset happens at
    // connectedComponents entry, so it covers every path, including the
    // localUnionFind branch that never enters the contraction
    val tiny = Seq((1L, 2L)).toDF("src", "dst")
    Components.connectedComponents(
      Seq(1L, 2L).toDF("id"), tiny).as[(Long, Long)].collect()
    assert(Components.lastStitchLoopStats.get() == ((-1, -1)),
      "a small-graph call must not report a previous call's loop stats")
  }
}
