package graft.operators

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkSpec

class BloomJoinSpec extends SparkSpec {
  import spark.implicits._

  test("bloom anti join ≡ plain left_anti (property, incl. nulls and dups)") {
    val genKeys = Gen.choose(0, 40).flatMap(k =>
      Gen.listOfN(k, Gen.oneOf(Gen.choose(0L, 30L).map(Option(_)), Gen.const(Option.empty[Long]))))
    val prop = Prop.forAll(genKeys, genKeys) { (bigKeys, blockKeys) =>
      val big = bigKeys.zipWithIndex.map { case (k, i) => (i.toLong, k) }.toDF("row_id", "k")
      val block = blockKeys.toDF("k")
      val got = BloomJoin.bloomAntiJoin(big, col("k"), block, col("k"),
        expectedItems = 64, fpp = 0.2) // high fpp: exercise the confirm path
        .as[(Long, Option[Long])].collect().toSet
      val want = big.join(block.select(col("k").as("bk")), col("k") === col("bk"), "left_anti")
        .as[(Long, Option[Long])].collect().toSet
      got == want
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }

  test("empty blocklist: every row passes, none shuffles") {
    val big = (1L to 100L).map(i => (i, s"doc$i")).toDF("k", "payload")
    val block = Seq.empty[Long].toDF("k")
    val out = BloomJoin.bloomAntiJoin(big, col("k"), block, col("k"), expectedItems = 1)
    assert(out.count() == 100)
  }

  test("map-side pass branch has no exchange; confirm join is an equi-join") {
    val big = (1L to 1000L).map(i => (i, i % 7)).toDF("k", "v")
    val block = (1L to 10L).map(i => i * 100).toDF("k")
    val bytes = BloomJoin.buildFilter(block, col("k"), expectedItems = 10, fpp = 0.01)
    // the routing predicate itself: a filter over the scan, zero exchanges
    val probe = org.apache.spark.sql.graft.Bridge.column(
      graft.functions.BloomContains(bytes,
        org.apache.spark.sql.graft.Bridge.expression(xxhash64(col("k")))))
    val passPlan = big.filter(!probe).queryExecution.executedPlan.toString
    assert(!passPlan.contains("Exchange"), s"pass branch must be map-side:\n$passPlan")
    // whole plan: no cartesian / nested-loop anywhere
    val full = BloomJoin.bloomAntiJoin(big, col("k"), block, col("k"), expectedItems = 10)
      .queryExecution.executedPlan.toString
    assert(!full.contains("CartesianProduct") && !full.contains("BroadcastNestedLoopJoin"), full)
  }

  test("bloom routing: a disjoint blocklist sends (almost) nothing to the confirm join") {
    // keys 1..10000 vs blocklist 20001..20100 at fpp=0.001: the bloom
    // prefilter must settle ~all rows map-side (bound generous vs 10 exp.)
    val big = (1L to 10000L).toDF("k")
    val block = (20001L to 20100L).toDF("k")
    val bytes = BloomJoin.buildFilter(block, col("k"), expectedItems = 100, fpp = 0.001)
    val probe = org.apache.spark.sql.graft.Bridge.column(
      graft.functions.BloomContains(bytes,
        org.apache.spark.sql.graft.Bridge.expression(xxhash64(col("k")))))
    val maybes = big.filter(probe).count()
    assert(maybes <= 100, s"fpp=0.001 should leak <<100 of 10000 rows, got $maybes")
  }
}
