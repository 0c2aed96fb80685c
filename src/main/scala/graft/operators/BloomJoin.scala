package graft.operators

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.util.sketch.BloomFilter

import graft.functions.BloomContains

/** A Bloom-filter-accelerated anti join — the "blocklist against a 100 TB
  * fact" shape of a training-data pipeline (drop every document whose key
  * appears in a takedown list; strip lineitems of cancelled orders).
  *
  * Semantics are EXACTLY the plain `left_anti` equi-join —
  * the Bloom sketch is a routing optimization, never a source of error:
  *
  *   - the filter side aggregates into one Bloom sketch (distributed
  *     build with partial merges, see [[buildFilter]]; only the final
  *     KB..MB bitset reaches the driver — the same single-sketch collect
  *     Spark's own AQE runtime filters perform);
  *   - every big-side row probes the sketch inside whole-stage codegen
  *     ([[graft.functions.BloomContains]]);
  *   - "definitely absent" rows are settled MAP-SIDE — they pass
  *     through with no exchange at all;
  *   - only the "maybe present" sliver (true members + the fpp share of
  *     false positives) takes the exact confirming equi-join, so the
  *     shuffle moves ~|matches| + fpp·|big| rows instead of |big|.
  *
  * The anti join reads the big side twice (once per branch) — at scale
  * two pruned columnar scans are far cheaper than shuffling the full
  * fact, which is what a single-pass `left_anti` would do.
  *
  * `fpp` trades sketch size against confirm-join traffic; correctness
  * never depends on it, nor on `expectedItems` being a good estimate (an
  * undersized sketch only degrades the fpp, sending more rows to the
  * exact confirm).
  *
  * Both keys are probed through `xxhash64` — pass keys of the SAME data
  * type on both sides (an int and a long hash differently even for equal
  * values; the confirm join would then silently degrade to all-maybe).
  * Null big-side keys follow SQL equi-join semantics: never equal to
  * anything, so the anti join keeps them (consistently map-side too:
  * `xxhash64(null)` is the seed hash, and the confirm join's `===` never
  * matches null).
  */
object BloomJoin {

  /** Pass as `expectedItems` to size the sketch by COUNTING the filter
    * side first (one cheap aggregate over the small side). An explicit
    * estimate saves that job — but a low-ball estimate quietly saturates
    * the bitset and the realized fpp routes most of the big side into
    * the confirm join, so auto-sizing is the default everywhere the
    * cardinality isn't provably known. */
  val AutoSize: Long = -1L

  /** Distributed build of the filter-side sketch: one Bloom filter over
    * `xxhash64(key)`, returned serialized (readable on any executor via
    * `BloomFilter.readFrom`). Runs as a Tungsten typed-imperative
    * aggregate (Catalyst's own `BloomFilterAggregate` — partial
    * per-partition sketches merge map-side, one bitset reaches the
    * driver); an empty filter side yields the empty sketch rather than
    * the NPE `DataFrameStatFunctions.bloomFilter` hits on null. */
  def buildFilter(
      filterSide: DataFrame, key: Column,
      expectedItems: Long, fpp: Double): Array[Byte] = {
    require(fpp > 0.0 && fpp < 1.0, s"fpp must be in (0, 1), got $fpp")
    val sized = if (expectedItems == AutoSize) filterSide.count() else expectedItems
    val n = math.max(sized, 1L)
    val numBits = BloomFilter.optimalNumOfBits(n, fpp)
    val agg = new BloomFilterAggregate(
      Bridge.expression(xxhash64(key)), Literal(n), Literal(numBits))
    val row = filterSide.select(Bridge.column(agg.toAggregateExpression())).head()
    if (row.isNullAt(0)) serialize(BloomFilter.create(1L, fpp))
    else row.getAs[Array[Byte]](0)
  }

  def serialize(bf: BloomFilter): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    bf.writeTo(out)
    out.toByteArray
  }

  private def maybeContains(bytes: Array[Byte], key: Column): Column =
    Bridge.column(BloomContains(bytes, Bridge.expression(xxhash64(key))))

  /** `big` minus every row whose `bigKey` equals some `blockKey` —
    * exact `left_anti` semantics, bloom-routed (see object doc).
    *
    * PRECONDITION: `big` must be deterministic — the two branches
    * re-evaluate it independently (like any double-referenced
    * DataFrame), so a nondeterministic side (`sample`, `rand()`, a
    * source mutating between jobs) can land a row in both branches or
    * neither. Checkpoint such inputs first. */
  def bloomAntiJoin(
      big: DataFrame, bigKey: Column,
      block: DataFrame, blockKey: Column,
      expectedItems: Long = AutoSize, fpp: Double = 0.03): DataFrame = {
    val bytes = buildFilter(block, blockKey, expectedItems, fpp)
    val maybe = maybeContains(bytes, bigKey)
    // no false negatives: !maybe rows are provably not in the blocklist
    val pass = big.filter(!maybe)
    // no distinct() on the block side: anti joins are insensitive to
    // build-side multiplicity, so deduping would only add an exchange
    // (pre-distinct a duplicate-HEAVY list yourself if build size bites)
    val confirmed = big.filter(maybe)
      .join(block.select(blockKey.as("__bloom_key")),
        bigKey === col("__bloom_key"), "left_anti")
    pass.unionByName(confirmed)
  }
}
