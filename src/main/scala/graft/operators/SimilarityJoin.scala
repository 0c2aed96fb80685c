package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SURVEY J14 (`/root/reference/src/benchmark.py:69-79, 87-91`): the
  * reference's fuzzy lookup is `levenshtein_less_equal(alias, q, 1) < 2`
  * against the whole alias table — a θ-join a B-tree cannot help with and
  * Spark would execute as a cartesian product.
  *
  * Rewrite (SURVEY §7.4.2): **deletion-neighborhood blocking**. For a string
  * `s`, its neighborhood is `s` plus every single-character deletion of `s`
  * (|s|+1 strings). For any two strings, `lev(a,b) ≤ 1` implies the
  * neighborhoods intersect:
  *   - equal        → share `a` itself
  *   - substitution → deleting the differing position from each gives the
  *                    same string
  *   - insert/delete→ the shorter string IS a deletion variant of the longer
  * The converse does not hold (`"ab"`/`"ba"` share variant `"a"` at distance
  * 2), so shared-variant pairs are candidates, re-verified with the built-in
  * bounded `levenshtein`. Net effect: cartesian θ-join → explode(≤len+1) +
  * hash-partitioned equi-join + cheap verify. At 100 TB both sides shuffle
  * on the variant key and nothing is quadratic except within a variant
  * bucket (bounded by key-collision width, not table size).
  */
object SimilarityJoin {

  /** The reference's lev ≤ 1 length guard, `LENGTH(alias) < 255`
    * (`src/benchmark.py:76,89`): the one bound every lev ≤ 1 path applies
    * (this join, the matcher's index and ranking, and
    * [[graft.plans.RewriteLevenshteinJoin]]'s regime split). */
  val MaxLen = 255

  /** `s` plus all single-character deletions of `s`, deduplicated —
    * the native [[graft.functions.DeletionVariants]] kernel.
    * [[deletionVariantsComposed]] is the built-ins reference it is
    * property-tested against. */
  def deletionVariants(s: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.DeletionVariants(
        org.apache.spark.sql.graft.Bridge.expression(s)))

  /** Built-ins-only reference form of [[deletionVariants]] (for the spec). */
  def deletionVariantsComposed(s: Column): Column = {
    val n = length(s)
    val deletions = transform(
      sequence(lit(0), n - 1),
      i => concat(s.substr(lit(1), i), s.substr(i + 2, n)))
    when(s.isNull, lit(null))
      .when(n === 0, array(s))
      .otherwise(array_union(array(s), deletions))
  }

  /** All (left row, right row) pairs with `lev(leftStr, rightStr) ≤ 1`,
    * as an equi-join on exploded deletion variants + re-verification.
    * Output columns = left columns ++ right columns (must be disjoint).
    *
    * Two strings can share several variants (equal strings share all of
    * them); instead of a full-row `distinct()` — which would need an extra
    * shuffle AND wrongly collapse genuinely-duplicate input rows — each
    * pair is kept only on its **witness** variant
    * ([[graft.functions.Lev1Witness]]): exactly one surviving row per
    * (left row, right row), original multiplicities preserved, no dedup
    * exchange.
    *
    * Strings of [[MaxLen]] characters or more are dropped before the
    * explode, which bounds its factor.
    *
    * @param pairFilter optional predicate applied straight after the
    *        variant equi-join, before the verify step — e.g.
    *        `a_key < b_key` in a self-join halves the verify work.
    * @param shuffleHash force a shuffle-hash join on the variant key.
    *        Default (false) lets AQE pick — broadcast when one side is a
    *        dimension (the matcher's query-batch case). Set it for
    *        BIG-BIG shapes (corpus self-join): both exploded sides then
    *        hash-partition and build/probe in parallel instead of building
    *        one driver-side broadcast table of the whole exploded relation
    *        (3× faster at sf0.1, and the only plan that survives 100 TB).
    */
  def levenshtein1Join(
      left: DataFrame,
      leftStr: String,
      right: DataFrame,
      rightStr: String,
      pairFilter: Option[Column] = None,
      shuffleHash: Boolean = false,
      maxLenLeft: Int = MaxLen): DataFrame = {
    val overlap = left.columns.toSet.intersect(right.columns.toSet)
    require(overlap.isEmpty, s"left/right column names must be disjoint, both have: $overlap")
    val l = left
      .filter(length(col(leftStr)) < maxLenLeft)
      .withColumn("__lv", explode(deletionVariants(col(leftStr))))
    val r = right
      .filter(length(col(rightStr)) < MaxLen)
      .withColumn("__rv", explode(deletionVariants(col(rightStr))))
    val joined =
      if (shuffleHash) l.join(r.hint("shuffle_hash"), col("__lv") === col("__rv"))
      else l.join(r, col("__lv") === col("__rv"))
    // exactly-once selector: the pair survives only on its analytic O(n)
    // canonical witness ([[graft.functions.Lev1Witness]]), one member of
    // the shared-variant set; each side's variants are distinct, so the
    // witness meets exactly one joined row
    val witness = org.apache.spark.sql.graft.Bridge.column(
      graft.functions.Lev1Witness(
        org.apache.spark.sql.graft.Bridge.expression(col(leftStr)),
        org.apache.spark.sql.graft.Bridge.expression(col(rightStr))))
    pairFilter.fold(joined)(joined.filter)
      // short-circuit order matters: the bounded levenshtein first — the
      // witness is only defined (non-null) for verified pairs
      .filter(levenshtein(col(leftStr), col(rightStr), 1) >= 0 && col("__lv") === witness)
      .drop("__lv", "__rv")
  }
}
