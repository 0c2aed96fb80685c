package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** Distributed per-group running totals — the primitive under
  * [[Sampling.budgetSelect]], [[Sampling.shuffleShards]] and
  * [[Packing.sequencePacking]].
  *
  * The naive shape — ONE window partitioned by the group key — serializes
  * each group's prefix sum through a single task: groups are languages,
  * sources, or a handful of output shards, so a 100 TB corpus funnels its
  * dominant group through one sort. Above a size gate (below) this is the
  * classic two-pass parallel prefix sum instead:
  *
  *   1. range-partition the corpus on (group, order…): each slice holds a
  *      contiguous run of some group's global order;
  *   2. a window over (slice-id, group) — its hash exchange spreads every
  *      group across all slices — computes WITHIN-SLICE running totals in
  *      parallel (parallelism = slices × groups, task size = corpus/slices);
  *   3. a (slice-id, group) aggregate — a few thousand rows — takes a
  *      running offset per group over the TINY table and broadcast-joins
  *      back: global running total = local total + slice offset.
  *
  * Slice boundaries don't affect the result — any order-consistent slicing
  * yields the same global prefix sums, because `order` must be TOTAL
  * (callers append a unique key), so ties cannot straddle a boundary
  * ambiguously — but the window branch and the totals branch MUST see the
  * same boundaries. That sharing is NOT left to the optimizer: Catalyst
  * clones a twice-consumed subplan (new expression ids), and two cloned
  * range exchanges sample their boundaries independently — ReuseExchange
  * may or may not merge them back (observed not to, which silently
  * corrupts offsets). Instead the range shuffle is materialized ONCE at
  * the RDD layer (`queryExecution.toRdd` + [[Bridge.internalCreateDataFrame]]):
  * one `ShuffledRowRDD` instance means one sampled `RangePartitioner` and
  * one set of map outputs, shared by both consumers through plain object
  * identity — plan cloning above the RDD cannot split it
  * (`SamplingScaleSpec` pins both the values and the plan shape).
  *
  * '''Size gate.''' The two-pass form pays a fixed toll the naive plan
  * doesn't — an eager boundary-sampling pass, a broadcast, a join — worth
  * nothing when the whole input fits one sort task comfortably. Inputs
  * whose optimizer-estimated size is at most
  * `spark.graft.prefix.twoPassMinBytes` (default 128 MB) take the naive
  * one-window plan; larger inputs take the two-pass plan. Both are
  * value-identical under the total-order precondition (pinned in
  * `SamplingScaleSpec`). Size over-estimates (e.g. above a join) err
  * toward two-pass — the direction that is safe at scale. Set the conf to
  * `0` to force two-pass, or to a huge value to force the naive plan.
  *
  * '''Call-time contract''' (both public here and surfaced on every
  * caller): above the gate, the range boundaries sample EAGERLY when the
  * operator is called (that sampling pass exists in any
  * `repartitionByRange` — here it just runs at construction instead of
  * first action); the RDD boundary stops Catalyst pushdown from crossing
  * the prefix op (project/filter before calling it); and `group`/`order`/
  * `weight` are re-resolved BY NAME against the internal materialized
  * frame — pass expressions over the input's column names (`col("c")`),
  * never another DataFrame's bound references. A non-resolving expression
  * fails at call time with the message below.
  *
  * '''Ties.''' All windows use an explicit ROWS frame, so rows tied on
  * the full `order` (a precondition violation) receive DISTINCT
  * consecutive ranks in an arbitrary engine-dependent order — counts are
  * preserved (`hashSampleK` still returns exactly k per group) — rather
  * than the RANGE-frame behavior of handing every tied row the tie
  * group's maximum.
  */
private[operators] object Prefix {

  private val Helpers = Seq("__pfx_pid", "__pfx_w", "__pfx_cum", "__pfx_tpid", "__pfx_tg", "__pfx_off")

  val TwoPassMinBytesKey = "spark.graft.prefix.twoPassMinBytes"
  val TwoPassMinBytesDefault: Long = 128L * 1024 * 1024

  /** Ceiling (bytes, MEASURED not estimated — see the non-AQE hint site)
    * above which the two-pass branch's offsets table is NOT force-broadcast
    * in non-AQE sessions and the offsets join degrades to a shuffled join
    * instead. Guards the pathological high-cardinality group key (millions
    * of distinct groups ⇒ multi-GB offsets table) from the forced
    * `broadcast()` hint's driver/executor OOM — the hint bypasses every
    * built-in size threshold. Default matches Spark's own
    * autoBroadcastJoinThreshold default (10 MB). */
  val OffsetsBroadcastMaxBytesKey = "spark.graft.prefix.offsetsBroadcastMaxBytes"
  val OffsetsBroadcastMaxBytesDefault: Long = 10L * 1024 * 1024

  private def resolveOrFail(frame: DataFrame, cols: Seq[Column]): Unit =
    try frame.select(cols: _*).queryExecution.analyzed
    catch {
      case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(
          "Prefix.runningSum re-resolves group/order/weight BY NAME against an internal " +
            "materialized frame (see Prefix scaladoc): pass expressions over the input's " +
            "column NAMES (col(\"c\")), not another DataFrame's bound references, and only " +
            "over columns the input DataFrame actually has. Resolution failed: " +
            e.getMessage, e)
    }

  /** `df` + `out` = the INCLUSIVE running sum of `weight` within each
    * `group`, ordered by `order` (which must be total). The sum's type is
    * `sum(weight)`'s (long for integral weights, double for doubles; for
    * decimals the two-pass result is cast back to that type, so the
    * output schema never depends on the size gate). A NULL weight counts
    * as 0 in BOTH branches — the bare window-`sum` convention (skip
    * nulls) would make a null-weight row's running total depend on which
    * range SLICE it landed in (a slice whose seen weights are all null
    * sums to NULL, not 0), breaking the slice-boundary-invariance
    * contract; pinning null→0 makes the two branches agree on any data.
    *
    * Laziness contract: with AQE enabled (the default) construction is
    * lazy like every other operator here. With AQE DISABLED, the two-pass
    * branch runs ONE eager job at construction time (the broadcast gate's
    * size measurement, which executes the range shuffle's map side); the
    * map outputs are reused by the real execution, so nothing is paid
    * twice — but a caller that constructs and then discards the frame has
    * paid a shuffle map stage. See the in-body cost note. */
  def runningSum(
      df: DataFrame, group: Column, order: Seq[Column], weight: Column,
      out: String): DataFrame = {
    require(!df.columns.exists(Helpers.contains),
      s"Prefix.runningSum uses ${Helpers.mkString("/")} helper columns; the input already has one")
    val spark = df.sparkSession
    val small = SizeGate.fits(spark, SizeGate.estimate(df), TwoPassMinBytesKey, TwoPassMinBytesDefault)
    val w0 = coalesce(weight, lit(0))
    // the declared output type — sum(weight)'s — computed once so the
    // two-pass branch (whose offset ADDITION can widen a decimal) can
    // cast back to it
    val sumType = df.select(sum(w0)).schema.head.dataType
    if (small) {
      // small input: the whole prefix fits ordinary per-group window sorts
      val w = Window.partitionBy(group).orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      df.withColumn(out, sum(w0).over(w))
    } else {
      val part = spark.sessionState.conf.numShufflePartitions
      val ranged = df
        .withColumn("__pfx_w", w0)
        .repartitionByRange(part, (group +: order): _*)
      // validate BEFORE the eager boundary-sampling pass below: `ranged`
      // has the same column names the internal frame re-resolves against,
      // and failing here costs zero jobs instead of a corpus-scale one
      resolveOrFail(ranged, group +: order)
      // ONE materialized shuffle: boundaries sampled once, map outputs
      // reused by both consumers below via RDD object identity
      val base = Bridge.internalCreateDataFrame(
          spark, ranged.queryExecution.toRdd, ranged.schema)
        .withColumn("__pfx_pid", spark_partition_id())
      val wLoc = Window.partitionBy(col("__pfx_pid"), group).orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val local = base.withColumn("__pfx_cum", sum(col("__pfx_w")).over(wLoc))
      val totals = base.groupBy(col("__pfx_pid").as("__pfx_tpid"), group.as("__pfx_tg"))
        .agg(sum(col("__pfx_w")).as("__pfx_tw"))
      val wOff = Window.partitionBy(col("__pfx_tg")).orderBy(col("__pfx_tpid").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = totals.select(col("__pfx_tpid"), col("__pfx_tg"),
        sum(col("__pfx_tw")).over(wOff).as("__pfx_off"))
      // broadcast-hint policy is AQE-conditional. The offsets table is
      // ~(#groups + #slices) rows — tiny for the usual handful of groups
      // — but a high-cardinality group key (millions of distinct groups)
      // makes it multi-GB, where a FORCED broadcast() hint (which
      // bypasses every size threshold) is a driver OOM. With AQE enabled
      // we therefore omit the hint: AQE's runtime-exact stage size
      // converts the tiny case to a broadcast anyway (the plan pin
      // collects first and still sees BroadcastHashJoin) and degrades
      // the huge case to a shuffled join, slow-but-alive. With AQE
      // DISABLED nothing performs that conversion and the tiny offsets
      // table would drive a corpus-scale sort-merge shuffle of `local` —
      // so there we restore the hint, but GATED on the offsets table's
      // MEASURED size: plan-time estimates inflate through the window +
      // aggregate chain (they read corpus-sized here even for 3 groups),
      // so the gate counts the rows instead. Honest cost accounting for
      // that count job (non-AQE sessions only): it is the FIRST action
      // over `base`, so it runs the range shuffle's corpus-scale MAP
      // side eagerly at construction time — work the operator's
      // call-time contract already front-loads in part (boundary
      // sampling) and that the later real execution would do anyway; the
      // map outputs are produced ONCE and reused through the same RDD
      // identity the two consumers below rely on, so nothing is paid
      // twice — but a caller that constructs and then DISCARDS the frame
      // has paid for the shuffle map stage plus the aggregate over it.
      // Tiny offsets keep the fast broadcast path; a pathological group
      // key degrades to a shuffled join, slow-but-alive, matching the
      // AQE branch's behavior instead of OOMing.
      val offsetsHinted =
        if (spark.sessionState.conf.adaptiveExecutionEnabled) offsets
        else {
          // Row width: fixed-width fields (pid, offset) estimate by type
          // (+16 per-row object overhead in the broadcast relation), but a
          // VARIABLE-length group key is MEASURED — defaultSize counts a
          // string as 20 bytes, so a high-cardinality key with long string
          // values could pass the gate while the actual relation is orders
          // of magnitude larger (the OOM the gate exists to prevent). The
          // measurement rides the same single aggregate job as the count.
          val fixedBytes = offsets.schema.filter(_.name != "__pfx_tg")
            .map(_.dataType.defaultSize).sum + 16L
          val keyBytes = offsets.schema.find(_.name == "__pfx_tg").get.dataType match {
            case org.apache.spark.sql.types.StringType |
                 org.apache.spark.sql.types.BinaryType =>
              octet_length(col("__pfx_tg")).cast("long")
            case dt => lit(dt.defaultSize.toLong)
          }
          val measured = totals.select(count(lit(1)).as("__n"),
            coalesce(sum(keyBytes), lit(0L)).as("__kb")).head()
          if (SizeGate.fits(spark, measured.getLong(0) * fixedBytes + measured.getLong(1),
              OffsetsBroadcastMaxBytesKey, OffsetsBroadcastMaxBytesDefault))
            broadcast(offsets) else offsets
        }
      local.join(offsetsHinted,
          col("__pfx_pid") === col("__pfx_tpid") && (group <=> col("__pfx_tg")))
        .withColumn(out, (col("__pfx_cum") + coalesce(col("__pfx_off"), lit(0))).cast(sumType))
        .drop(Helpers: _*)
    }
  }

  /** `df` + `out` = the 1-based rank within each `group` under `order` —
    * `row_number()` without the one-task-per-group window (the order must
    * be total, so rank == running count; on duplicate keys see the Ties
    * note above). */
  def runningRank(
      df: DataFrame, group: Column, order: Seq[Column], out: String): DataFrame =
    runningSum(df, group, order, lit(1L), out)
}
