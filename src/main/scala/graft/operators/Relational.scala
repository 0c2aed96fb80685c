package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Generic relational operator patterns distilled from the reference
  * (SURVEY.md §2). Each is a reusable DataFrame→DataFrame combinator; the
  * shuffles they imply are the minimum the semantics require:
  *
  *  - [[topOnePerGroup]] / argmin-per-group (SURVEY A3/W1,
  *    `/root/reference/src/main.py:242`): one hash-partition shuffle on the
  *    group keys, then a per-partition sort — no global sort, no collect.
  *  - [[relativeThresholdTopOne]] (SURVEY A4, `src/benchmark.py:128-133`):
  *    the group max is a window over the SAME partitioning as the final
  *    rank, so Catalyst reuses a single Exchange for both window steps.
  *  - [[lastWriteWins]] (SURVEY A5/S7, `src/main.py:295-325`): the
  *    reference's `ON CONFLICT DO UPDATE` loop made "last writer" an
  *    artifact of iteration order; here conflict resolution is an explicit,
  *    deterministic priority order (SURVEY §7.4.1).
  *  - [[unionDistinct]] (SURVEY U1/U2, `sql/4:4-28`, `sql/5:4-32`):
  *    Spark `union` is UNION ALL — the explicit distinct is the parity point.
  */
object Relational {

  /** Keep exactly one row per group: the first under `order`. Deterministic
    * iff `order` is a total order within each group (callers append a unique
    * id as the last sort key).
    *
    * Execution: when every sort key is encodable as an order-preserving
    * struct field (any type ascending; descending for numeric / date /
    * timestamp via negation), the winner is computed as
    * `min(struct(encodedKeys…, originalRow))` — ONE aggregate with
    * map-side partial aggregation, so each map partition ships at most one
    * candidate row per group through the exchange (optimization-guide §2.3
    * "aggregate before you shuffle": the former rank-window shape shipped
    * every row and, via its partial WindowGroupLimit, serialized a full
    * partition sort onto the scan stage's tasks). Which aggregate Spark
    * plans depends on the payload: only a fixed-width struct gets a hash
    * aggregate. A string or array field anywhere in the struct (the usual
    * case, since the payload is the whole row) makes the buffer
    * variable-width, so the partial and the final step are each a
    * `SortAggregate` that sorts its input by the group keys. That is the
    * plan of `CanonicalOps.bestMatches` and of both `lastWriteWins` calls
    * in `CanonicalOps.exportTables`. A sort spec outside the encodable
    * set (descending strings, descending nulls-first intervals, …) falls
    * back to the rank-window shape, plan-for-plan the r13 form. Both
    * paths return the winning row with ALL original columns; with a total
    * order the winner is identical by construction (encodings are
    * strictly order-preserving), which the q10/q11/q12 DuckDB hash
    * oracles check end to end.
    *
    * Caller note: the aggregate path packs the row into a struct, which
    * column pruning cannot see through — `.select(...)` the columns you
    * actually keep BEFORE calling when `df` is wide (guide §2.3), or the
    * scan reads every column.
    */
  def topOnePerGroup(df: DataFrame, partitionBy: Seq[Column], order: Seq[Column]): DataFrame =
    aggTopOne(df, partitionBy, order).getOrElse(windowTopOne(df, partitionBy, order))

  /** The rank-window shape — the fallback for sort specs outside
    * [[aggTopOne]]'s encodable set, and the deliberate choice where a
    * same-keyed exchange + sort ALREADY exists in the plan (see
    * [[relativeThresholdTopOne]]): there the rank rides that sort for
    * free, and the aggregate would only add per-row struct work. */
  private def windowTopOne(
      df: DataFrame, partitionBy: Seq[Column], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(partitionBy: _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** The aggregate path of [[topOnePerGroup]]: None when a sort key is not
    * order-preservingly encodable (the caller then uses the window path).
    *
    * Encoding, per sort key, as struct fields compared lexicographically:
    *   - a null-rank INT first (0/1 by nulls-first/last), so the encoding
    *     NEVER relies on how struct comparison orders a null field;
    *   - the value itself for ascending (nulls replaced by a typed
    *     neutral constant — the null-rank has already decided);
    *   - for descending numerics the NEGATED value widened first (int →
    *     long, long → decimal(20,0)) so MinValue cannot overflow; floats
    *     and doubles get an extra NaN-rank field (descending places NaN
    *     first — negation alone would send it last); dates/timestamps
    *     negate their epoch day/micros.
    *
    * Every encoding is strictly order-preserving, so min over the encoded
    * struct picks exactly the row the rank window ranked first whenever
    * `order` is a total order per group. (When it is NOT total the window
    * pick was partition-dependent — the aggregate's full-row min is at
    * least deterministic.) */
  private def aggTopOne(
      df: DataFrame, partitionBy: Seq[Column], order: Seq[Column]): Option[DataFrame] = {
    import org.apache.spark.sql.graft.Bridge
    import org.apache.spark.sql.types._
    // duplicate column names cannot be packed into (and restored from) a
    // payload struct unambiguously — window path handles them as before
    if (df.columns.distinct.length != df.columns.length) return None
    val specs: Seq[(Column, Boolean, Boolean)] = order.map { c =>
      Bridge.sortSpec(c).getOrElse((c, false, false)) // bare column: asc nulls first
    }
    // resolve the sort keys' types without executing anything
    val types = df.select(specs.zipWithIndex.map { case ((c, _, _), i) => c.as(s"__t$i") }: _*)
      .schema.map(_.dataType)
    // a null VALUE field is only ever compared against another null (the
    // null-rank decided mixed cases already), and null == null is a
    // consistent tie in struct comparison — no coalesce needed anywhere
    val encoded: Seq[Option[Seq[Column]]] = specs.zip(types).map { case ((c, desc, nullsLast), t) =>
      val nullRank = when(c.isNull, lit(if (nullsLast) 1 else 0))
        .otherwise(lit(if (nullsLast) 0 else 1))
      if (!desc) Some(Seq(nullRank, c))
      else t match {
        case ByteType | ShortType | IntegerType =>
          Some(Seq(nullRank, -c.cast("long"))) // widened: MinValue-safe
        case LongType =>
          Some(Seq(nullRank, -c.cast(DecimalType(20, 0))))
        case FloatType | DoubleType =>
          // descending places NaN FIRST (NaN is greatest); negation alone
          // would keep NaN last, so a NaN-rank field decides before it
          val nanRank = when(c.isNull, lit(1)).when(isnan(c), lit(0)).otherwise(lit(1))
          Some(Seq(nullRank, nanRank, -c.cast("double")))
        case DateType =>
          Some(Seq(nullRank, -unix_date(c).cast("long")))
        case TimestampType =>
          Some(Seq(nullRank, -unix_micros(c)))
        case TimestampNTZType => // tz shift of the cast is monotone: order-preserving
          Some(Seq(nullRank, -unix_micros(c.cast(TimestampType))))
        case _: DecimalType =>
          Some(Seq(nullRank, -c))
        case _ => None // descending strings/binary/etc: window path
      }
    }
    if (encoded.exists(_.isEmpty)) return None
    val sortFields = encoded.flatMap(_.get).zipWithIndex.map { case (c, i) => c.as(s"__s$i") }
    val payload = struct(df.columns.map(col): _*).as("__p")
    val win = df
      .groupBy(partitionBy: _*)
      .agg(min(struct(sortFields :+ payload: _*)).as("__w"))
    Some(win.select(df.columns.map(n => col(s"__w.__p.`$n`")): _*))
  }

  /** SURVEY A4 (`src/benchmark.py:43-49,128-133`): within each group, drop
    * rows whose `score` is below max(score)/factor, then keep the single
    * best row under `order`. Both windows share one partitioning → one
    * shuffle total.
    */
  def relativeThresholdTopOne(
      df: DataFrame,
      partitionBy: Seq[Column],
      score: Column,
      factor: Double,
      order: Seq[Column]): DataFrame = {
    val wAll = Window.partitionBy(partitionBy: _*)
    val kept = df
      .withColumn("__maxscore", max(score).over(wAll))
      .filter(score * factor >= col("__maxscore"))
      .drop("__maxscore")
    // window, not the aggregate path: the threshold window above has
    // already exchanged AND sorted on `partitionBy`, so the rank window
    // reuses that one exchange/sort for free — measured (r14, q11): the
    // aggregate here was ~+0.1 s of pure per-row struct-build overhead
    // with zero exchanges saved
    windowTopOne(kept, partitionBy, order)
  }

  /** `order` as an `array_sort` comparator of two structs, `order` being
    * sort specs over the fields of the struct it is handed: -1, 0 or 1 by
    * the first key on which the two differ, nulls where that key puts
    * them — the order [[topOnePerGroup]] ranks rows by, within an array. */
  def comparator(order: (String => Column) => Seq[Column]): (Column, Column) => Column = (l, r) => {
    import org.apache.spark.sql.graft.Bridge
    def spec(c: Column) = Bridge.sortSpec(c).getOrElse((c, false, false))
    coalesce(order(l.getField).map(spec).zip(order(r.getField).map(spec)).map {
      case ((a, desc, nullsLast), (b, _, _)) =>
        val aNull = if (nullsLast) 1 else -1
        // null on a tie, so coalesce moves on to the next key
        when(a.isNull, when(b.isNotNull, aNull)).when(b.isNull, -aNull)
          .when(a < b, if (desc) 1 else -1).when(a > b, if (desc) -1 else 1)
    } :+ lit(0): _*)
  }

  /** SURVEY A5/S7: resolve key conflicts deterministically — the row ranked
    * first by `priority` wins. Replaces the reference's order-dependent
    * upsert (`src/main.py:295-325` + loop order `:352`).
    */
  def lastWriteWins(df: DataFrame, keys: Seq[Column], priority: Seq[Column]): DataFrame =
    topOnePerGroup(df, keys, priority)

  /** SURVEY U1/U2: n-branch UNION with set semantics (Postgres UNION
    * deduplicates; Spark `union` does not — `.distinct()` restores parity).
    * All branches must share a schema.
    */
  def unionDistinct(branches: Seq[DataFrame]): DataFrame =
    branches.reduce(_ union _).distinct()

  /** As-of join: for each left row, the LATEST right row with
    * `right.tsCol <= left.tsCol` within the same `keys` group (ties on
    * tsCol broken by the highest `tieCol` — a unique id makes the result
    * deterministic). Right payload columns surface as `<prefix><name>`,
    * null when no right row precedes.
    *
    * NOT a range join (which Spark would execute as a θ-join with a
    * per-key cartesian blowup): both sides are unioned, shuffled ONCE on
    * `keys`, and swept with a running `last(_, ignoreNulls)` window — right
    * rows sort before left rows at equal timestamps so "<=" holds. Cost is
    * one exchange + one per-partition sort regardless of how many right
    * rows precede each left row.
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      tsCol: String,
      tieCol: String,
      rightPayload: Seq[String],
      prefix: String = "asof_"): DataFrame = {
    val lRowType = StructType(left.schema.fields)
    val rPayStruct = struct(rightPayload.map(col): _*)
    val lSide = left.select(
      (keys.map(col) :+ col(tsCol).as("__ts") :+ col(tieCol).as("__tie") :+
        lit(1).as("__side") :+ struct(left.columns.map(col): _*).as("__lrow") :+
        lit(null).cast(right.select(rPayStruct).schema.head.dataType).as("__rpay")): _*)
    val rSide = right.select(
      (keys.map(col) :+ col(tsCol).as("__ts") :+ col(tieCol).as("__tie") :+
        lit(0).as("__side") :+ lit(null).cast(lRowType).as("__lrow") :+
        rPayStruct.as("__rpay")): _*)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__ts"), col("__side"), col("__tie"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lSide.union(rSide)
      .withColumn("__asof", last(col("__rpay"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(col("__lrow.*") +:
        rightPayload.map(c => col(s"__asof.$c").as(s"$prefix$c")): _*)
  }

  /** Range join: all (point row, interval row) pairs with
    * `lo <= point <= hi` (within equal `keys` when given) — WITHOUT the
    * θ-join Spark would otherwise plan (broadcast-nested-loop, quadratic
    * per key group).
    *
    * Rewrite: bucket the axis by `bucketWidth`. A point lives in exactly
    * one bucket; an interval is exploded to every bucket it touches; the
    * join is then an EQUI-join on (keys, bucket) with the exact range
    * predicate as a residual filter. Each matching pair meets exactly once
    * (the point's single bucket), so no dedup pass is needed.
    *
    * Cost: interval explode factor = len/bucketWidth + 1 — pick
    * `bucketWidth` near the TYPICAL interval length so intervals explode
    * to ~2 rows. At 100 TB both sides shuffle once on (keys, bucket);
    * skew is bounded by bucket population, never by key cardinality.
    * Negative axis values are fine: `div` truncates rather than floors,
    * but truncation is monotone, so a point inside the band always lands
    * within the interval's generated bucket range.
    *
    * Output = point columns ++ interval columns (must be disjoint).
    */
  def rangeJoin(
      points: DataFrame, pointKeys: Seq[String], pointCol: String,
      intervals: DataFrame, intervalKeys: Seq[String], loCol: String, hiCol: String,
      bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    require(pointKeys.length == intervalKeys.length,
      s"key lists must align: $pointKeys vs $intervalKeys")
    val overlap = points.columns.toSet.intersect(intervals.columns.toSet)
    require(overlap.isEmpty, s"point/interval column names must be disjoint, both have: $overlap")
    // `div` (truncating integer division) has no Column operator — the
    // expr() strings quote the caller's column names
    val p = points.withColumn("__pb", expr(s"`$pointCol` div $bucketWidth"))
    val i = intervals.withColumn("__ib",
      explode(sequence(expr(s"`$loCol` div $bucketWidth"), expr(s"`$hiCol` div $bucketWidth"))))
    val cond = (pointKeys.zip(intervalKeys).map { case (a, b) => col(a) === col(b) } ++
      Seq(col("__pb") === col("__ib"),
        col(pointCol) >= col(loCol), col(pointCol) <= col(hiCol))).reduce(_ && _)
    p.join(i, cond).drop("__pb", "__ib")
  }

  /** SURVEY J4 (`sql/1:8-20`): depth-bounded parent walk — take the first
    * non-null `attr` climbing `edges` (child→parent) up to `hops` levels,
    * else `default`.
    *
    * The walk is resolved DIMS-SIDE first: the unrolled left-join chain runs
    * over the key universe (all edge children ∪ attr keys — dimension-sized),
    * producing one key→value lookup; the fact table then passes through
    * exactly ONE (broadcast) join instead of 2·hops+1. At 100 TB the fact
    * side never shuffles and never widens — the chain cost is confined to
    * the tiny dimension subtree of the broadcast exchange.
    *
    * @param start   DataFrame holding `startKey` (the fact side)
    * @param edges   (childCol, parentCol) relation
    * @param attrs   key→attribute relation (attrKeyCol, attrValCol); the
    *                attribute may be null (that is what makes the walk walk)
    * @param broadcastLookup hint the resolved lookup as broadcast (default:
    *                hierarchies are dimensions; disable for a huge edge set)
    */
  def hierarchyCoalesceWalk(
      start: DataFrame,
      startKey: String,
      edges: DataFrame,
      childCol: String,
      parentCol: String,
      attrs: DataFrame,
      attrKeyCol: String,
      attrValCol: String,
      hops: Int,
      default: Column,
      outCol: String,
      broadcastLookup: Boolean = true): DataFrame = {
    val keys = edges.select(col(childCol).as("__key"))
      .union(attrs.select(col(attrKeyCol).as("__key")))
      .distinct()
    var cur = keys.join(
      attrs.select(col(attrKeyCol).as("__k0"), col(attrValCol).as("__v0")),
      col("__key") === col("__k0"), "left").drop("__k0")
    var prevKey: Column = col("__key")
    for (i <- 1 to hops) {
      val e = edges.select(col(childCol).as(s"__c$i"), col(parentCol).as(s"__p$i"))
      val a = attrs.select(col(attrKeyCol).as(s"__k$i"), col(attrValCol).as(s"__v$i"))
      cur = cur
        .join(e, prevKey === col(s"__c$i"), "left")
        .join(a, col(s"__p$i") === col(s"__k$i"), "left")
        .drop(s"__c$i", s"__k$i")
      prevKey = col(s"__p$i")
    }
    // default is NOT folded into the lookup: a startKey absent from the key
    // universe must resolve to it too, so it is applied after the fact join.
    val lookup = cur.select(col("__key"),
      coalesce((0 to hops).map(i => col(s"__v$i")): _*).as("__resolved"))
    val hinted = if (broadcastLookup) broadcast(lookup) else lookup
    start.join(hinted, col(startKey) === col("__key"), "left")
      .withColumn(outCol, coalesce(col("__resolved"), default))
      .drop("__key", "__resolved")
  }
}
