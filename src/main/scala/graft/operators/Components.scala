package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a pair table — the canonical-document
  * assignment step a dedup pipeline runs AFTER near-dup pair mining
  * (pairs from [[Dedup.simhashNearDupPairs]] / [[Dedup.minhashNearDupPairs]]
  * are edges; each document keeps the minimum doc id of its component as
  * its canonical representative).
  *
  * TWO execution paths behind one contract, picked by measured edge count:
  *
  *   - **Single-task union-find** (edge count ≤ `localEdgeThreshold`). The
  *     dup-pair graph is PAIR-sized, orders of magnitude smaller than the
  *     corpus — banded LSH/SimHash mining bounds pair mass by design, so
  *     even a 100 TB corpus yields an edge list (16 bytes/edge) that fits
  *     one executor core comfortably at the default 10M-edge threshold
  *     (~160 MB). Disjoint-set with path compression in one task is
  *     O(E·α(E)) and collapses ALL iteration latency into one job — no
  *     convergence rounds, no per-round shuffles. This is NOT driver-side
  *     collect: the fold runs inside a task on an executor; only the
  *     (touched-vertex, component) table comes back as a DataFrame.
  *
  *   - **Two-level contraction** (above threshold; the default distributed
  *     strategy). Every edge lives in exactly ONE input partition, so a
  *     per-partition union-find (a narrow `mapPartitions` — zero shuffle)
  *     contracts all intra-partition connectivity away; what remains is
  *     the vertices that appear in several partitions under different
  *     local roots. One vertex-keyed shuffle groups those appearances,
  *     stitch edges (min-root, other-root) link the local roots, and the
  *     ITERATIVE part — a partitioner-aware min-label + path-halving RDD
  *     loop whose edge set is partitioned once and never re-shuffled —
  *     runs only on that contracted root graph, which is boundary-sized
  *     (≤ one edge per cross-partition vertex appearance), not
  *     edge-sized. When the root graph fits `localEdgeThreshold` it
  *     collapses further into the single-task union-find. At 100 TB the
  *     corpus-scale work is therefore one narrow pass plus two
  *     vertex-sized exchanges, with convergence rounds paid only on data
  *     orders of magnitude smaller. This stage is the one place in the
  *     engine that drops to RDDs on purpose: an iterative fixpoint needs
  *     a partitioning REUSED across jobs (join the same edge set every
  *     round without re-exchanging it), which Catalyst cannot express —
  *     exchange reuse never crosses a job boundary — and which a fixed
  *     `HashPartitioner` gives for free (the GraphX execution model).
  *     It replaced a DataFrame min-label loop over the full edge set
  *     (one edge join + min-aggregate + pointer jump per round,
  *     edge-sized shuffles every round), which `ComponentsBench` measured
  *     at 177-312 s against 23-28 s for the contraction at 30M edges.
  *     Labels only ever decrease, so sum(label) strictly
  *     decreases until the fixpoint and convergence is one scalar
  *     aggregate per fused round-pair; per-round lineage is truncated
  *     (localCheckpoint, or reliable `checkpoint` when `checkpointDir`
  *     is set) and nothing reaches the driver but the scalar.
  *
  * Either way, isolated vertices (the overwhelming corpus majority) never
  * enter the component computation — they are attached by one final
  * left join, keeping the heavy path pair-sized at any scale.
  */
object Components {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Default `localEdgeThreshold` (symmetrized rows) — shared with
    * `ComponentsBench` so the bench's "default path" leg can never
    * silently diverge from the library default. */
  val DefaultLocalEdgeThreshold: Long = 10000000L

  /** Byte gate for broadcasting the LABELS side of the final
    * vertex-assignment join. The labels table is touched-vertex-sized
    * (≤ symmetrized edge rows — pair-graph-sized, orders of magnitude
    * below the corpus), but it is RDD-backed, so Catalyst sees UNKNOWN
    * stats (`defaultSizeInBytes` = huge) and can never choose broadcast
    * on its own: the plan was a SortMergeJoin that exchanged and sorted
    * the CORPUS-sized vertex table just to attach pair-sized labels.
    * The operator has already MEASURED the edge count (the same count
    * that picks the execution path), so the gate is measured bytes —
    * 16 B/label row, bounded by symCount — not an estimate. Above the
    * gate the shuffled join stands: at that size the broadcast would
    * strain the driver and every executor, and the corpus exchange is
    * the honest cost. Conf, not hardcode: executor/driver memory varies. */
  val BroadcastLabelsMaxBytesKey = "spark.graft.components.broadcastLabelsMaxBytes"
  val BroadcastLabelsMaxBytesDefault: Long = 64L * 1024 * 1024

  /** → (id, payload…, component_id = min reachable id). `vertices` must
    * have column `id`; `edges` columns `src`/`dst` (undirected: both
    * orientations are generated internally). Isolated vertices keep their
    * own id.
    *
    * Extra `vertices` columns PASS THROUGH to the output unchanged (after
    * `id`, before `component_id`). This is the zero-cost way to get
    * per-vertex payload (e.g. the quality column a canonical-pick window
    * ranks on) next to the assignment: the payload rides the SAME final
    * labels join every caller already pays — below the broadcast gate the
    * corpus side streams map-side, so the payload moves with NO exchange
    * at all, and above it the one id-keyed exchange carries a few extra
    * bytes per row — where a join back to the source table would
    * re-exchange the corpus on id a second time (guide §2.4: two
    * operations keyed the same way should share one exchange). Payload
    * names must not collide with `component_id` (reserved for the
    * output). Callers that pass only `id` get the exact former
    * (id, component_id) schema and plan.
    *
    * @param localEdgeThreshold run the single-task union-find when the
    *        symmetrized edge list has at most this many rows. At the 10M
    *        default the one task streams a ~160 MB edge list and holds a
    *        disjoint-set map for up to 20M touched vertices — on the order
    *        of 1-2 GB of primitive-array state, inside a normally-sized
    *        executor; lower the threshold for small executors. Set 0 to
    *        force the contraction (the specs do, to pin both paths
    *        against each other).
    * @param checkpointDir when set, per-round state in the distributed
    *        path is checkpointed reliably under this fault-tolerant path
    *        (HDFS/S3 on a real cluster; the reliable write is one extra
    *        recompute of the round's edge join — the price of surviving
    *        executor loss). When None (default), storage-local
    *        `localCheckpoint` — fastest, but lost blocks kill the job.
    *        NOTE `unpersist()` does NOT delete reliable checkpoint data —
    *        the loop cleans up after itself instead: each invocation
    *        checkpoints into its own fresh subdirectory of `checkpointDir`
    *        (path logged at INFO) and deletes every finished round's
    *        snapshot as soon as the following round has materialized, so
    *        at most three snapshots (edges, previous labels, current
    *        labels) are ever alive. The LAST snapshot outlives the call
    *        on purpose — the returned DataFrame is lazy and may recompute
    *        from it; remove the logged subdirectory after consuming the
    *        result, or run with
    *        `spark.cleaner.referenceTracking.cleanCheckpoints=true`.
    *        Checkpoint placement is a SparkContext-GLOBAL setting, so
    *        reliable mode claims it for the duration of the call (the
    *        previous value is restored before returning) — concurrent
    *        reliable-mode invocations on one SparkContext are NOT
    *        supported; run them serially or give each its own session's
    *        context.
    */
  def connectedComponents(
      vertices: DataFrame,
      edges: DataFrame,
      maxIter: Int = 25,
      checkpointDir: Option[String] = None,
      localEdgeThreshold: Long = DefaultLocalEdgeThreshold): DataFrame = {
    // payload passthrough reserves the output/internal names; fail fast
    // (before any eager edge work) rather than emit an ambiguous column
    require(!vertices.columns.contains("component_id") &&
      !vertices.columns.contains("__lid") && !vertices.columns.contains("comp"),
      "connectedComponents: vertices must not carry a column named " +
        "component_id, comp, or __lid — component_id is the output label " +
        "and the others are internal to the assignment join; rename the " +
        "payload column")
    // Reset the stitch-loop spec seam at ENTRY, not inside the contraction
    // branch: the single-task union-find path never reaches the
    // contraction, and without this a later
    // small-graph call on the same thread would report a PREVIOUS call's
    // loop stats — the documented (-1, -1) contract must hold on every
    // path through this method.
    lastStitchLoopStats.set((-1, -1))
    val sc = vertices.sparkSession.sparkContext
    // save the RAW checkpoint dir: setCheckpointDir appends a UUID segment
    // on every call, so restoring through the public setter would nest the
    // caller's dir one level deeper — the CoreBridge accessors restore the
    // exact prior value
    val prevCkptDir = org.apache.spark.graft.CoreBridge.getCheckpointDirRaw(sc)
    // one unique subdirectory per invocation: round-cleanup may then
    // delete stale rdd-* dirs freely without touching anything another
    // (earlier or later) checkpoint user put under the same base path
    val ourDir = checkpointDir.map { base =>
      sc.setCheckpointDir(s"$base/cc")
      // setCheckpointDir appends its own random UUID segment — read the
      // REAL directory back so per-round pruning lists the right path
      val d = sc.getCheckpointDir.get
      log.info(s"reliable round checkpoints under $d — " +
        "remove after consuming the result")
      d
    }
    try {
      // Truncation with a RELEASE handle. Local mode checkpoints the
      // InternalRow RDD directly (rows copied — toRdd reuses row buffers)
      // so the storage blocks can actually be freed per round:
      // Dataset.localCheckpoint hides its RDD and Dataset.unpersist only
      // consults the CacheManager, which never registered it. Lazy in both
      // modes — the next action both computes and truncates in one job.
      def snap(df: DataFrame): Snap =
        if (checkpointDir.isDefined) Snap(df.checkpoint(eager = false), () => ())
        else {
          val rdd = df.queryExecution.toRdd.map(_.copy())
          rdd.localCheckpoint()
          Snap(
            org.apache.spark.sql.graft.Bridge.internalCreateDataFrame(
              df.sparkSession, rdd, df.schema),
            () => { rdd.unpersist(blocking = false); () })
        }
      // materialize the RAW (one-orientation) edge set once: the path
      // choice needs its count and the caller's edge lineage (e.g.
      // near-dup pair mining) must not re-execute per use. Null endpoints
      // are dropped up front — the union-find deserializer would throw on
      // them. Union-find is orientation-blind, so both paths (the single
      // task and the contraction) consume raw edges directly — half the
      // rows the symmetrized list would stream/exchange.
      val rawSnap = snap(
        edges.select(col("src").cast("long"), col("dst").cast("long"))
          .filter(col("src").isNotNull && col("dst").isNotNull))
      val raw = rawSnap.df
      // the threshold contract stays stated in SYMMETRIZED rows
      val symCount = 2L * raw.count()
      val labels =
        if (symCount <= localEdgeThreshold) localUnionFind(raw)
        else {
          // the contraction leaves its final state (minRoot+rootLabels)
          // truncated, so the edge blocks can be released as soon as the
          // eager work is done; the union-find path stays lazy over raw
          // and must keep them. In reliable mode release() is a no-op and
          // the raw checkpoint files stay — the contraction's
          // persisted-only intermediates recompute from them on executor
          // loss.
          val l = contractedLabels(raw, symCount, maxIter, ourDir, localEdgeThreshold)
          rawSnap.release()
          l
        }
      // attach labels to the full vertex set. Labels cover only
      // edge-touched vertices (≤ symCount rows, 16 B each); when that
      // measured bound fits the broadcast gate, hint it — the corpus
      // side then streams map-side with NO exchange and NO sort (the
      // un-hinted plan was a SortMergeJoin exchanging the corpus-sized
      // vertex table, because the RDD-backed labels frame has unknown
      // stats and auto-broadcast never fires on it).
      val labelsRenamed = labels.withColumnRenamed("id", "__lid")
      val labelsHinted =
        if (SizeGate.fits(vertices.sparkSession, symCount * 16L,
            BroadcastLabelsMaxBytesKey, BroadcastLabelsMaxBytesDefault)) broadcast(labelsRenamed)
        else labelsRenamed
      // vertex payload columns ride this join untouched (see scaladoc);
      // id-only callers produce the exact former plan
      vertices
        .join(labelsHinted, col("id") === col("__lid"), "left")
        .select(vertices.columns.map(col).toSeq :+
          coalesce(col("comp"), col("id").cast("long")).as("component_id"): _*)
    } finally {
      // every .checkpoint() call in this invocation has already captured
      // its placement, so restoring here is safe even though the returned
      // frame is still lazy
      if (checkpointDir.isDefined)
        org.apache.spark.graft.CoreBridge.setCheckpointDirRaw(sc, prevCkptDir)
    }
  }

  /** A truncated frame plus the handle that frees its storage blocks —
    * no-op in reliable mode, where state lives in (separately pruned)
    * checkpoint files rather than executor storage. */
  private final case class Snap(df: DataFrame, release: () => Unit)

  /** One disjoint-set pass over an edge iterator → (vertex, root) for
    * every touched vertex. Path compression + min-root union, so the
    * root IS the min reachable id — deterministic under any edge order.
    * Memory: ~16 B per touched vertex (one LongMap entry). The rows are
    * STREAMED off a primitive key snapshot — materializing boxed tuples
    * for all touched vertices at once would multiply the task's memory;
    * the final find() calls only compress values (every chain ends at an
    * already-registered root), so iterating over the snapshot while the
    * map's values update is safe. Shared by the single-task path, the
    * contraction pass (per input partition), and the contracted root
    * graph's below-threshold branch. */
  private def unionFindRows(edges: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x // compress the walked path onto the root
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      if (!parent.contains(r)) parent(r) = r // register roots as touched
      r
    }
    edges.foreach { case (s, d) =>
      val rs = find(s); val rd = find(d)
      if (rs != rd) { if (rs < rd) parent(rd) = rs else parent(rs) = rd }
    }
    val ks = parent.keysIterator.toArray
    ks.iterator.map(k => (k, find(k)))
  }

  /** Below-threshold path: the whole edge list through ONE task's
    * disjoint-set forest. NOT a driver-side collect: the fold runs
    * inside a task on an executor. */
  private def localUnionFind(raw: DataFrame): DataFrame = {
    val spark = raw.sparkSession
    import spark.implicits._
    raw.select(col("src"), col("dst")).as[(Long, Long)]
      .coalesce(1)
      .mapPartitions(it => unionFindRows(it))
      .toDF("id", "comp")
  }

  /** Delete every rdd-* snapshot under this loop's PRIVATE checkpoint
    * subdirectory except the lowest id (the raw edge set the rounds keep
    * reading) and the highest (the labels that just materialized).
    * Checkpoint rdd ids are assigned in creation order and this loop
    * creates its frames strictly sequentially, so everything between is a
    * finished round's state that nothing can read again. */
  private def pruneCheckpoints(sc: org.apache.spark.SparkContext, dir: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(sc.hadoopConfiguration)
    if (fs.exists(path)) {
      val rdds = fs.listStatus(path).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("rdd-"))
        .sortBy(_.getPath.getName.stripPrefix("rdd-").toLong)
      rdds.drop(1).dropRight(1).foreach(s => fs.delete(s.getPath, true))
    }
  }

  /** Default above-threshold path: two-level contraction (see object
    * doc). Returns (id, comp) for every edge-touched vertex.
    *
    * Level 1 is one NARROW pass: every edge lives in exactly one input
    * partition, so a per-partition union-find contracts all
    * intra-partition connectivity, emitting one (vertex, local root) row
    * per touched vertex per partition (task memory ~16 B per touched
    * vertex in the partition — the same contract as the single-task
    * path, but per ≤`maxPartitionBytes` slice). Level 2 stitches: a
    * vertex seen in several partitions under different local roots
    * proves those roots connected, so stitch edges (min root, other
    * root) — at most one per cross-partition vertex appearance — form
    * the contracted root graph, and only THAT graph pays iteration:
    * single-task union-find when it fits `localEdgeThreshold`, else the
    * partitioner-aware [[minLabelLoopRdd]]. Correctness: every original
    * edge is contracted inside its own partition, so root connectivity
    * under stitch edges equals vertex connectivity under the input; and
    * the global min vertex of a component is the local min of every
    * local component containing it, hence always itself a root — so the
    * min over its root-graph component is exactly the component min. */
  private def contractedLabels(
      raw: DataFrame, symCount: Long, maxIter: Int, reliableDir: Option[String],
      localEdgeThreshold: Long): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val spark = raw.sparkSession
    val reliable = reliableDir.isDefined
    val nPart = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    // Partitioner sized to the MEASURED edge mass, capped by
    // shuffle.partitions — the same ~100k-sym-rows-per-partition rule the
    // stitch loop's rootPart already applies. Above threshold on a real
    // corpus (>10M sym rows) this saturates to shuffle.partitions, so
    // production plans are unchanged; a small FORCED graph (threshold 0 —
    // the oracle twins, or a spec) stops scheduling `shuffle.partitions`
    // mostly-empty tasks per contraction stage (level-2 exchange, minRoot,
    // stitch distinct, assignment join — measured as fixed per-stage
    // scheduler cost at 32 partitions on few-hundred-edge graphs).
    val part = new org.apache.spark.HashPartitioner(
      math.max(1L, math.min(nPart.toLong, symCount / 100000L + 1L)).toInt)
    // level 1: narrow contraction (zero shuffle), then ONE vertex-keyed
    // exchange of the (vertex, local root) rows — ≤ one row per touched
    // vertex per partition, i.e. vertex-sized plus boundary overlap
    val members = raw.queryExecution.toRdd
      .mapPartitions(it => unionFindRows(it.map(r => (r.getLong(0), r.getLong(1)))))
      .partitionBy(part).persist(MEMORY_AND_DISK)
    val minRoot = members.reduceByKey(part, math.min(_: Long, _: Long)) // co-partitioned: narrow
    minRoot.persist(MEMORY_AND_DISK)
    // the final assignment join reads minRoot lazily AFTER the caller
    // releases raw's storage blocks — truncate so it never recomputes
    // through them (reliable mode keeps raw's checkpoint FILES instead;
    // a checkpoint here would be pruned by the loop's round cleanup)
    if (!reliable) minRoot.localCheckpoint()
    val rootEdges = members.join(minRoot, part) // co-partitioned: narrow
      .flatMap { case (_, (root, mr)) => if (root != mr) Iterator((mr, root)) else Iterator.empty }
      .distinct(nPart)
    val nRootEdges = rootEdges.count() // materializes members + minRoot
    log.info(s"components contraction: $nRootEdges stitch edges")
    if (sys.env.contains("GRAFT_CC_DEBUG"))
      println(s"[cc] contraction: $nRootEdges stitch edges")
    // (lastStitchLoopStats is reset at connectedComponents entry, so a
    // zero-edge or single-task stitch here correctly reports (-1, -1))
    val rootLabels: Option[org.apache.spark.rdd.RDD[(Long, Long)]] =
      if (nRootEdges == 0L) None // every component was partition-local
      // the threshold contract is stated in SYMMETRIZED rows, so the
      // one-orientation stitch count compares at 2× — the single-task
      // branch must honor the same executor-memory bound as the top gate
      else if (2L * nRootEdges <= localEdgeThreshold) {
        val uf = rootEdges.coalesce(1).mapPartitions(it => unionFindRows(it))
          .persist(MEMORY_AND_DISK)
        if (!reliable) uf.localCheckpoint()
        uf.count() // materialize before members' blocks go away
        Some(uf)
      } else {
        // the stitch loop's partitioner is sized to the ROOT graph, not
        // the corpus: the root graph is boundary-sized by construction
        // (often orders of magnitude below the edge set), and reusing the
        // corpus-wide `part` schedules rounds of mostly-empty tasks —
        // measured as q78's dominant toy cost (fixed per-round scheduler
        // overhead on a few-hundred-edge graph under 32 partitions), and
        // the same waste shape on a 1000-executor cluster whose
        // shuffle.partitions is in the thousands. ~100k symmetrized rows
        // (~3 MB) per stitch partition; never more than `part` itself.
        val rootPart = new org.apache.spark.HashPartitioner(
          math.max(1L, math.min(part.numPartitions.toLong,
            (2L * nRootEdges) / 100000L + 1L)).toInt)
        val symRoots = rootEdges
          .flatMap { case (a, b) => Iterator((a, b), (b, a)) }
          .partitionBy(rootPart).persist(MEMORY_AND_DISK)
        val l = minLabelLoopRdd(symRoots, rootPart, maxIter, reliableDir)
        symRoots.unpersist(blocking = false) // l is truncated + materialized
        Some(l)
      }
    members.unpersist(blocking = false)
    val assigned = rootLabels match {
      case None => minRoot // the local min IS the component min
      case Some(rl) =>
        // v's component = label of v's min local root (connected to all
        // of v's roots); roots absent from the root graph keep their own
        // id, which is already the component min
        minRoot.map { case (v, mr) => (mr, v) }
          .leftOuterJoin(rl, part)
          .map { case (mr, (v, c)) => (v, c.getOrElse(mr)) }
    }
    val rows = assigned.mapPartitions(_.map { case (v, c) =>
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](v, c)): org.apache.spark.sql.catalyst.InternalRow
    })
    org.apache.spark.sql.graft.Bridge.internalCreateDataFrame(spark, rows,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("comp", org.apache.spark.sql.types.LongType, nullable = false))))
  }

  /** Spec observability seam: (workingPairs, totalPairs) of the most
    * recent RDD stitch loop run on THIS thread — workingPairs counts the
    * fused round-pairs whose label sum CHANGED (the propagation the q78
    * chain oracle exists to force; its geometry claim is that ≥2 such
    * pairs run, i.e. labels flow BETWEEN pairs), totalPairs includes the
    * final convergence-detect pair. (-1, -1) = the loop did not run in
    * the last [[connectedComponents]] call (zero root edges, or the
    * single-task union-find branch). Thread-local because test suites
    * share one JVM in parallel; the loop's actions run synchronously on
    * the calling thread, so the value is complete when the call returns. */
  private[graft] val lastStitchLoopStats: ThreadLocal[(Int, Int)] =
    ThreadLocal.withInitial(() => (-1, -1))

  /** Min-label + path-halving fixpoint over a symmetrized,
    * `part`-partitioned, persisted edge RDD — the iterative half of the
    * contraction strategy, run only on the contracted root graph. The
    * edge set is NEVER re-shuffled: each round's message join is narrow
    * on both sides (edges and labels share `part`), and only
    * vertex-sized message/label streams move (the message reduce is
    * map-side combined). Rounds run in fused pairs with the monotone
    * label-sum convergence scalar, per-pair lineage truncation
    * (localCheckpoint, or reliable `checkpoint` + round pruning), and
    * nothing reaches the driver but the scalar. Returns truncated,
    * materialized (id, comp) labels partitioned by `part`. */
  private def minLabelLoopRdd(
      symE: org.apache.spark.rdd.RDD[(Long, Long)],
      part: org.apache.spark.Partitioner, maxIter: Int,
      reliableDir: Option[String]): org.apache.spark.rdd.RDD[(Long, Long)] = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    import org.apache.spark.rdd.RDD
    val sc = symE.sparkContext
    val reliable = reliableDir.isDefined
    def truncate(r: RDD[(Long, Long)]): Unit = {
      r.persist(MEMORY_AND_DISK)
      if (reliable) r.checkpoint() else r.localCheckpoint()
    }
    // exact Long sum (RDD.sum() goes through Double)
    def labelSum(r: RDD[(Long, Long)]): Long =
      r.aggregate(0L)((a, kv) => a + kv._2, _ + _)
    // initial label = min(id, min neighbor): round 1 from identity
    // labels for the cost of one NARROW combine (symE is pre-partitioned)
    var labels: RDD[(Long, Long)] = symE.reduceByKey(part, math.min(_: Long, _: Long))
      .mapPartitions(
        _.map { case (v, mn) => (v, math.min(v, mn)) },
        preservesPartitioning = true)
    truncate(labels)
    // The initial labels' sum (the convergence reference) is NOT its own
    // action: the first fused round-pair computes it in the SAME job as
    // its own sum via zipPartitions — both RDDs share `part`, the initial
    // labels materialize (and truncate) inside that job exactly as they
    // did under a separate labelSum, and one scheduler round-trip per
    // loop invocation disappears (guide §1: actions never share jobs, so
    // merge the aggregates into one action). prevSum = None means "first
    // pair: fetch both sums".
    var prevSum: Option[Long] = None
    // one round as a PLAN; `cur` must be part-partitioned and persisted
    // (it is referenced by both the message join and the halving join)
    def round(cur: RDD[(Long, Long)]): (RDD[(Long, Long)], RDD[_]) = {
      val inbox = symE.join(cur, part) // narrow on BOTH sides
        .map { case (_, (dst, comp)) => (dst, comp) }
        .reduceByKey(part, math.min(_: Long, _: Long)) // map-side combined: vertex-sized exchange
      val prop = cur.leftOuterJoin(inbox, part) // narrow (inbox shares part)
        .mapValues { case (own, in) => math.min(own, in.getOrElse(own)) }
      prop.persist(MEMORY_AND_DISK) // referenced twice by the jump below
      // path halving: comp ← label(comp). Labels are vertex ids, so the
      // lookup hits; min travels 2^i hops by round i.
      val jumped = prop.map { case (id, comp) => (comp, id) }
        .leftOuterJoin(prop, part)
        .map { case (comp, (id, cc)) => (id, cc.getOrElse(comp)) }
        .partitionBy(part)
      (jumped, prop)
    }
    var converged = false
    var i = 0
    var workingPairs = 0
    var totalPairs = 0
    val dbg = sys.env.contains("GRAFT_CC_DEBUG")
    while (!converged && i < maxIter) {
      // fused pair: labels only ever decrease, so checking convergence
      // after a round-PAIR is safe and halves the scheduled-job count
      val steps = math.min(2, maxIter - i)
      val (mid, midTmp) =
        if (steps == 2) {
          val (m, t) = round(labels)
          m.persist(MEMORY_AND_DISK) // referenced twice by the outer round
          (m, Seq[RDD[_]](t))
        } else (labels, Seq.empty[RDD[_]])
      val (next, nextTmp) = round(mid)
      truncate(next)
      // the pair's ONE action (reliable mode also writes next's
      // checkpoint files right after it, before unpersists); the FIRST
      // pair's action additionally folds in the initial labels' sum
      val (s, ref) = prevSum match {
        case Some(p) => (labelSum(next), p)
        case None =>
          val sums = next.zipPartitions(labels) { (itN, itL) =>
            var a = 0L; var b = 0L
            itN.foreach(a += _._2); itL.foreach(b += _._2)
            Iterator((a, b))
          }.fold((0L, 0L))((x, y) => (x._1 + y._1, x._2 + y._2))
          (sums._1, sums._2)
      }
      val prev = labels
      labels = next
      if (steps == 2) mid.unpersist(blocking = false)
      (midTmp :+ nextTmp).foreach(_.unpersist(blocking = false))
      prev.unpersist(blocking = false)
      reliableDir.foreach(pruneCheckpoints(sc, _))
      converged = s == ref
      totalPairs += 1
      if (!converged) workingPairs += 1
      prevSum = Some(s)
      i += steps
      if (dbg) println(s"[cc] rdd round $i sum=$s")
    }
    lastStitchLoopStats.set((workingPairs, totalPairs))
    labels
  }
}
