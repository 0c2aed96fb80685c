package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.Components

/** Scale harness for [[Components.connectedComponents]]' DISTRIBUTED
  * min-label path — the code path a >10M-edge dup graph takes on a real
  * cluster, which the specs pin for correctness but (until this tool)
  * nothing measured at representative size.
  *
  * The graph is a disjoint union of CHAINS of length `chainLen`
  * (default 100) built from `spark.range`: nEdges = nChains·(L−1), and
  * every vertex's true component id is the chain head, so the result is
  * verified exactly (`mismatches` must print 0). Chains are the
  * adversarial diameter shape for label propagation — a star converges
  * in one round; a length-100 chain needs the path-halving jumps to
  * close in O(log L) rounds instead of 100 — so this measures the
  * worst realistic round count, not a flattering graph.
  *
  * Usage: runMain graft.tools.ComponentsBench [nEdges] [runs] [chainLen]
  * Legs: `dist` / `distforce` (the contraction at the default / zero
  * threshold) and, for the crossover comparison, `local1task`
  * (threshold=∞ — the single-task union-find streaming the raw edge
  * list).
  */
object ComponentsBench {

  def main(args: Array[String]): Unit = {
    val nEdges = args.headOption.map(_.toLong).getOrElse(30000000L)
    val runs = args.drop(1).headOption.map(_.toInt).getOrElse(2)
    val chainLen = args.drop(2).headOption.map(_.toInt).getOrElse(100)
    require(chainLen >= 2, s"chainLen=$chainLen: a chain needs at least one edge")

    println(IoProbe.row("pre", "/tmp/graft_cc_scratch"))
    val spark = BenchUtil.session(
      "spark.sql.shuffle.partitions" -> "64",
      "spark.local.dir" -> "/tmp/graft_cc_scratch")
    BenchUtil.enableOperatorInfoLogs()

    val perChain = (chainLen - 1).toLong
    val nChains = nEdges / perChain
    // report the graph actually built: nEdges rounds DOWN to a multiple
    // of (chainLen−1)
    val actualEdges = nChains * perChain
    val nVerts = nChains * chainLen
    // edge e lives in chain e/(L-1) at offset e%(L-1): (head+j, head+j+1)
    val edges = spark.range(0, nChains * perChain).select(
      ((col("id") / perChain).cast("long") * chainLen +
        pmod(col("id"), lit(perChain))).as("src"))
      .withColumn("dst", col("src") + 1)
    val vertices = spark.range(0, nVerts).select(col("id"))

    // the default-threshold leg is only meaningful when the graph is
    // actually above the library default — fail BEFORE the warmup jobs
    require(2 * actualEdges > Components.DefaultLocalEdgeThreshold,
      s"nEdges=$actualEdges: the 'dist' leg needs 2·edges > " +
        s"${Components.DefaultLocalEdgeThreshold} to exercise the distributed default")

    // warm the JVM once per timed code path on a small graph before any
    // timed leg: (contract, stitch loop), (contract, stitch UF — the
    // default-threshold 'dist' branch), (single-task). This covers
    // codegen/JIT but NOT the first big leg's one-time host costs
    // (multi-GB shuffle-file page-cache population, heap arena growth) —
    // measured ~70-100 s on whichever 30M-edge leg runs FIRST, with the
    // same leg's second run landing at steady state — so compare legs by
    // min over runs >= 2, never by a single first run
    val wEdges = spark.range(0, 100000).select(col("id").as("src"))
      .withColumn("dst", col("src") + 1)
    val wVerts = spark.range(0, 100001).select(col("id"))
    for (threshold <- Seq(0L, 150000L, Long.MaxValue))
      Components.connectedComponents(
        wVerts, wEdges, maxIter = 40, localEdgeThreshold = threshold).count()

    val best = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // dist = the distributed path at the default 10M-edge
    // threshold (two-level contraction; the stitched root graph fits the
    // threshold and collapses into the single-task union-find — the path
    // a real >10M-edge dup graph takes); distforce = same contraction
    // but threshold 0, so the stitched root graph ALSO runs the
    // partitioner-aware min-label loop (measures the loop itself);
    // local1task = the single-task union-find crossover reference.
    for (leg <- Seq("dist", "distforce", "local1task"); run <- 0 until runs) {
      val threshold = leg match {
        case "local1task" => Long.MaxValue
        case "dist" => Components.DefaultLocalEdgeThreshold
        case _ => 0L
      }
      val t0 = System.nanoTime()
      val labels = Components.connectedComponents(
        vertices, edges, maxIter = 40, localEdgeThreshold = threshold)
      // one action: materialize labels AND verify every vertex landed on
      // its chain head — a wrong distributed round can't hide in a wall
      val bad = labels.filter(
        col("component_id") =!= (col("id") - pmod(col("id"), lit(chainLen.toLong))))
        .count()
      val sec = (System.nanoTime() - t0) / 1e9
      require(bad == 0L, s"$leg produced $bad wrong labels")
      best(leg) = math.min(best.getOrElse(leg, Double.MaxValue), sec)
      println(f"""{"leg":"$leg","run":$run,"sec":$sec%.2f,"edges":$actualEdges,"verts":$nVerts,"mismatches":$bad}""")
    }
    val legsJson = best.map { case (k, v) => f""""$k":$v%.2f""" }.mkString("{", ",", "}")
    println(s"""{"metric":"components_bench","edges":$actualEdges,"chain_len":$chainLen,"best_sec":$legsJson}""")
    println(IoProbe.row("post", "/tmp/graft_cc_scratch"))
    spark.stop()
  }
}
