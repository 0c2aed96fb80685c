package graft.tools

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, TextAnalysis}

/** Standalone A/B harness for the exact-dedup APPLY shape — the two ways
  * to keep one canonical per content-hash group:
  *
  *   - `anti`: corpus LEFT ANTI JOIN [[Dedup.exactDropList]] — the
  *     output-bounded form. The drop-list is duplicate-sized, so AQE
  *     broadcasts it and the corpus text never shuffles; the only
  *     exchange is the drop-list's own slim (id, md5) window pass.
  *   - `semi`: corpus LEFT SEMI JOIN [[Dedup.exactGroups]]' canonical
  *     ids — the r9 CurationBench shape. The keep list is corpus-sized
  *     minus duplicates (never broadcastable), so the join exchanges the
  *     FULL corpus text by doc_id.
  *
  * Same-session interleaving, like SpanBench: cross-session wall
  * comparisons on this host are meaningless (the I/O band moves 5-10×),
  * so both legs run against one materialized corpus in one JVM. The
  * corpus approximates stage 04's ACTUAL input — [[CurationBench.synth]]
  * minus the junk the quality gate removes (by planting arithmetic),
  * markup-stripped and PII-scrubbed, WITH the planted exact copies
  * (stage 04 is what removes them). Survivor counts must match across
  * legs and runs — a mismatch aborts.
  *
  * Usage: runMain graft.tools.ExactDedupBench [nDocs] [runs]
  */
object ExactDedupBench {

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(10000000L)
    val runs = args.drop(1).headOption.map(_.toInt).getOrElse(2)

    val root = "/tmp/graft_exactdedup_bench"
    println(IoProbe.row("pre", root))
    val spark = BenchUtil.session(
      "spark.sql.shuffle.partitions" -> "64",
      "spark.local.dir" -> "/tmp/graft_exactdedup_scratch",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "128m")
    BenchUtil.enableOperatorInfoLogs()
    import spark.implicits._
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)

    val corpusPath = new Path(s"$root/corpus_$n")
    if (fs.exists(corpusPath) && !fs.exists(new Path(corpusPath, "_SUCCESS")))
      fs.delete(corpusPath, true)
    if (!fs.exists(corpusPath)) {
      CurationBench.synth(spark, n)
        .filter(pmod($"doc_id", lit(37)) =!= 7) // junk the gate removes
        .withColumn("text", TextAnalysis.htmlText($"text"))
        .withColumn("text", graft.operators.Pii.scrub($"text"))
        .write.parquet(corpusPath.toString)
    }
    val corpus = spark.read.parquet(corpusPath.toString)

    var expectRows = -1L
    val best = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    for (leg <- Seq("anti", "antiagg", "semi"); run <- 0 until runs) {
      spark.catalog.clearCache()
      // delete the previous run's multi-GB output OUTSIDE the timed
      // window — the first run would otherwise be the only one not
      // charged for cleanup I/O
      fs.delete(new Path(s"$root/out"), true)
      val t0 = System.nanoTime()
      val out = leg match {
        case "anti" => corpus.join(
          Dedup.exactDropList(corpus, $"text", $"doc_id").select("doc_id"),
          Seq("doc_id"), "left_anti")
        case "antiagg" =>
          // the aggregate spelling of the drop list: no sort, but a
          // SECOND full text scan to name the losers — vs the operator's
          // window spelling, which scans the text once and sorts only
          // the slim (id, md5) projection
          val hashes = corpus.select($"doc_id", md5($"text").as("h"))
          val dups = hashes.groupBy($"h")
            .agg(min($"doc_id").as("c"), count(lit(1)).as("n"))
            .filter($"n" >= 2).select($"h", $"c")
          val drops = hashes.join(dups, Seq("h"))
            .filter($"doc_id" =!= $"c").select("doc_id")
          corpus.join(drops, Seq("doc_id"), "left_anti")
        case "semi" => corpus.join(
          Dedup.exactGroups(corpus, $"text", $"doc_id")
            .select($"canonical_id".as("doc_id")),
          Seq("doc_id"), "left_semi")
      }
      out.write.parquet(s"$root/out")
      val sec = (System.nanoTime() - t0) / 1e9
      val rows = spark.read.parquet(s"$root/out").count()
      if (expectRows < 0) expectRows = rows
      require(rows == expectRows, s"$leg run $run: $rows rows, expected $expectRows")
      best(leg) = math.min(best.getOrElse(leg, Double.MaxValue), sec)
      println(f"""{"leg":"$leg","run":$run,"sec":$sec%.2f,"rows_out":$rows}""")
    }
    val legsJson = best.map { case (k, v) => f""""$k":$v%.2f""" }.mkString("{", ",", "}")
    println(s"""{"metric":"exact_dedup_bench","n_docs":$n,"runs":$runs,"best_sec":$legsJson}""")
    println(IoProbe.row("post", root))
    fs.delete(new Path(s"$root/out"), true)
    spark.stop()
  }
}
