package graft.tools

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._

/** Generate a LARGE testdata-layout dataset dir for the bench's
  * core-scaling leg (OPTIMIZATION_r15): the sf0.1 fixture is per-action
  * overhead-bound (~70 % fixed stage cost), so 8-core vs 32-core ratios
  * read ≈ 1 for almost every query and the driver's scaling probe cannot
  * distinguish parallel plans from serial ones. This writes a
  * `documents.parquet` + `embeddings.parquet` pair big enough that
  * compute dominates, in the EXACT schema of `/root/testdata/sf*`
  * (doc_id, text, lang, source, n_chars / vec_id, embedding, label), so
  * the UNMODIFIED Bench contract runs on it via `SPARK_GRAFT_SF_DIR` +
  * `SPARK_GRAFT_BENCH_FILTER` — the scaling evidence measures the real
  * query plans, not a twin harness.
  *
  * Documents reuse [[CurationBench.synth]] (the 10M-doc curation corpus:
  * planted exact/near copies, span groups, markup, PII — real work for
  * every dedup/contamination stage) plus the fixture's `lang` column.
  * Embeddings are deterministic 64-dim unit vectors (expression-only, no
  * driver loops); every 50th vector duplicates its predecessor so the
  * semantic-dedup pair graph has real edges.
  *
  * Usage: runMain graft.tools.GenScaleData [outDir] [nDocs] [nVecs]
  * Defaults: /tmp/graft_scale/sf2m 2000000 16384. Idempotent per dir via
  * the _SUCCESS marker (same contract as LshBench's corpus).
  */
object GenScaleData {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/graft_scale/sf2m")
    val nDocs = args.drop(1).headOption.map(_.toLong).getOrElse(2000000L)
    val nVecs = args.drop(2).headOption.map(_.toLong).getOrElse(16384L)
    val dim = 64 // the fixture embeddings' dimensionality
    val spark = BenchUtil.session("spark.sql.shuffle.partitions" -> "32")
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)

    def writeOnce(name: String)(gen: => org.apache.spark.sql.DataFrame): Unit = {
      val p = new Path(s"$outDir/$name.parquet")
      if (fs.exists(p) && !fs.exists(new Path(p, "_SUCCESS"))) fs.delete(p, true)
      if (!fs.exists(p)) {
        val t0 = System.nanoTime()
        gen.write.parquet(p.toString)
        println(f"[gen] wrote $p in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      } else println(s"[gen] $p exists, kept")
    }

    writeOnce("documents") {
      CurationBench.synth(spark, nDocs)
        // the fixture's lang column (synth's French share is pmod 5 too)
        .withColumn("lang",
          when(pmod(col("doc_id"), lit(5)) === 0, lit("fr")).otherwise(lit("en")))
        .select("doc_id", "text", "lang", "source", "n_chars")
    }
    writeOnce("embeddings") {
      // every 50th vector copies its predecessor: planted duplicate pairs
      // (cosine 1.0) so q39/q80-style component mining has real edges;
      // everything else is an iid-ish unit vector (cosines ~N(0, 1/64),
      // none near the τ thresholds — the hard case for cell-local mining)
      val base = when(pmod(col("id"), lit(50)) === 1, col("id") - 1).otherwise(col("id"))
      spark.range(0, nVecs)
        .withColumn("__b", base)
        .withColumn("__raw",
          expr(s"transform(sequence(0, ${dim - 1}), i -> cast(hash(__b, i) as double))"))
        .withColumn("__norm", expr("sqrt(aggregate(__raw, 0.0d, (a, x) -> a + x * x))"))
        .select(col("id").as("vec_id"),
          expr("transform(__raw, x -> cast(x / __norm as float))").as("embedding"),
          pmod(col("id"), lit(16)).cast("int").as("label"))
    }
    println(s"""{"metric":"gen_scale_data","dir":"$outDir","n_docs":$nDocs,"n_vecs":$nVecs}""")
    spark.stop()
  }
}
