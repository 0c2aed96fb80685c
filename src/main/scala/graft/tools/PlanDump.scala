package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

/** Dump `.explain("formatted")` for registered queries to one file per
  * query — the committed before/after plan evidence for optimization
  * rounds (plans/rNN/<query>_<suffix>.txt).
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <suffix> [queryName ...]
  * (no names = every registered query). Builds its session with
  * [[BenchUtil.session]], the factory [[graft.Bench]] uses, and reads the
  * sf dir from SPARK_GRAFT_SF_DIR, so the dumped plan is the plan the
  * bench times, not a differently-configured twin. Plans are the PRE-execution form (AdaptiveSparkPlan
  * isFinalPlan=false where AQE applies): deterministic, diffable, and
  * the form `explain` shows a reader; runtime re-optimizations (AQE
  * coalescing, join rewrites) are called out in OPTIMIZATION notes where
  * they matter.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <outDir> <suffix> [queryName ...]")
    val outDir = Paths.get(args(0))
    val suffix = args(1)
    Files.createDirectories(outDir)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = BenchUtil.session()
    val names =
      if (args.length > 2) args.drop(2).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(FormattedMode)
      Files.writeString(outDir.resolve(s"${name}_$suffix.txt"), plan)
      println(s"wrote $name ${plan.linesIterator.size} lines")
    }
    spark.stop()
  }
}
