package graft.tools

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd}

/** Where does a bench query's time actually go? For each named query this
  * splits one steady-state (post-warmup) execution into
  *
  *   - build: the `fn(spark, dir)` call — DataFrame construction, which
  *     includes parquet footer/schema reads and analysis of every operator
  *     the builder composes;
  *   - plan:  forcing `queryExecution.executedPlan` — optimization and
  *     physical planning (pre-AQE);
  *   - exec:  the `.count()` action, with the number of Spark jobs the
  *     action schedules (multi-job operators — AQE stages, checkpoint
  *     rounds, eager subqueries — pay per-job scheduler latency that no
  *     plan node shows).
  *
  * All three phases land inside Bench's timed region, so their split is
  * the optimization map for the suite. Usage:
  *   runMain graft.tools.QueryProfile [queryName ...]   (default: all)
  * Env: SPARK_GRAFT_SF_DIR; the session is Bench's ([[BenchUtil.session]]).
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = BenchUtil.session()
    val jobs = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobEnd(je: SparkListenerJobEnd): Unit = { jobs.incrementAndGet(); () }
    })
    val names =
      if (args.nonEmpty) args.toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    println("query,build_ms,plan_ms,exec_ms,total_ms,build_jobs,exec_jobs")
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      fn(spark, sfDir).count() // warmup (codegen, page cache)
      // measured pass: min over 2 to shave host noise, jobs from the last
      var best = (Double.MaxValue, 0.0, 0.0, 0, 0)
      (1 to 2).foreach { _ =>
        Thread.sleep(60) // let prior async job-end events drain
        jobs.set(0)
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        Thread.sleep(60) // build jobs = the operator's eager actions
        val buildJobs = jobs.get()
        df.queryExecution.executedPlan // force optimization + physical planning
        val t2 = System.nanoTime()
        Thread.sleep(60)
        jobs.set(0)
        df.count()
        val t3 = System.nanoTime()
        Thread.sleep(60)
        val total = (t3 - t0) / 1e6
        if (total < best._1 + best._2 + best._3)
          best = ((t1 - t0) / 1e6, (t2 - t1) / 1e6, (t3 - t2) / 1e6, buildJobs, jobs.get())
      }
      val (b, p, e, bj, j) = best
      println(f"$name,${b}%.1f,${p}%.1f,${e}%.1f,${b + p + e}%.1f,$bj,$j")
    }
    spark.stop()
  }
}
