package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark runtime counters summed over every task, stage and job since the
  * last [[reset]]. Registered only in traced runs. */
final class TaskCounters extends SparkListener {
  private val sums = mutable.LinkedHashMap.empty[String, Double]
  private var peakExecMem = 0L

  private def add(k: String, v: Double): Unit = sums(k) = sums.getOrElse(k, 0.0) + v

  def reset(): Unit = synchronized { sums.clear(); peakExecMem = 0L }

  def snapshot(): Map[String, Double] = synchronized {
    Seq("jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes",
      "spill_bytes", "input_bytes", "output_bytes", "executor_run_ms",
      "executor_cpu_ms", "gc_ms").map(k => k -> sums.getOrElse(k, 0.0)).toMap +
      ("peak_exec_mem_bytes" -> peakExecMem.toDouble)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { add("jobs", 1) }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { add("stages", 1) }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add("input_bytes", m.inputMetrics.bytesRead.toDouble)
      add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
      add("executor_run_ms", m.executorRunTime.toDouble)
      add("executor_cpu_ms", m.executorCpuTime / 1e6)
      add("gc_ms", m.jvmGCTime.toDouble)
      peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
    }
  }
}

/** Per query execution: planning time from the QueryPlanningTracker, the
  * exchanges and broadcasts of the final (adaptive) plan, and the wall time
  * of every parquet sink keyed by its directory name. */
final class PlanCounters extends QueryExecutionListener {
  private var planMs = 0.0
  private var exchanges = 0L
  private var broadcasts = 0L
  private val sinks = mutable.LinkedHashMap.empty[String, Double]

  def reset(): Unit = synchronized {
    planMs = 0.0; exchanges = 0L; broadcasts = 0L; sinks.clear()
  }

  def snapshot(): Map[String, Double] = synchronized {
    Map("plan_ms" -> planMs, "exchanges" -> exchanges.toDouble, "broadcasts" -> broadcasts.toDouble)
  }

  def sinkMs: Map[String, Double] = synchronized(sinks.toMap)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val plan = Seq("analysis", "optimization", "planning").flatMap(phases.get).map(_.durationMs).sum
    val nodes = PlanCounters.finalNodes(qe.executedPlan).toSeq
    synchronized {
      planMs += plan
      exchanges += nodes.count(_.isInstanceOf[ShuffleExchangeLike])
      broadcasts += nodes.count(_.isInstanceOf[BroadcastExchangeLike])
      qe.analyzed match {
        case w: InsertIntoHadoopFsRelationCommand =>
          val name = w.outputPath.getName
          sinks(name) = sinks.getOrElse(name, 0.0) + durationNs / 1e6
        case _ =>
      }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object PlanCounters {
  /** Every node of the plan as it finally ran: adaptive plans are read
    * through their current (final) physical plan and query stages through
    * the stage's plan. A reused exchange is a leaf, so it is not counted
    * again. */
  def finalNodes(p: SparkPlan): Iterator[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => finalNodes(a.executedPlan)
    case q: QueryStageExec => finalNodes(q.plan)
    case _ => Iterator.single(p) ++ p.children.iterator.flatMap(finalNodes)
  }
}

/** In-memory spans (name, start, end, parent), written out when the run
  * ends; a span's self time is its duration minus its children's. */
final class Tracer {
  final case class Span(id: Int, name: String, parent: Int, start: Long, var end: Long)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]

  def apply[T](name: String)(f: => T): T = {
    val s = Span(spans.size, name, stack.headOption.getOrElse(-1), System.nanoTime(), 0L)
    spans += s
    stack = s.id :: stack
    try f finally { s.end = System.nanoTime(); stack = stack.tail }
  }

  /** Duration in ms of every span called `name`, in order. */
  def ms(name: String): Seq[Double] = spans.toSeq.filter(_.name == name).map(s => (s.end - s.start) / 1e6)

  def toJson: String = spans.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"start_ns":${s.start},"end_ns":${s.end}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
