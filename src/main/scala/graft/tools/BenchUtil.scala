package graft.tools

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** Plumbing shared by the mains — one definition for the pieces that
  * would otherwise drift across their copies. */
object BenchUtil {

  /** Core count of [[session]] when the caller names none:
    * `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  private def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The one session factory of the mains and the test suites' shared
    * session. Contract settings: `local[cpus]` (only when `spark.master`
    * is not configured, so `spark-submit --master` and `-Dspark.master`
    * win), `cpus` shuffle partitions, AQE with partition coalescing, UTC,
    * parquet TIMESTAMP(NANOS) read as BIGINT ns (events.ts), no UI, WARN
    * logging. A tool's own settings come in as `overrides`, applied after
    * the contract ones. */
  def session(cpus: Int, overrides: (String, String)*): SparkSession = {
    val builder = SparkSession.builder().config(Map(
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false") ++ overrides)
    if (!new SparkConf().contains("spark.master")) builder.master(s"local[$cpus]")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** [[session]] on [[defaultCpus]] cores. */
  def session(overrides: (String, String)*): SparkSession =
    session(defaultCpus, overrides: _*)

  /** Keep graft's own INFO sizing/decision lines (sketch load factor,
    * stitch-edge counts) visible under the WARN root the benches set,
    * so a bench log carries the numbers its walls depend on. */
  def enableOperatorInfoLogs(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "graft", org.apache.logging.log4j.Level.INFO)

  /** JSON string escape (without the surrounding quotes) for the
    * one-line-JSON outputs: backslash, quote, and every control character
    * below 0x20 — one stray control character in a path, callsite or
    * message would otherwise make the whole line unparseable. */
  def jsonEscape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
}
