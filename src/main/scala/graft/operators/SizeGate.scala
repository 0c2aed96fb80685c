package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one size gate: an operator that picks a small-input or a
  * large-input branch reads its input's size with [[estimate]] and
  * compares a byte count with its `spark.graft.*` threshold through
  * [[fits]], so every gate parses its setting and fails on a malformed
  * one the same way. */
object SizeGate {

  /** The optimizer's size estimate of `df`'s plan, in bytes: an upper
    * bound that inflates through joins, and Spark's
    * `spark.sql.defaultSizeInBytes` sentinel on a plan it cannot size. */
  def estimate(df: DataFrame): BigInt = df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** The byte threshold `key` holds in `spark`'s session, `default` when
    * unset; a value that is not a plain byte count fails naming `key`. */
  def threshold(spark: SparkSession, key: String, default: Long): Long = {
    val v = spark.sessionState.conf.getConfString(key, default.toString)
    try v.toLong
    catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"$key must be a plain byte count (no size suffixes), got '$v'")
    }
  }

  /** `bytes` ≤ the threshold `key` holds: the small-input side. */
  def fits(spark: SparkSession, bytes: BigInt, key: String, default: Long): Boolean =
    bytes <= BigInt(threshold(spark, key, default))
}
