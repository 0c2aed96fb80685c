package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.internal.SQLConf

/** The one size gate: an operator that picks a small-input or a
  * large-input branch reads its input's size with [[estimate]] and
  * compares a byte count with its `spark.graft.*` threshold through
  * [[fits]]. [[threshold]] also parses the numeric `spark.graft.*`
  * settings that are not gates, so a malformed one fails the same way. */
object SizeGate {

  /** The optimizer's size estimate of `df`'s plan, in bytes: an upper
    * bound that inflates through joins, and Spark's
    * `spark.sql.defaultSizeInBytes` sentinel on a plan it cannot size. */
  def estimate(df: DataFrame): BigInt = df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** The number `key` holds in `conf`, `default` when unset: a byte
    * threshold, or any other numeric setting, parsed as `default`'s type
    * (Long, Int or Double). A value that does not parse as that type fails
    * naming `key`, not as a bare `NumberFormatException`. */
  def threshold[N](conf: SQLConf, key: String, default: N)(implicit num: Numeric[N]): N = {
    val v = conf.getConfString(key, default.toString)
    num.parseString(v).getOrElse(throw new IllegalArgumentException(
      s"$key must be a plain number like its default $default (no size suffixes), got '$v'"))
  }

  /** `bytes` ≤ the threshold `key` holds: the small-input side. */
  def fits(spark: SparkSession, bytes: BigInt, key: String, default: Long): Boolean =
    bytes <= BigInt(threshold(spark.sessionState.conf, key, default))
}
