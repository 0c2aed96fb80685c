package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession across all suites (sbt runs suites in one
  * JVM; re-creating sessions dominates test wall-clock otherwise), built
  * by the mains' factory on 4 cores, so specs run the contract settings.
  */
object SparkSpec {
  lazy val spark: SparkSession =
    graft.tools.BenchUtil.session(4, "spark.app.name" -> "graft-test")
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  def sfDir: String = SparkSpec.sfDir
}
