package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SizeGateSpec extends SparkSpec {
  import spark.implicits._

  private def withConf[A](key: String, v: String)(body: => A): A = {
    spark.conf.set(key, v)
    try body finally spark.conf.unset(key)
  }

  test("fits: a byte count at or under the threshold fits; the default holds while unset") {
    val key = TextAnalysis.LmBroadcastGateMinBytesKey
    assert(SizeGate.fits(spark, 10, key, 10))
    assert(!SizeGate.fits(spark, 11, key, 10))
    withConf(key, "11")(assert(SizeGate.fits(spark, 11, key, 10)))
  }

  test("a malformed gate setting fails naming its key, not as a bare NumberFormatException") {
    val docs = Seq((1L, "a b c a b"), (2L, "a b d")).toDF("doc_id", "text")
    val lm = TextAnalysis.bigramLm(docs, col("text"))
    val key = TextAnalysis.LmBroadcastGateMinBytesKey
    val e = withConf(key, "128m") {
      intercept[IllegalArgumentException](
        TextAnalysis.bigramLmScore(docs, col("doc_id"), col("text"), lm))
    }
    assert(!e.isInstanceOf[NumberFormatException], e.toString)
    assert(e.getMessage.contains(key) && e.getMessage.contains("'128m'"), e.getMessage)
  }
}
