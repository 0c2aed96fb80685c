package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SizeGateSpec extends SparkSpec {
  import spark.implicits._

  private def withConf[A](key: String, v: String)(body: => A): A = {
    spark.conf.set(key, v)
    try body finally spark.conf.unset(key)
  }

  /** `body` under `key = v` fails naming the key and the value, not as a
    * bare `NumberFormatException`. */
  private def assertFailsNaming(key: String, v: String)(body: => Any): Unit = {
    val e = withConf(key, v)(intercept[IllegalArgumentException](body))
    assert(!e.isInstanceOf[NumberFormatException], e.toString)
    assert(e.getMessage.contains(key) && e.getMessage.contains(s"'$v'"), e.getMessage)
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
    assertFailsNaming(TextAnalysis.LmBroadcastGateMinBytesKey, "128m") {
      TextAnalysis.bigramLmScore(docs, col("doc_id"), col("text"), lm)
    }
  }

  private def spans() = {
    val docs = Seq((1L, "a b c d e"), (2L, "x a b c d")).toDF("doc_id", "text")
    Dedup.duplicateSpans(docs, col("doc_id"), col("text"), 3)
  }

  test("a malformed spark.graft.spans.sketchMaxBytes fails naming its key") {
    assertFailsNaming(Dedup.SketchMaxBytesKey, "1g")(spans())
  }

  test("a malformed spark.graft.spans.sketchMinSizingRatio fails naming its key") {
    assertFailsNaming(Dedup.SketchMinSizingRatioKey, "a quarter")(spans())
  }
}
