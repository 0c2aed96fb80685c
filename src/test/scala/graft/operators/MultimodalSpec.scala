package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("extractMeta: partition-batched stub decode over binary payloads") {
    val docs = Seq((1L, "hello"), (2L, ""), (3L, "a longer payload here")).toDF("doc_id", "text")
    val media = Multimodal.fromText(spark, docs, "doc_id", "text", "utf8")
    val got = Multimodal.extractMeta(media, Multimodal.StubDecoder)
      .collect().map(m => (m.id, m.byte_len, m.width, m.height, m.format)).toSet
    assert(got == Set(
      (1L, 5L, 6, 6, "utf8"),
      (2L, 0L, 1, 1, "utf8"),
      (3L, 21L, 22, 22, "utf8")))
  }

  test("decoder is pluggable without changing the plan shape") {
    val docs = Seq((1L, "xyz")).toDF("doc_id", "text")
    val media = Multimodal.fromText(spark, docs, "doc_id", "text", "png")
    val custom = new Multimodal.MediaDecoder {
      def dimensions(content: Array[Byte]): (Int, Int) = (640, 480)
    }
    val m = Multimodal.extractMeta(media, custom).head()
    assert((m.width, m.height, m.format) == ((640, 480, "png")))
  }

  test("sampleFrames: k evenly-spread byte offsets per payload") {
    val df = Seq((7L, "0123456789ab")).toDF("doc_id", "text") // 12 bytes
      .select(col("doc_id"), col("text").cast("binary").as("content"))
    val got = Multimodal.sampleFrames(df, "doc_id", "content", k = 4)
      .as[(Long, Int, Long)].collect().toSet
    assert(got == Set((7L, 0, 0L), (7L, 1, 3L), (7L, 2, 6L), (7L, 3, 9L)))
  }

  test("extractFeatures: deterministic stub components, empty-safe") {
    val media = Multimodal.fromText(spark,
      Seq((1L, "ab"), (2L, "")).toDF("doc_id", "text"), "doc_id", "text", "utf8")
    val got = Multimodal.extractFeatures(media, Multimodal.StubFeaturizer(3))
      .collect().map(f => f.id -> f.embedding.toSeq).toMap
    // component j of "ab": ((j+1)*31 + 'a')*31 + 'b' mod 1e9+7, mod 1000
    def f(j: Int): Float = (((((j + 1).toLong * 31 + 97) % 1000000007L) * 31 + 98) % 1000000007L % 1000L).toFloat
    assert(got(1L) == Seq(f(0), f(1), f(2)))
    assert(got(2L) == Seq(1f, 2f, 3f)) // empty payload: seed alone
  }

  test("decoder fuzz (property): arbitrary bytes never throw from ANY decode entry point") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // crawl media is routinely corrupt: every entry point must absorb
    // garbage as a well-formed result, not a task-killing exception.
    // Magic-prefixed payloads stand in for real containers' headers.
    val magics: Seq[Array[Byte]] = Seq(
      "fLaC", "RIFF", "OggS", "ID3", "GIF89a", "BM", "FORM", ".snd",
      "RIFF\u0010\u0000\u0000\u0000AVI LIST", "RIFFÿÿÿÿAVI "
    ).map(_.getBytes("ISO-8859-1")) ++ Seq(
      Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte),
      Array(0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xE1.toByte), // JPEG + APP1
      Array(0xFF.toByte, 0xFB.toByte), // MP3 frame sync
      Array[Byte](0, 0, 0, 24, 'f', 't', 'y', 'p')) // MP4 box
    val junk = Gen.listOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue)).map(_.toArray)
    val payload: Gen[Array[Byte]] = Gen.oneOf(
      junk,
      for { m <- Gen.oneOf(magics); j <- junk } yield m ++ j,
      Gen.const(Array.empty[Byte]))
    val prop = Prop.forAll(payload, Gen.choose(1, 8)) { (b: Array[Byte], k: Int) =>
      val (w, h) = Multimodal.StubDecoder.dimensions(b)
      val feats = Multimodal.StubFeaturizer(8).features(b)
      val media = Seq(Multimodal.MediaRow(1L, b, "bin")).toDS()
      val metas = Multimodal.extractMeta(media, Multimodal.StubDecoder).collect()
      val rows = Multimodal.extractFeatures(media, Multimodal.StubFeaturizer(8)).collect()
      val frames = Multimodal.sampleFrames(
        Seq((1L, b)).toDF("id", "content"), "id", "content", k).as[(Long, Int, Long)].collect()
      w >= 0 && h >= 0 &&
        feats.length == 8 && feats.forall(f => f >= 0f && f < 1000f) && // NaN and ±Inf fail too
        metas.length == 1 && rows.length == 1 &&
        frames.length == k && frames.forall { case (_, _, off) => off >= 0L && off <= b.length }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(res.passed, res.status.toString)
  }
}
