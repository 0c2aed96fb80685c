package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (builder prompt): image/audio/video travel as
  * opaque `binary` columns with typed metadata; decode / feature-extract /
  * frame-sample run as partition-batched functions over the binary payload
  * (the Scala analog of `mapInPandas` batches — one decoder instantiation
  * per partition, streamed row iterator, no per-row setup cost).
  *
  * The decoder and featurizer here are stubs ([[StubDecoder]],
  * [[StubFeaturizer]]): they derive deterministic values from the payload
  * bytes, so the DuckDB oracle can replay q29/q30/q45 with arithmetic. A
  * real codec drops in behind [[MediaDecoder]] / [[MediaFeaturizer]]
  * without touching the plan shape.
  */
object Multimodal {

  /** A media row: opaque payload + declared container format. */
  final case class MediaRow(id: Long, content: Array[Byte], format: String)

  /** Typed metadata extracted per row. */
  final case class MediaMeta(
      id: Long, byte_len: Long, width: Int, height: Int, format: String)

  /** The pluggable codec boundary. Implementations must be Serializable —
    * they ship to executors once per partition. */
  trait MediaDecoder extends Serializable {
    /** → (width, height) of the decoded payload. */
    def dimensions(content: Array[Byte]): (Int, Int)
  }

  /** Deterministic fake: dimensions derived from payload length alone, so
    * tests and the DuckDB oracle can reproduce them with arithmetic.
    * A real implementation would parse the container header here. */
  object StubDecoder extends MediaDecoder {
    def dimensions(content: Array[Byte]): (Int, Int) = {
      val n = if (content == null) 0 else content.length
      (1 + n % 64, 1 + n % 37)
    }
  }

  /** Decode metadata partition-batched: the decoder is resolved once per
    * partition (mirrors mapInPandas' per-batch amortization), rows stream
    * through an iterator — no materialization. */
  def extractMeta(rows: Dataset[MediaRow], decoder: MediaDecoder): Dataset[MediaMeta] = {
    import rows.sparkSession.implicits._
    rows.mapPartitions { it =>
      val d = decoder // bind once per partition
      it.map { r =>
        val len = if (r.content == null) 0L else r.content.length.toLong
        val (w, h) = d.dimensions(r.content)
        MediaMeta(r.id, len, w, h, r.format)
      }
    }
  }

  /** One feature vector extracted per row. */
  final case class MediaFeatures(id: Long, embedding: Array[Float])

  /** The pluggable feature-extraction boundary (CLIP/wav2vec in
    * production; the stub here). Serializable — ships once per
    * partition. */
  trait MediaFeaturizer extends Serializable {
    def features(content: Array[Byte]): Array[Float]
  }

  /** Deterministic fake featurizer: component j is a seeded rolling-hash
    * fold (seed j+1) over the payload's UTF-8 code points, reduced mod
    * 1000 — small exact integers, so tests AND the DuckDB oracle replay
    * every component bit-for-bit. A real featurizer would run the model
    * forward pass here; the partition-batched plumbing is identical. */
  final case class StubFeaturizer(dim: Int) extends MediaFeaturizer {
    def features(content: Array[Byte]): Array[Float] = {
      val s = if (content == null) "" else new String(content, java.nio.charset.StandardCharsets.UTF_8)
      Array.tabulate(dim) { j =>
        var h = (j + 1).toLong
        var i = 0
        while (i < s.length) {
          val cp = s.codePointAt(i)
          h = (h * 31 + cp) % 1000000007L
          i += Character.charCount(cp)
        }
        (h % 1000L).toFloat
      }
    }
  }

  /** Feature extraction partition-batched, same shape as [[extractMeta]]:
    * featurizer bound once per partition, rows streamed. */
  def extractFeatures(rows: Dataset[MediaRow], featurizer: MediaFeaturizer): Dataset[MediaFeatures] = {
    import rows.sparkSession.implicits._
    rows.mapPartitions { it =>
      val f = featurizer
      it.map(r => MediaFeatures(r.id, f.features(r.content)))
    }
  }

  /** Uniform frame sampling: `k` frame references per row, byte offsets
    * spread evenly over the payload (a real sampler would seek container
    * keyframes; offsets are where a decoder would start reading). Pure
    * column expressions — the explode happens before any codec touches
    * the payload, so partitioning stays by row id. */
  def sampleFrames(df: DataFrame, id: String, content: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k") // k=0 would make sequence() DESCEND to -1
    val len = length(col(content)).cast("long")
    df.select(
      col(id).as("id"), len.as("byte_len"),
      explode(sequence(lit(0), lit(k - 1))).as("frame_index"))
      .withColumn("byte_offset", col("frame_index") * col("byte_len") / k)
      .select(col("id"), col("frame_index"), col("byte_offset").cast("long").as("byte_offset"))
  }

  /** Lift a text column into the media schema (used by tests and the
    * oracle queries: UTF-8 bytes are the only binary payload the driver
    * testdata offers). */
  def fromText(spark: SparkSession, df: DataFrame, id: String, text: String,
      format: String): Dataset[MediaRow] = {
    import spark.implicits._
    df.select(col(id).cast("long").as("id"), col(text).cast("binary").as("content"),
      lit(format).as("format")).as[MediaRow]
  }
}
