package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: media as opaque `binary` payloads with typed
  * metadata, feature extraction as per-partition batch processing.
  *
  * The Spark-side shape is real — schema, partitioning, batch iteration —
  * while the actual media decode is STUBBED (`decodeStub`): this container
  * has no image/audio codecs, so the decoder is a deterministic fake with
  * the same signature a real one (JNI/FFmpeg/ImageIO) would have. Swap
  * `decodeStub` for a real decoder and nothing else changes.
  *
  * mapPartitions is the deliberate choice here (the one sanctioned use):
  * decoders are imperative, per-record native calls that want batch reuse of
  * a codec context — not expressible as catalyst expressions.
  */
object Multimodal {

  case class MediaRecord(doc_id: Long, kind: String, payload: Array[Byte], width: Int, height: Int)
  case class MediaFeatures(doc_id: Long, kind: String, byte_len: Int, checksum: Long,
                           features: Array[Double])

  /** Deterministic fake decode: a real implementation would decode the
    * payload (image/audio/video) and emit a fixed-length feature vector.
    * The fake folds bytes into a 16-bin histogram — stable, cheap, testable.
    */
  private def decodeStub(payload: Array[Byte]): Array[Double] = {
    val bins = new Array[Double](16)
    var i = 0
    while (i < payload.length) {
      bins((payload(i) & 0xff) % 16) += 1.0
      i += 1
    }
    val n = math.max(payload.length, 1).toDouble
    bins.map(_ / n)
  }

  /** Per-partition feature extraction over binary payloads. Partition count
    * governs decoder parallelism; each partition amortizes decoder setup
    * across its batch, exactly as a real codec context would.
    */
  def extractFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // Real pipeline: initialize the codec context once per partition here.
      it.map { r =>
        var crc = 17L
        var i = 0
        while (i < r.payload.length) { crc = crc * 31 + (r.payload(i) & 0xff); i += 1 }
        MediaFeatures(r.doc_id, r.kind, r.payload.length, crc, decodeStub(r.payload))
      }
    }
  }

  case class Frame(doc_id: Long, frame_idx: Int, frame_len: Int, checksum: Long)

  /** Frame sampling for video payloads: one input row explodes into one row
    * per sampled frame (every `everyN`-th fixed-size chunk) — the
    * one-to-many batch shape a real keyframe extractor (FFmpeg seek +
    * decode) produces. The chunking IS the stub; the typed explosion,
    * per-partition batching and output schema are the real plumbing.
    */
  def sampleFrames(media: Dataset[MediaRecord], frameBytes: Int = 256,
                   everyN: Int = 4): Dataset[Frame] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // Real pipeline: open the demuxer/codec once per partition here.
      it.flatMap { r =>
        val nChunks = math.max(1, (r.payload.length + frameBytes - 1) / frameBytes)
        (0 until nChunks by everyN).iterator.map { c =>
          val from = c * frameBytes
          val until = math.min(from + frameBytes, r.payload.length)
          var crc = 17L
          var i = from
          while (i < until) { crc = crc * 31 + (r.payload(i) & 0xff); i += 1 }
          Frame(r.doc_id, c, math.max(until - from, 0), crc)
        }
      }
    }
  }

  /** documents → typed media records (payload + metadata). */
  def mediaRecords(spark: SparkSession, docs: DataFrame): Dataset[MediaRecord] = {
    import spark.implicits._
    docs.select(
      col("doc_id"),
      when(col("doc_id") % 3 === 0, "image")
        .when(col("doc_id") % 3 === 1, "audio")
        .otherwise("video").as("kind"),
      col("text").cast("binary").as("payload"),
      (col("n_chars") % 1920).cast("int").as("width"),
      (col("n_chars") % 1080).cast("int").as("height")).as[MediaRecord]
  }

  /** End-to-end: documents → binary media records → features. */
  def featurize(spark: SparkSession, docs: DataFrame): Dataset[MediaFeatures] =
    extractFeatures(mediaRecords(spark, docs))
}
