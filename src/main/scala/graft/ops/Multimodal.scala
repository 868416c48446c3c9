package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.util.Hashing

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * columns + typed metadata, processed in BATCHED `mapPartitions`.
  *
  * Decoding is REAL for PPM/BMP/PNG/WAV (library-free parsers) and
  * JPEG/GIF (JDK-standard `javax.imageio`) via
  * [[MediaCodecs.FormatDecoder]] — metadata, pixel-exact resize, mean
  * channels, PCM/GIF frame counts. Formats needing native codecs
  * (H.264, WebP, …) fall back to the deterministic [[DecodeStub]]
  * behavior behind the same `MediaDecoder` trait, which is where a
  * production JNI/codec implementation drops in.
  */
object Multimodal {

  final case class MediaMeta(kind: String, declared_w: Int, declared_h: Int)
  final case class MediaRow(id: Long, media: Array[Byte], meta: MediaMeta)
  final case class MediaFeatures(
      id: Long,
      n_bytes: Long,
      checksum: Long,
      width: Int,
      height: Int,
      channels: Int,
      frames: Int)

  /** Production seam: decode a BATCH of media blobs (batching amortizes
    * model/codec init exactly like the reference's `nlp.pipe(batch_size)`,
    * `src/news_nlp/ner_extractor/model.py:121-129`).
    */
  trait MediaDecoder extends Serializable {
    def decodeBatch(rows: Seq[MediaRow]): Seq[MediaFeatures]
  }

  /** STUB decoder — deterministic fake: "dimensions" derive from the blob
    * hash; byte length and checksum are real. Replace with a JNI/codec
    * implementation in production.
    */
  object DecodeStub extends MediaDecoder {
    override def decodeBatch(rows: Seq[MediaRow]): Seq[MediaFeatures] =
      rows.map { r =>
        // null blob ≡ empty blob (see FormatDecoder.decodeOne): the stub
        // must stay total over every row the Spark plumbing can carry
        val bytes = if (r.media == null) Array.emptyByteArray else r.media
        var h = 1125899906842597L
        var i = 0
        while (i < bytes.length) { h = h * 31 + bytes(i); i += 1 }
        MediaFeatures(
          id = r.id,
          n_bytes = bytes.length.toLong,
          checksum = h,
          width = if (r.meta.declared_w > 0) r.meta.declared_w else (math.abs(h) % 640).toInt,
          height = if (r.meta.declared_h > 0) r.meta.declared_h else (math.abs(h >> 16) % 480).toInt,
          channels = 3,
          frames = if (r.meta.kind == "video") 1 + (math.abs(h) % 32).toInt else 1)
      }
  }

  /** Feature extraction over a media DataFrame (id: long, media: binary,
    * meta: struct) in batches of 64 blobs (the reference's `batch_size`).
    * Narrow, batched, no shuffle — the correct 100 TB shape for per-blob
    * work. `decoder` is settable so the codec specs can swap in the stub
    * or a recording decoder.
    */
  def extractFeatures(
      media: Dataset[MediaRow],
      decoder: MediaDecoder = MediaCodecs.FormatDecoder): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.grouped(64).flatMap(batch => decoder.decodeBatch(batch))
    }
  }

  /** Wrap a (doc_id, text) table as fake media blobs (UTF-8 bytes) —
    * used by tests and the oracle (octet_length is re-computable in SQL).
    */
  def asMedia(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(
        col("doc_id").cast("long").as("id"),
        encode(col("text"), "UTF-8").as("media"),
        struct(lit("image").as("kind"), lit(0).as("declared_w"), lit(0).as("declared_h")).as("meta"))
      .as[MediaRow]
  }
}
