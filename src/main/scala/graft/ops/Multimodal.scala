package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * columns + typed metadata, decoded per row by [[MediaCodecs.decode]]:
  * metadata for PPM/BMP/PNG/WAV (library-free parsers) and JPEG/GIF
  * (JDK-standard `javax.imageio`); any other format (H.264, WebP, …)
  * gets the deterministic stub features.
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

  /** Feature extraction over a media DataFrame (id: long, media: binary,
    * meta: struct): narrow, no shuffle — the correct 100 TB shape for
    * per-blob work.
    */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.map(MediaCodecs.decode)
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
