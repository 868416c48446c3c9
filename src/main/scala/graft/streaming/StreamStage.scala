package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

/** The stream fixtures' two halves: [[runToMemory]] runs a stream to a
  * memory sink and returns its table, and [[stageChronological]]
  * stages chronological DataFrame slices as one parquet file each with
  * strictly increasing mtimes. The FileStreamSource processes files
  * oldest-mtime-first, so with `maxFilesPerTrigger=1` the staged slices
  * arrive as ordered micro-batches — the trick both chronological stream
  * fixtures (q47 first-seen buckets, q48 re-delivering chunks) rely on.
  *
  * The mtime-ordering contract lives HERE only: a synthetic epoch base
  * far from "now" plus a one-minute step per slice, coarse enough for any
  * filesystem's mtime granularity and immune to wall-clock skew between
  * staging and stream start.
  */
object StreamStage {

  /** Runs the streaming `out` with `Trigger.AvailableNow` into a memory
    * sink named `queryName`, waits for it and returns the sink's table.
    * The table is resolved BEFORE its temp view is dropped (analysis is
    * eager, so the plan keeps the sink data alive); without the drop
    * every invocation would keep its full result in the session catalog
    * for the session's lifetime.
    */
  def runToMemory(out: DataFrame, outputMode: String, queryName: String): DataFrame = {
    out.writeStream.outputMode(outputMode).format("memory").queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    val spark = out.sparkSession
    val result = spark.table(queryName)
    spark.catalog.dropTempView(queryName)
    result
  }

  private val MtimeBaseMs = 1000000000000L
  private val MtimeStepMs = 60000L

  /** Writes slice i as `streamDir/<prefix>_0000i.parquet` with mtime
    * `base + i*step`; per-slice temp write dirs go under `scratchBase`.
    * Slices are written serially — the slice count is a fixture-scale
    * constant (chunk classes / time buckets), never ∝ rows.
    */
  def stageChronological(
      slices: Seq[DataFrame],
      streamDir: java.nio.file.Path,
      scratchBase: java.nio.file.Path,
      prefix: String): Unit = {
    java.nio.file.Files.createDirectories(streamDir)
    slices.zipWithIndex.foreach { case (df, i) =>
      val part = scratchBase.resolve(s"${prefix}_part_$i")
      df.coalesce(1).write.parquet(part.toString)
      val src = part.toFile.listFiles()
        .filter(_.getName.endsWith(".parquet")).head.toPath
      val dst = streamDir.resolve(f"${prefix}_$i%05d.parquet")
      java.nio.file.Files.move(src, dst)
      // the scratch write dir (committer litter: _SUCCESS, .crc) is done
      // once its parquet moved out — leaving it leaks one dir per slice
      // per staging invocation
      org.apache.hadoop.fs.FileUtil.fullyDelete(part.toFile)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(
          MtimeBaseMs + i * MtimeStepMs))
      ()
    }
  }
}
