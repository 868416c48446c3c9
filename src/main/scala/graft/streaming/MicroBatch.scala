package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic micro-batch feed semantics (the reference's simulated
  * ingestion, `src/news_nlp/ingestion/simulated_ingestion.py:49-82`),
  * plus optional Structured Streaming sugar — the reference's semantics
  * are fundamentally micro-batch (SURVEY.md §2.8).
  */
object MicroBatch {

  /** P12 slice math — exact port:
    *   batch_size = max(1, ceil(total * fraction))
    *   num_batches = ceil(total / batch_size)
    *   eff = if loop then runIndex % num_batches else runIndex
    *   slice = [eff * batch_size, min(start + batch_size, total))
    * Returns (startRow, endRow) — endRow exclusive; (0,0) when exhausted.
    */
  def sliceBounds(total: Long, fraction: Double, runIndex: Long, loop: Boolean): (Long, Long) = {
    require(fraction > 0.0 && fraction <= 1.0, "fraction_per_run must be in (0, 1]")
    if (total == 0 || runIndex < 0) return (0L, 0L)
    val batchSize = math.max(1L, math.ceil(total * fraction).toLong)
    val numBatches = math.ceil(total.toDouble / batchSize).toLong
    val eff = if (loop) runIndex % numBatches else runIndex
    val start = eff * batchSize
    if (!loop && start >= total) (0L, 0L)
    else (start, math.min(start + batchSize, total))
  }

  /** runIndex from timestamps: floor(Δseconds / period)
    * (`simulated_ingestion.py:49-53`).
    */
  def runIndex(startEpochSec: Long, nowEpochSec: Long, periodSeconds: Long): Long = {
    // guard like sliceBounds guards fraction: periodSeconds=0 would give
    // Infinity.toLong = Long.MaxValue, which loop mode then reduces to a
    // plausible-looking ARBITRARY slice instead of an error
    require(periodSeconds > 0, s"periodSeconds must be > 0, got $periodSeconds")
    math.floor((nowEpochSec - startEpochSec).toDouble / periodSeconds).toLong
  }

  /** Distributed slice selector: deterministic global order (orderCol
    * must be unique) WITHOUT a global single-task window. Global row
    * numbers are assembled as (range-partition offset + local rank):
    *
    *   1. `repartitionByRange(orderCol)` + local sort — ONE compiled
    *      plan, so one RangePartitioner instance (boundary determinism
    *      across the internal jobs — see the inline note);
    *   2. `zipWithIndex` — its count job and the main pass share that
    *      instance and reuse the shuffle stage;
    *   3. a narrow filter keeps the slice's global index range.
    *
    * At scale the input would be bucketed on orderCol and step 1 becomes
    * a metadata-only ordering; the shape here keeps all shuffles balanced.
    */
  def slice(df: DataFrame, orderCol: String, fraction: Double, runIdx: Long, loop: Boolean): DataFrame = {
    val spark = df.sparkSession
    // KNOWN extra pass: total could be derived from the per-partition
    // sizes zipWithIndex computes internally, saving this count's full
    // evaluation of the input — but that means re-implementing
    // zipWithIndex (offsets + manual zip) on the determinism-pinned
    // one-compiled-plan path below. At fixture scale (the only caller
    // scale) the count is one narrow pass; revisit only with a measured
    // need.
    val total = df.count()
    val (start, end) = sliceBounds(total, fraction, runIdx, loop)
    if (start == end) return df.limit(0)
    val parts = math.max(1, math.min(
      spark.sessionState.conf.numShufflePartitions,
      math.max(1L, total / 1000L).min(Int.MaxValue).toInt))
    // ONE compiled plan → one RangePartitioner INSTANCE. The previous
    // shape ran a counts job and the final job as two separately-compiled
    // DataFrame actions, each building its own RangePartitioner — whose
    // reservoir sample is seeded by rdd.id, so at scale (input larger
    // than the range-exchange sample) the two jobs could disagree on the
    // partition boundaries and the offset cumsum would misnumber boundary
    // rows (dropped/duplicated slices). Converting to an RDD pins the
    // partitioner; zipWithIndex's internal count job and the main pass
    // both run over that same instance (the shuffle stage is computed
    // once and reused), and local sort + partition offset = exact global
    // row numbers without any single-task window.
    val sorted = df.repartitionByRange(parts, col(orderCol))
      .sortWithinPartitions(col(orderCol))
    val schema = sorted.schema
    val slicedRdd = sorted.rdd.zipWithIndex()
      .filter { case (_, i) => i >= start && i < end }
      .map(_._1)
    spark.createDataFrame(slicedRdd, schema)
  }

  /** Structured Streaming ingestion of a parquet directory with
    * Trigger.AvailableNow into an in-memory sink; returns the result table.
    * Used to evidence that the batch windowed aggregation and the
    * streaming one produce identical results on the same data.
    */
  def streamHourlyEventAgg(spark: SparkSession, parquetPath: String, queryName: String): DataFrame = {
    val schema = spark.read.parquet(parquetPath).schema
    // the streaming file source requires a DIRECTORY; stage the single
    // parquet file into a temp dir (zero-copy irrelevant at demo scale)
    val src = java.nio.file.Paths.get(parquetPath)
    val dir = {
      if (java.nio.file.Files.isDirectory(src)) src
      else {
        val d = java.nio.file.Files.createTempDirectory("graft_stream_")
        java.nio.file.Files.copy(src, d.resolve("part-00000.parquet"))
        d
      }
    }
    val stream = spark.readStream.schema(schema).parquet(dir.toString)
      // parquet stores TIMESTAMP_NTZ; watermarks require TIMESTAMP (session
      // TZ is pinned UTC, so the cast is value-preserving vs the oracle)
      .withColumn("ts", col("ts").cast("timestamp"))
    val agg = stream
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("n"), round(col("sum_value"), 2).as("sum_value"))
    val out = StreamStage.runToMemory(agg, "complete", queryName)
    // the staged single-file copy is only a stream source; the memory
    // sink holds the result, so the temp dir (a full input copy under
    // java.io.tmpdir otherwise leaked per invocation) can go now
    if (dir != src) org.apache.hadoop.fs.FileUtil.fullyDelete(dir.toFile)
    out
  }
}
