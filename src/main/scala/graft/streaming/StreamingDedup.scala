package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

/** Streaming first-seen-only pass-through: emit each key ONCE, from the
  * first micro-batch that carries it, and drop every later occurrence —
  * the Structured-Streaming analogue of the incremental anti-join (J2,
  * reference `ner_extractor/db_io.py:37-55`): "process a url once".
  *
  * State is one small value per key (the emitted min) in the state store
  * (RocksDB/HDFS-backed on a cluster), checkpointed with the query — a
  * killed stream resumes with its dedup memory intact, which is exactly
  * the kill/resume contract of the batch TripleStore path.
  *
  * Scale: state is partitioned by key hash across executors.
  */
object StreamingDedup {

  /** First-seen pass-through that emits each key's MIN value within the
    * first micro-batch that contains the key, so that a trigger may carry
    * SEVERAL chronological input files and stay value-deterministic (a
    * `rows.take(1)` would pick an arbitrary row when a batch mixes
    * buckets; `rows.min` does not). With chronologically-staged input
    * (earlier buckets never arrive in later triggers), the first batch
    * containing a key contains its earliest bucket, so the emitted value
    * is exactly the key's global min — independent of how many files
    * each trigger absorbs. That turns `maxFilesPerTrigger` into a pure
    * throughput/latency knob (optimization guide §1: per-trigger fixed
    * costs — offset log, state-store commit, checkpoint — amortize over
    * the batch) instead of a correctness requirement.
    *
    * The chronological precondition is CHECKED: state keeps the emitted
    * min, and a later batch carrying a smaller value for the key fails
    * the query (IllegalStateException naming the key) — silently dropping
    * it would leave a wrong first-seen value behind a green run.
    */
  def firstSeenMin[V: Ordering](
      ds: Dataset[(String, V)])(implicit
      ev: Encoder[V],
      etup: Encoder[(String, V)]): Dataset[(String, V)] = {
    import org.apache.spark.sql.Encoders
    implicit val keyEnc: Encoder[String] = Encoders.STRING
    ds.groupByKey(_._1)
      .flatMapGroupsWithState[V, (String, V)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[(String, V)], state: GroupState[V]) =>
          val min = rows.map(_._2).min
          if (state.exists) { // key emitted by an earlier batch
            if (Ordering[V].lt(min, state.get)) throw new IllegalStateException(
              s"firstSeenMin: key '$key' arrived with $min after ${state.get} was " +
                "emitted; input must arrive in chronological order")
            Iterator.empty
          } else {
            state.update(min)
            Iterator.single(key -> min)
          }
      }
  }

  /** Staging half of the deterministic end-to-end first-seen run over a
    * parquet events table, oracle-expressible as
    * `GROUP BY user_id → min(bucket)` (q47): one parquet file per
    * one-week time bucket (`floor(epoch(ts) / 604800)`) via
    * [[StreamStage.stageChronological]], file mtimes strictly increasing
    * in bucket order. The file source processes oldest-mtime first, so
    * [[streamFirstSeenStaged]]'s micro-batches arrive in chronological
    * bucket order and the emitted value per key is exactly `min(bucket)`
    * ([[firstSeenMin]]). This is the J2 "process a url once" contract
    * made observable: which batch first saw the key.
    *
    * Fixture prep, not the measured operator — callers that time the
    * streaming half (Bench) stage this untimed, same as the ANN index
    * builds. The per-bucket staging loop is bounded by the time span in
    * weeks (independent of row count); a production deployment reads an
    * already-time-partitioned stream and skips staging entirely.
    * Returns the stream input dir.
    */
  def stageFirstSeenInput(
      spark: SparkSession,
      parquetPath: String,
      scratchDir: String): String = {
    import spark.implicits._
    // rows with NULL ts carry no event time and are DROPPED (an oracle
    // restating this run must add WHERE ts IS NOT NULL — min() skipping
    // NULLs still EMITS a group whose every ts is NULL, this does not)
    val ev = spark.read.parquet(parquetPath)
      .select(col("user_id").cast("long").as("user_id"),
        // session TZ pinned UTC: the NTZ→TZ cast is value-preserving
        floor(unix_timestamp(col("ts").cast("timestamp")) / 604800L)
          .cast("long").as("bucket"))
      .filter(col("bucket").isNotNull)
      .persist() // one source scan; the per-bucket loop reads the cache
    val base = java.nio.file.Paths.get(scratchDir)
    val streamDir = base.resolve("stream")
    try {
      val buckets = ev.select(col("bucket")).distinct()
        .orderBy(col("bucket")).as[Long].collect()
      StreamStage.stageChronological(
        buckets.toSeq.map(b => ev.filter(col("bucket") === b)),
        streamDir, base, "events")
    } finally ev.unpersist()
    streamDir.toString
  }

  /** Streaming half of the first-seen run over an input dir staged by
    * [[stageFirstSeenInput]].
    */
  def streamFirstSeenStaged(
      spark: SparkSession,
      streamDir: String,
      queryName: String): DataFrame = {
    import spark.implicits._
    // maxFilesPerTrigger=4: a throughput knob, not a correctness one —
    // firstSeenMin keeps the emitted value ≡ min(bucket) whatever the
    // trigger grouping (see its doc). One-file triggers paid ~20 trigger
    // fixed costs (offset log + state commit + checkpoint each) for this
    // table's week count; 4 keeps several CROSS-batch state lookups in
    // play (the thing the operator demonstrates) at a quarter the cost.
    val stream = spark.readStream
      .schema(StructType.fromDDL("user_id BIGINT, bucket BIGINT"))
      .option("maxFilesPerTrigger", "4")
      .parquet(streamDir)
    val deduped = firstSeenMin(
      stream.select(col("user_id").cast("string"), col("bucket")).as[(String, Long)])
    StreamStage.runToMemory(deduped.toDF("user_key", "first_bucket"), "append", queryName)
      .select(col("user_key").cast("long").as("user_id"), col("first_bucket"))
  }
}
