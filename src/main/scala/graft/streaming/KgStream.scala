package graft.streaming

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ner.TokenTrie
import graft.pipeline.{EntityStore, KgPipeline, TripleStore}
import graft.topics.TopicModelParams

/** Structured Streaming front-end of the incremental KG pipeline — the
  * scale-native replacement for the reference's polling feed (DAG 03,
  * `airflow_dags/03_..._dag.py:28-30` at 0.17 docs/s): a `readStream` of
  * pages drives `foreachBatch` → [[KgPipeline.runIncremental]], so every
  * micro-batch lands with the SAME atomic-commit + anti-join semantics
  * as a batch run.
  *
  * Exactly-once story (end to end):
  *   - the streaming checkpoint replays an unacknowledged micro-batch
  *     after a crash with the SAME epoch id;
  *   - `runIncremental` keys the triple-store commit AND the entity-store
  *     merge on that id — a replayed batch no-ops whatever already
  *     committed, and the `processedIn` anti-join drops pages that an
  *     earlier batch already covered (duplicate input across micro-batches
  *     is processed exactly once).
  *
  * Two streams on one store: triple commits stay writer-private until
  * their manifest rename, and maintenance serializes on the store's
  * lock. Two streams sharing one [[EntityStore]] cannot lose a merge
  * silently: a trigger whose merge finds the next dictionary version
  * claimed by the other stream's batch fails the query loudly
  * (IllegalStateException naming the version and its holder), and the
  * restarted query replays that epoch's batch id on top of the other
  * stream's version.
  */
object KgStream {

  /** Checkpoint-namespaced micro-batch id. Batch ids are NAMESPACED by
    * the checkpoint location: a stream restarted with a FRESH checkpoint
    * restarts epoch ids at 0, and a bare "stream-00000000" may already be
    * dead (superseded by auto-compaction) — commit() rightly rejects dead
    * ids, which would wedge the restarted stream forever. Same checkpoint
    * → same ids → replay no-ops exactly as before.
    */
  private def batchIdFor(checkpointDir: String, epochId: Long): String = {
    val ns = java.lang.Long.toHexString(
      graft.util.Hashing.xxhash64(checkpointDir)).take(8)
    f"stream-$ns-$epochId%08d"
  }

  /** Shared foreachBatch glue: checkpoint-namespaced batch ids and the
    * size-tiered maintenance riding every trigger. One-manifest-per-
    * micro-batch forever would make every committed() read list unbounded
    * dirs — folding keeps the live manifest count ~compactMaxLive while
    * rewriting each row only O(log) times (compactMaxLive <= 0 disables).
    * Crash-safe: compaction is an atomic supersede-swap, and a crash
    * between commit and compaction just defers it one trigger.
    */
  private def startForeach(
      pages: DataFrame,
      store: TripleStore,
      checkpointDir: String,
      trigger: Trigger,
      queryName: String,
      compactMaxLive: Int,
      compactFanIn: Int)(
      commitBatch: (DataFrame, String) => Unit): StreamingQuery = {
    // checked before the query starts: autoCompact would reject these
    // only after a trigger's commit, and a restart would replay into the
    // same failure
    require(compactMaxLive <= 0 || compactMaxLive >= 2,
      s"compactMaxLive must be <= 0 (disabled) or >= 2; got $compactMaxLive")
    require(compactFanIn >= 2, s"compactFanIn must be >= 2; got $compactFanIn")
    val handle: (Dataset[Row], Long) => Unit = { (batch, epochId) =>
      commitBatch(batch.toDF(), batchIdFor(checkpointDir, epochId))
      if (compactMaxLive > 0) store.autoCompact(compactMaxLive, compactFanIn)
      ()
    }
    pages.writeStream
      .queryName(queryName)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(handle)
      .start()
  }

  def start(
      pages: DataFrame, // streaming source with the Page schema
      store: TripleStore,
      trie: Broadcast[TokenTrie],
      params: Broadcast[TopicModelParams],
      checkpointDir: String,
      entityStore: Option[EntityStore] = None,
      aliases: Option[DataFrame] = None,
      cfg: KgPipeline.Config = KgPipeline.Config(),
      trigger: Trigger = Trigger.AvailableNow(),
      queryName: String = "kg-stream",
      compactMaxLive: Int = 16,
      compactFanIn: Int = 8): StreamingQuery =
    startForeach(pages, store, checkpointDir, trigger, queryName,
      compactMaxLive, compactFanIn) { (batch, batchId) =>
      KgPipeline.runIncremental(
        store, batchId, batch, trie, params, cfg, entityStore, aliases)
      ()
    }

  /** Run-scoped streaming topic assignment — the reference's scheduled
    * assignment step (DAG 02's assign phase, `02_topics_detector_train_
    * pipeline.py` assignment over unprocessed articles) as a stream:
    * `foreachBatch` → [[KgPipeline.assignTopicsIncremental]] with the
    * same checkpoint-namespaced batch ids, `processedIn:<run>`
    * exactly-once anti-join across micro-batches, and size-tiered
    * auto-compaction as [[start]]. A page re-delivered by a later
    * micro-batch keeps the assignment (and marker) from the FIRST batch
    * that saw it.
    */
  def startAssign(
      pages: DataFrame, // streaming source with url, lang, clean
      store: TripleStore,
      idRun: String,
      assign: DataFrame => DataFrame,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      queryName: String = "kg-stream-assign",
      compactMaxLive: Int = 16,
      compactFanIn: Int = 8): StreamingQuery =
    startForeach(pages, store, checkpointDir, trigger, queryName,
      compactMaxLive, compactFanIn) { (batch, batchId) =>
      KgPipeline.assignTopicsIncremental(store, batchId, idRun, batch, assign)
      ()
    }
}
