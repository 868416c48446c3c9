package graft.pipeline

import org.apache.hadoop.fs.{Path => HPath}

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.link.EntityLink
import graft.schema.EntityRecord

/** Persistent entity dictionary with cross-batch MERGE — the Spark
  * re-expression of the reference's `entities` table maintenance
  * (`src/news_nlp/ner_extractor/db_io.py:64-94` insert of new entities,
  * `:97-121` mapping rebuild; job wiring
  * `jobs/ner_extractor_inference_job.py:67-83`), with the SURVEY §2.9 #1
  * fix: deterministic `id_entity = xxhash64(norm, type)` + additive MERGE
  * instead of BIGSERIAL ids + driver-side dict rebuild.
  *
  * State is ONE table per version, `entities(entity_text_norm,
  * entity_type, entity_text, cnt, bucket)`, at SURFACE granularity (the
  * finest thing the merge must be associative over) — the tagged rows
  * of [[EntityLink.taggedFromSurfaceRows]], summed across batches:
  *   - per surface form, `cnt` = its count; the modal surface form (A2)
  *     is DERIVED at read time, so late batches can flip it exactly as a
  *     full recompute would;
  *   - per entity, an `entity_text = NULL` row whose `cnt` = news_count.
  *     Additivity is EXACT because incremental batches are url-disjoint:
  *     `runIncremental`'s anti-join on `processedIn` markers guarantees
  *     each url contributes to exactly one merged batch.
  * A version written before this layout (`surfaces` + `news`) reads as
  * the same rows; the first merge into it rewrites every bucket.
  *
  * Scale shape (MERGE cost ∝ batch, not ∝ dictionary): state is
  * hash-bucketed on `entity_text_norm` ([[EntityStore.dictBuckets]] dirs,
  * a Hive partition column, so reads prune). A merge
  *   1. aggregates the batch delta into tagged rows once,
  *   2. re-aggregates ONLY the dirty buckets (partition-pruned read of
  *      current ∪ delta, ONE shuffle on the bucket),
  *   3. HARD-LINKS every clean bucket's files from the previous version
  *      (metadata-only; copy fallback for cross-device),
  *   4. publishes the version through [[graft.util.Snapshots]] (claim,
  *      write, atomic `_latest` swap, GC).
  * This is Iceberg MERGE-on-read-free copy-on-write bounded to dirty
  * partitions — the same shape `TripleStore.deleteWhere` uses.
  *
  * Concurrency/crash model: merged batch ids are recorded IN the
  * version, so a retried merge of an already-merged batch is a no-op —
  * `runIncremental` orders (merge dict) BEFORE (commit triples+markers),
  * which makes the pair idempotent under kill-anywhere retry:
  *   - crash before merge: nothing happened;
  *   - crash between merge and triple-commit: markers absent → retry
  *     recomputes the identical batch (same anti-join input) → merge sees
  *     the batch id → skips → commit proceeds;
  *   - crash mid-merge (version claimed and partly written, pointer not
  *     swapped): the retry holds the same batch id, so it takes over the
  *     claim, discards the partial dir and publishes.
  * Concurrent writers (two stores or two streams on one root) cannot
  * lose a merge silently: the next version is claimed under the batch
  * id before it is written, so a merge that finds it claimed by another
  * batch fails loudly (IllegalStateException naming the version and the
  * holder) with nothing written, and a merge whose base moved while it
  * aggregated its delta builds on the new version. The claim is the
  * write lock: the delta aggregation runs before it, unlocked.
  *
  * Version GC: after each pointer swap only the [[graft.util.Snapshots
  * .Retain]] newest versions are kept — a stream merging one batch per
  * micro-batch forever keeps O(1) dirs, not O(batches). Hard-linked
  * clean-bucket files survive through the newer versions' links
  * (deleting an old dir only unlinks).
  *
  * READER CONTRACT: a lazy `dict()`/`keys()` plan binds the version
  * current at CALL time and stays readable only while that version
  * survives — i.e. for the next `Snapshots.Retain - 1` merges.
  * Materialize (collect/write/cache+count) promptly; a pruned-underneath
  * reader fails loudly (FileNotFoundException), never silently wrong.
  */
final class EntityStore(val root: String, spark: SparkSession,
    /** How many of the most recent merged batch ids each version
      * remembers — the REPLAY-IDEMPOTENCE WINDOW. A replayed merge of a
      * batch inside the window is a no-op; older ids are forgotten, so
      * an orchestrator must never replay a batch more than
      * `batchHistory` merges old (runIncremental callers are safe: a
      * completed batch has `processedIn` markers and is never replayed
      * at all — only in-flight retries re-enter merge, always within a
      * few versions). Bounding the history keeps the per-merge
      * `_batches` read/rewrite O(window), not O(stream lifetime).
      * Settable so a spec can replay past a two-batch window.
      */
    batchHistory: Int = 100000) {
  require(batchHistory >= 1, "batchHistory must be >= 1")

  import spark.implicits._
  import EntityStore.dictBuckets

  /** Version/pointer I/O through the Hadoop FileSystem API
    * ([[graft.util.StoreFs]]): the store root may be file://, hdfs://,
    * etc. — the clean-bucket forward keeps its hard-link fast path on
    * the local scheme and degrades to a FileSystem copy elsewhere.
    */
  private val sfs = new graft.util.StoreFs(root, spark.sessionState.newHadoopConf())

  sfs.mkdirs(sfs.rootPath)

  private val snaps = new graft.util.Snapshots(sfs)

  /** Batch ids remembered by version `v`, NEWEST FIRST (the
    * `batchHistory` window — see the constructor param).
    */
  private def mergedBatchesOrdered(v: Long): Seq[String] =
    if (v == 0L) Seq.empty
    else sfs.readString(new HPath(snaps.dir(v), "_batches"))
      .split("\n").iterator.map(_.trim).filter(_.nonEmpty).toSeq

  /** Batch ids already merged, within the replay window. */
  def mergedBatches(): Set[String] = mergedBatchesOrdered(snaps.current()).toSet

  private def read(v: Long, name: String, ddl: String): Option[DataFrame] = {
    val dir = new HPath(snaps.dir(v), name)
    if (v == 0L || !sfs.exists(dir)) None
    else Some(spark.read
      .schema(org.apache.spark.sql.types.StructType.fromDDL(ddl))
      .parquet(dir.toString))
  }

  private val entitiesDDL =
    "entity_text_norm STRING, entity_type STRING, entity_text STRING, cnt BIGINT, bucket INT"

  /** A version written before the one-table layout (`surfaces` + `news`). */
  private def isLegacy(v: Long): Boolean =
    v != 0L && sfs.exists(new HPath(snaps.dir(v), "surfaces"))

  /** Version `v`'s state as tagged rows with their bucket. */
  private def tagged(v: Long): DataFrame = {
    def legacy = read(v, "surfaces", "entity_text_norm STRING, entity_type STRING, " +
        "entity_text STRING, surface_count BIGINT, bucket INT").map { surfaces =>
      val newsDDL = "entity_text_norm STRING, entity_type STRING, news_count BIGINT, bucket INT"
      val news = read(v, "news", newsDDL).getOrElse(graft.util.Frames.empty(spark, newsDDL))
      surfaces.withColumnRenamed("surface_count", "cnt").unionByName(news.select(
        $"entity_text_norm", $"entity_type", lit(null).cast("string").as("entity_text"),
        $"news_count".as("cnt"), $"bucket"))
    }
    read(v, "entities", entitiesDDL).orElse(legacy)
      .getOrElse(graft.util.Frames.empty(spark, entitiesDDL))
  }

  /** Entity keys (entity_text_norm, entity_type): the NULL-surface rows, unaggregated. */
  def keys(): DataFrame =
    tagged(snaps.current()).filter($"entity_text".isNull)
      .select($"entity_text_norm", $"entity_type")

  /** MERGE one batch of per-page surface rows
    * (url, entity_text_norm, entity_type, entity_text, n) into the store.
    * Returns false (no-op) if `batchId` was already merged; throws
    * IllegalStateException, writing nothing, if another batch's merge
    * holds the next version (class doc).
    */
  def merge(batchId: String, surfaceRows: DataFrame): Boolean = {
    graft.util.StoreFs.requireBatchId(batchId)
    if (mergedBatchesOrdered(snaps.current()).contains(batchId)) return false
    val delta = EntityLink.taggedFromSurfaceRows(surfaceRows)
      .withColumn("bucket",
        pmod(xxhash64($"entity_text_norm"), lit(dictBuckets)).cast("int"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // dirty buckets: only these are re-aggregated and rewritten; the
      // bucket shuffle is over (current-dirty ∪ delta), not the corpus
      val dirty = delta.select($"bucket").distinct()
        .as[Int].collect().sorted
      snaps.publish(batchId) { (v, nextDir) =>
        // the base may be newer than the check above (another writer
        // published meanwhile): its history decides the replay
        val alreadyOrdered = mergedBatchesOrdered(v)
        !alreadyOrdered.contains(batchId) && {
          // a legacy-layout version has no clean buckets to link: rewrite it whole
          val prev =
            if (isLegacy(v)) tagged(v)
            else tagged(v).filter($"bucket".isin(dirty.map(Int.box): _*)) // partition-pruned
          // the groupBy keys include the bucket, so the repartition's hash
          // distribution satisfies it: one shuffle, one file per bucket dir
          prev.unionByName(delta)
            .repartition($"bucket")
            .groupBy($"entity_text_norm", $"entity_type", $"entity_text", $"bucket")
            .agg(sum($"cnt").as("cnt"))
            .write.mode(SaveMode.Overwrite).partitionBy("bucket")
            .parquet(new HPath(nextDir, "entities").toString)
          // clean buckets ride forward as hard links (local) / copies (remote)
          linkCleanBuckets(v, nextDir, dirty.toSet)
          // newest-first, truncated to the replay window (constructor doc)
          sfs.writeString(new HPath(nextDir, "_batches"),
            (batchId +: alreadyOrdered).take(batchHistory)
              .mkString("", "\n", "\n"))
          true
        }
      }
    } finally delta.unpersist(blocking = false)
  }

  private def linkCleanBuckets(prevVersion: Long, nextDir: HPath, dirty: Set[Int]): Unit = {
    if (prevVersion == 0L) return
    val prev = new HPath(snaps.dir(prevVersion), "entities")
    if (!sfs.exists(prev)) return
    sfs.listNames(prev).foreach { dn =>
      if (dn.startsWith("bucket=") &&
          !dirty.contains(dn.stripPrefix("bucket=").toInt)) {
        val src = new HPath(prev, dn)
        val target = new HPath(new HPath(nextDir, "entities"), dn)
        sfs.mkdirs(target)
        sfs.listNames(src).foreach { fn =>
          sfs.linkOrCopy(new HPath(src, fn), new HPath(target, fn))
        }
      }
    }
  }

  /** The queryable entity dictionary (≙ reference `entities` table,
    * `db/schema.sql:130-138`): deterministic id, DERIVED modal surface
    * form (A2 tie-break: count DESC, text ASC), merged counts.
    */
  def dict(): Dataset[EntityRecord] =
    EntityLink.dictFromTagged(tagged(snaps.current()))
}

object EntityStore {
  /** Hash-bucket count for the dictionary partition dimension. 32 at
    * test scale; a production store would use 256-4096 so a typical
    * batch dirties a fraction of the dictionary.
    */
  val dictBuckets = 32
}
