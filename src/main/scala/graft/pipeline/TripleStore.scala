package graft.pipeline

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.hadoop.fs.{Path => HPath}

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.util.Json

/** Bounded-cardinality per-key counter used as an `observe()` metric: the
  * predicate vocabulary of a batch is tiny (a handful of predicates, plus
  * run-scoped variants), so the per-pred row counts ride along with the
  * WRITE job itself — no post-write re-scan of the committed data.
  */
object PredCounter extends Aggregator[String, Map[String, Long], Map[String, Long]] {
  override def zero: Map[String, Long] = Map.empty
  override def reduce(b: Map[String, Long], a: String): Map[String, Long] =
    b.updated(a, b.getOrElse(a, 0L) + 1L)
  override def merge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.foldLeft(a) { case (acc, (k, v)) => acc.updated(k, acc.getOrElse(k, 0L) + v) }
  override def finish(m: Map[String, Long]): Map[String, Long] = m
  override def bufferEncoder: Encoder[Map[String, Long]] = Encoders.kryo[Map[String, Long]]
  override def outputEncoder: Encoder[Map[String, Long]] = ExpressionEncoder()
}

/** One `_manifest/<batch>.commit` record — the store's only on-disk
  * metadata, rendered and parsed here and nowhere else:
  *
  *   - `batch`: the batch id (also the file name);
  *   - `rows`: total rows of the batch; `0` means the data dir holds no
  *     parquet (an empty partitionBy write emits none). A manifest without
  *     the field parses as `-1`, which counts as non-empty;
  *   - `path`: the batch's data dir;
  *   - `preds`: rows per predicate — what pred reads plan from, so a
  *     manifest without the field (the first round's format) fails to
  *     parse, naming its batch;
  *   - `partitions`: one (file, rows) entry per data file;
  *   - `supersedes`: batch ids this batch makes dead the instant its
  *     manifest lands — the transitive closure, so deadness never depends
  *     on a dead manifest surviving cleanup. Omitted when empty.
  *
  * The text is one compact JSON object in that key order plus a newline,
  * with `preds` keys and `partitions` sorted.
  */
private[pipeline] final case class Manifest(batch: String, rows: Long, path: String,
    preds: Map[String, Long], partitions: Seq[(String, Long)], supersedes: Seq[String]) {

  def render: String = {
    val o = Json.mapper.createObjectNode().put("batch", batch).put("rows", rows).put("path", path)
    val p = o.putObject("preds")
    preds.toSeq.sorted.foreach { case (k, v) => p.put(k, v) }
    val parts = o.putArray("partitions")
    partitions.sorted.foreach { case (f, r) => parts.addObject().put("file", f).put("rows", r) }
    if (supersedes.nonEmpty) {
      val s = o.putArray("supersedes")
      supersedes.foreach(b => s.add(b))
    }
    Json.mapper.writeValueAsString(o) + "\n"
  }
}

private[pipeline] object Manifest {
  def parse(text: String): Manifest = {
    val n = Json.mapper.readTree(text)
    if (!n.has("preds")) throw new IllegalStateException(
      s"manifest of batch '${n.path("batch").asText}' has no preds field; " +
        "pred reads need per-pred counts")
    def each[A](field: String)(f: JsonNode => A): Seq[A] =
      n.path(field).elements().asScala.map(f).toSeq
    Manifest(n.path("batch").asText, n.path("rows").asLong(-1L), n.path("path").asText,
      n.path("preds").properties().asScala.map(e => e.getKey -> e.getValue.asLong).toMap,
      each("partitions")(p => p.path("file").asText -> p.path("rows").asLong),
      each("supersedes")(_.asText))
  }
}

/** Snapshot-committed triple store over parquet.
  *
  * Production target is an Iceberg table (atomic snapshot commits,
  * partition spec `(pred, lang, bucket(N, url_hash))` — SURVEY.md §1.4);
  * the Iceberg runtime is not on this sandbox's classpath, so the same
  * SEMANTICS are provided with parquet + a manifest directory:
  *
  *   - each batch writes to `data/batch=<id>/` then publishes one
  *     [[Manifest]] (its fields are documented there) at
  *     `_manifest/<id>.commit` via atomic rename — readers only see fully
  *     committed batches (a killed job leaves a dangling data dir that is
  *     invisible and overwritten on retry);
  *   - every public call lists `_manifest` once and reads each manifest at
  *     most once into one [[TripleStore.Manifests]] view;
  *   - a manifest may declare `supersedes`: the listed batches are
  *     dead the INSTANT the superseding manifest's rename lands — this is
  *     how [[deleteWhere]] swaps rewritten data atomically (Iceberg's
  *     copy-on-write DELETE, snapshot-pointer style);
  *   - `committed()` reads ONLY live manifested batches → the anti-join
  *     resume (J1/J2) reprocesses exactly the uncommitted urls;
  *   - per-batch lineage + row metrics live in the manifest (north
  *     rule: per-partition lineage + metrics), and the manifest is the
  *     store's ONLY metadata. Totals, per-pred counts and per-file row
  *     counts all come from one `Observation` riding the write job (a
  *     per-dir counter — the same stats an Iceberg writer's `DataFile`
  *     metadata carries), so a commit never re-reads or re-opens the data
  *     it just wrote; pred reads pick their `pred=` dirs from the
  *     manifests' per-pred counts, with no filesystem probe.
  */
final class TripleStore(val root: String, spark: SparkSession,
    /** Minimum AGE of an unmanifested `batch=z*` staging dir before the
      * orphan sweep may delete it. The sweep's safety argument ("z dirs
      * are written synchronously inside maintenance calls") holds only
      * UNDER the maintenance lock; the grace is the belt for the
      * stale-lock-takeover edge, where a stuck-but-alive maintainer's
      * in-flight staging could otherwise be swept by its usurper. Tests
      * recovering a crashed store pass 0.
      */
    zOrphanGraceMs: Long = TripleStore.DefaultZOrphanGraceMs) {

  /** All manifest I/O goes through the Hadoop FileSystem API
    * ([[graft.util.StoreFs]]) so the store root may be a bare local
    * path, `file://`, `hdfs://`, or `s3a://` — the same portability the
    * data paths (Spark parquet I/O) always had. Per-scheme atomicity of
    * the manifest publication rename is documented on StoreFs.
    */
  private val sfs = new graft.util.StoreFs(root, spark.sessionState.newHadoopConf())

  private val manifestDir: HPath = sfs.path("_manifest")
  private def manifestPath(b: String): HPath = new HPath(manifestDir, s"$b.commit")
  private def dataDir(batch: String): String = s"$root/data/batch=$batch"

  sfs.mkdirs(manifestDir)

  /** The store's manifests: ONE raw listing of `_manifest` (one RPC, no
    * per-entry stats, object-store friendly; raw so that the maintenance
    * sweep also sees checksum sidecars) and one read of each manifest.
    */
  private def manifests(): TripleStore.Manifests = {
    val entries = sfs.listNamesRaw(manifestDir)
    new TripleStore.Manifests(entries, entries.filter(_.endsWith(".commit")).map { n =>
      val b = n.stripSuffix(".commit")
      b -> Manifest.parse(sfs.readString(manifestPath(b)))
    }.toMap)
  }

  /** Advisory MAINTENANCE lock (compaction, predicated delete, orphan
    * sweep). Plain ingest commits are NOT locked — batch dirs and
    * manifests are writer-private until the atomic manifest rename. The
    * lock exists because maintenance is not safe against ITSELF: two
    * concurrent folds over overlapping live sets both land superseding
    * manifests and duplicate the overlap's rows, and the orphan sweep
    * deletes the other maintainer's in-flight `z*` staging (two streams
    * sharing one store — ingest + run-scoped assignment — run
    * autoCompact on every trigger by default, so this is the default
    * topology, not an exotic one). Holder crash recovery: a lock older
    * than [[TripleStore.LockStaleMs]] is taken over. Each acquisition
    * claims under a fresh token ([[graft.util.StoreFs.claim]]), so the
    * lock is never re-entered.
    */
  private val lockPath: HPath = new HPath(manifestDir, "_maintain.lock")

  private def tryMaintenanceLock(): Boolean =
    sfs.claim(lockPath, s"maintain-${java.util.UUID.randomUUID()}", TripleStore.LockStaleMs)

  private def awaitMaintenanceLock(): Unit = {
    val deadline = System.currentTimeMillis() + TripleStore.LockWaitMs
    var got = tryMaintenanceLock()
    while (!got && System.currentTimeMillis() < deadline) {
      Thread.sleep(200)
      got = tryMaintenanceLock()
    }
    require(got, s"maintenance lock $lockPath not acquired within " +
      s"${TripleStore.LockWaitMs} ms — another maintainer is running " +
      "(or crashed more recently than the stale-takeover threshold)")
  }

  private def unlockMaintenance(): Unit =
    try sfs.delete(lockPath, false)
    catch { case _: java.io.IOException => () }

  /** Live committed batch ids: manifested minus superseded-by-anyone. */
  def committedBatches(): Seq[String] = manifests().live

  /** Close `direct` under the supersedes relation by walking the (still
    * present) superseded manifests. Recording the CLOSURE in the new
    * manifest makes liveness independent of dead manifests: compact →
    * crash before cleanup → compact again must not resurrect batches whose
    * only death certificate was the first compact's (now superseded and
    * cleaned) manifest.
    */
  private def transitiveSupersedes(direct: Seq[String], m: TripleStore.Manifests): Seq[String] = {
    val seen = scala.collection.mutable.Set.empty[String]
    var frontier = direct.toList
    while (frontier.nonEmpty) {
      val b = frontier.head
      frontier = frontier.tail
      if (seen.add(b)) m.byBatch.get(b).foreach(frontier ++= _.supersedes)
    }
    seen.toSeq.sorted
  }

  /** MAX hash-bucket count for the url-hash partition dimension
    * (north_star: triples "partitioned by lang and url-hash"). 16 buckets
    * × languages at test scale; a production Iceberg spec would use
    * bucket(256, url). Since round 6 this is the CAP of a scale-adaptive
    * spread — see [[adaptiveBuckets]]: a batch only pays as many bucket
    * dirs as its size warrants (guide §2: derive partitioning from input
    * size, not a constant tuned for one scale; §6: sensible output file
    * sizing). A batch big enough to fill the cap gets exactly the old
    * fixed spread.
    */
  val urlBuckets = 16

  /** MAX bucket count for marker predicates — write-parallelism only
    * (markers are never bucket-pruned), sized so a marker bucket-task
    * carries about as many rows as a data bucket-task (~1 marker vs ~4
    * data rows/page). Scale-adaptive below the cap like [[urlBuckets]].
    */
  val markerBuckets = 4

  /** Scale-adaptive bucket counts for one commit (data preds, markers).
    *
    * The bucket dimension exists for write parallelism and bounded file
    * sizes — nothing bucket-prunes reads and nothing aligns bucket
    * values across batches (compaction re-buckets), so the COUNT is free
    * to follow the batch size: estimated plan bytes / target bytes per
    * bucket file, clamped to [1, urlBuckets]. A 10-KB fixture batch then
    * writes preds × langs files instead of preds × langs × 16 sliver
    * files (the per-file fixed costs dominated commit latency at toy
    * scale — measured 2.4 s → 0.4 s per commit write), while a
    * production-size batch still spreads over the full cap.
    *
    * Size source is the optimized plan's stats: parquet scans and cached
    * inputs (every in-repo commit path persists its batch first) size
    * accurately; an UNKNOWN estimate is conservatively huge and yields
    * the full spread — never a straggler. Target bytes per bucket file
    * are [[TripleStore.BucketTargetBytes]] = 64 MB (in-memory estimate
    * ≈ 2-4× the on-disk parquet, so files land in the guide's sensible
    * range).
    */
  private def adaptiveBuckets(triples: DataFrame): (Int, Int) = {
    val target = BigInt(TripleStore.BucketTargetBytes)
    val est = triples.queryExecution.optimizedPlan.stats.sizeInBytes
    val data =
      if (est <= 0) urlBuckets // unknown → conservative full spread
      else ((est + target - 1) / target).min(BigInt(urlBuckets)).max(BigInt(1)).toInt
    // keep the data:marker task-size ratio of the caps (~4 data rows per
    // marker row/page), floored at 1
    val mark = math.max(1, math.min(markerBuckets,
      (data * markerBuckets + urlBuckets - 1) / urlBuckets))
    (data, mark)
  }

  /** Atomically commit one batch of triples. The manifest carries
    * per-partition lineage + metrics (north rule): one (file, rows) entry
    * per output file and per-predicate row counts, both from the write
    * job's one Observation — the only stats source, see
    * [[perFileRowCounts]]. A null or empty `pred` fails the write job and
    * publishes nothing. Empty batches commit a rows:0 manifest. Returns
    * total rows.
    */
  def commit(batch: String, triples: DataFrame): Long = {
    // the z* id namespace is RESERVED for internal compaction/rewrite
    // staging: sweepLingeringDead() deletes unmanifested batch=z* data
    // dirs, so an external writer using ANY z id — including one that
    // happens to spell 'zcompact-mybatch' — could have its in-flight
    // (data-written, manifest-pending) batch swept by a concurrent
    // maintenance call. The public surface therefore rejects the WHOLE
    // z namespace; the internal compact/rewrite paths call [[commitImpl]]
    // directly (they are the namespace's only legitimate writers).
    require(!batch.startsWith("z"),
      s"batch id '$batch' uses the reserved internal staging prefix 'z'; " +
        "pick an id not starting with 'z'")
    commitImpl(batch, triples, Nil, manifests()).rows
  }

  /** Commit against the manifests `m` the caller listed; returns the
    * published manifest.
    */
  private def commitImpl(batch: String, triples: DataFrame,
      supersedes: Seq[String], m: TripleStore.Manifests): Manifest = {
    graft.util.StoreFs.requireBatchId(batch)
    // a superseding manifest kills a batch id FOREVER (and the data write
    // below uses REPLACE semantics): recommitting a dead id — e.g. a
    // stream restarted with a fresh checkpoint reusing stream-00000001
    // after a compaction — would succeed silently but stay invisible to
    // committed(). Fail loudly instead.
    require(!m.dead(batch),
      s"batch id '$batch' was superseded by an earlier rewrite/compaction " +
        "and can never become visible again; pick a fresh id")
    // record the supersedes CLOSURE so deadness survives cleanup of
    // intermediate manifests (crash between commit and cleanup)
    val allSupersedes = if (supersedes.isEmpty) Nil else transitiveSupersedes(supersedes, m)
    val dir = dataDir(batch)
    // NORMALIZE to the canonical stored columns/types BEFORE writing —
    // the read side declares [[storedSchema]] instead of inferring, and
    // compaction/rewrite re-reads batch dirs with that same declared
    // schema, so the physical files MUST be uniform: a batch committed
    // without `weight` (legal — markers and q46-style data carry none)
    // or with an INT weight would otherwise mix footer schemas across
    // batches, and a later fold of mixed batches would either drop the
    // column for every row (schema inferred from one file) or throw a
    // parquet INT32→BIGINT read error. Extra caller columns are dropped
    // (the doc contract); subj/pred/obj are required.
    val inCols = triples.columns.toSet
    require(Seq("subj", "pred", "obj").forall(inCols),
      s"commit requires columns subj, pred, obj; got ${triples.columns.mkString(", ")}")
    val (effDataBuckets, effMarkerBuckets) = adaptiveBuckets(triples)
    val withPartCols = triples
      .select(
        col("subj").cast("string").as("subj"),
        // a null or empty pred would land in the Hive default dir, which
        // no pred read names: fail the write job instead
        when(coalesce(col("pred").cast("string"), lit("")) === "",
          raise_error(lit("commit: pred must be non-null and non-empty")))
          .otherwise(col("pred").cast("string")).as("pred"),
        col("obj").cast("string").as("obj"),
        (if (inCols("weight")) col("weight").cast("bigint")
         else lit(null).cast("bigint")).as("weight"),
        (if (inCols("lang")) coalesce(col("lang").cast("string"), lit("und"))
         else lit("und")).as("lang"))
      // marker predicates (processedIn*) use a COARSER bucket dimension:
      // nothing ever bucket-prunes markers (the anti-join filters pred
      // and joins on subj), so the full urlBuckets spread only multiplies
      // the per-commit file count — but collapsing to ONE bucket would
      // funnel every marker row of a lang into a single write task (a
      // straggler at 10^8-page commits). markerBuckets balances the two:
      // one marker row/page over markerBuckets ≈ data rows/bucket-task.
      // Data predicates keep the url-hash spread for co-located joins and
      // scoped deletes. Both spreads are scale-adaptive under their caps
      // — see [[adaptiveBuckets]].
      .withColumn("bucket",
        when(col("pred").startsWith(graft.schema.Pred.Processed),
          pmod(xxhash64(col("subj")), lit(effMarkerBuckets)))
          .otherwise(pmod(xxhash64(col("subj")), lit(effDataBuckets))))
    val obs = new Observation()
    val predCount = udaf(PredCounter)
    withPartCols
      // hash-distribute on the partition columns before the partitionBy
      // write (Iceberg write.distribution-mode=hash): each (lang, bucket)
      // dir gets ONE file per (pred, lang, bucket) per commit instead of
      // one sliver per input task — bounded file counts at any batch size
      // (pred cardinality is a handful of predicates × runs)
      .repartition(col("lang"), col("bucket"))
      // "dirs" is PredCounter over the DirSep-joined partition key: one
      // row count per (pred, lang, bucket) output dir, task-reported the
      // way an Iceberg writer reports DataFile stats. One file per dir
      // under the hash-distributed write → these ARE the manifest's
      // per-file stats. Cardinality is bounded by the per-commit file
      // count (preds × langs × buckets).
      .observe(obs, count(lit(1)).as("rows"), predCount(col("pred")).as("preds"),
        predCount(concat(col("pred"), lit(DirSep), col("lang"), lit(DirSep),
          col("bucket").cast("string"))).as("dirs"))
      .write.mode(SaveMode.Overwrite)
      // never split a dir's file: overrides a session
      // spark.sql.files.maxRecordsPerFile, which would break the
      // one-file-per-dir invariant the dir counts rely on
      .option("maxRecordsPerFile", 0L)
      // pred LEADS the partition spec: the incremental anti-join reads
      // ONLY `pred=processedIn*` directories instead of the full store
      // (the one genuine scale-killer at 10^12 committed triples —
      // VERDICT r02 #1); run-scoped overwrite deletes prune the same way
      .partitionBy("pred", "lang", "bucket")
      .parquet(dir)
    def counts(metric: String) = obs.get(metric).asInstanceOf[scala.collection.Map[String, Long]].toMap
    val manifest = Manifest(batch, obs.get("rows").asInstanceOf[Long], dir, counts("preds"),
      perFileRowCounts(dir, counts("dirs")), allSupersedes)
    sfs.writeStringAtomic(manifestPath(batch), manifest.render, tmpName = s"$batch.tmp")
    manifest
  }

  /** Separator for the per-dir observe key — a control char no predicate,
    * language tag or bucket digit contains (preds/langs are generated by
    * this codebase's own schema; see [[graft.schema.Pred]]).
    */
  private val DirSep = "\u0001"

  /** Per-file row counts for the manifest, from the write job's own
    * per-dir observe metric (the "dirs" [[PredCounter]] over the
    * DirSep-joined partition key) — task-reported stats, the way an
    * Iceberg writer reports `DataFile` row counts — plus ONE recursive
    * listing to learn the task-generated file names. The hash-distributed
    * write puts all rows of a (lang, bucket) shuffle partition in one
    * task and never splits a file (`maxRecordsPerFile` pinned to 0), so
    * each (pred, lang, bucket) dir receives exactly one file per commit
    * and dir counts ARE file counts. This is the only stats source: a
    * listed dir without an observed count, an observed dir without a
    * file, or a dir with two files throws IllegalStateException naming
    * the dir, before the manifest is published.
    */
  private def perFileRowCounts(dir: String, counts: Map[String, Long]): Seq[(String, Long)] = {
    val byDir = sfs.listFilesRecursive(new HPath(dir), ".parquet").groupBy(dirKey)
    def broken(what: String, key: String) = throw new IllegalStateException(
      s"commit of $dir: $what ${key.replace(DirSep, "/")} breaks the " +
        "one-file-per-(pred, lang, bucket)-dir invariant of the manifest stats")
    (counts.keySet -- byDir.keySet).foreach(broken("observed dir without a file:", _))
    byDir.toSeq.map { case (key, files) =>
      if (!counts.contains(key)) broken("listed dir without an observed count:", key)
      if (files.size != 1) broken(s"${files.size} files in dir", key)
      files.head.toString -> counts(key)
    }
  }

  /** A data file's observe key, rebuilt from its partition path
    * (…/pred=X/lang=Y/bucket=Z/part-….parquet) with partition-value
    * escaping reversed, so the key matches the raw column values the
    * metric saw. An empty lang is written to the Hive default dir.
    */
  private def dirKey(file: HPath): String = {
    val bucket = file.getParent
    val lang = bucket.getParent
    Seq(lang.getParent -> "pred=", lang -> "lang=", bucket -> "bucket=").map { case (d, prefix) =>
      val n = d.getName
      if (!n.startsWith(prefix)) throw new IllegalStateException(
        s"$file lies outside the (pred, lang, bucket) partition layout")
      val v = n.stripPrefix(prefix)
      if (v == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) "" else ExternalCatalogUtils.unescapePathName(v)
    }.mkString(DirSep)
  }

  /** All committed triples (subj, pred, obj, weight, lang, bucket, batch —
    * pred and the last three are PARTITION columns usable for pruning: a
    * reader filtering on pred, lang or url-bucket scans only matching
    * directories).
    *
    * The store schema is an invariant of [[commit]] (which normalizes
    * every batch to exactly these columns), so reads declare it instead
    * of re-inferring from footers — O(1) instead of O(files) per read.
    */
  private val storedSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "subj STRING, pred STRING, obj STRING, weight BIGINT, " +
      "lang STRING, bucket INT, batch STRING") // pred + last three: partition cols

  def committed(): DataFrame = readDirs(manifests().nonEmpty.map(dataDir))

  /** The stored rows under `dirs` (batch dirs or their `pred=` subtrees),
    * read with the DECLARED schema: commit normalizes every batch to
    * these columns, and inference with mergeSchema off would sample ONE
    * file's footer — against a store whose batches predate a schema
    * addition that silently drops the column from a fold or rewrite for
    * every row.
    */
  private def readDirs(dirs: Seq[String]): DataFrame =
    if (dirs.isEmpty) emptyStored()
    else spark.read
      .option("basePath", s"$root/data")
      .schema(storedSchema)
      .parquet(dirs: _*)
      .select("subj", "pred", "obj", "weight", "lang", "bucket", "batch")

  /** Empty READER-side frame with the full stored schema — an empty store
    * must expose the same columns (lang/bucket/batch included) as a
    * non-empty one, or first-run callers referencing them would hit
    * UNRESOLVED_COLUMN where the identical code works after one commit.
    */
  private def emptyStored(): DataFrame =
    graft.util.Frames.empty(spark, storedSchema.toDDL)

  /** The incremental anti-join (J1/J2): pages whose url has NO committed
    * triple with `pred` — Spark's first-class left_anti replaces the
    * reference's LEFT-JOIN-IS-NULL (`ner_extractor/db_io.py:37-55`).
    * Run-scoped callers pass `Pred.processedFor(idRun)` so each model run
    * tracks its own assignment frontier (reference
    * `topics_detector/db_io.py:389-413`, PK `(id_news, id_run)`).
    */
  def unprocessed(pages: DataFrame, pred: String,
      bloomThreshold: Long = 10000000L): DataFrame = {
    // pred is a leading partition column AND the read is rooted at the
    // marker subdirectories: the anti-join neither scans NOR LISTS data
    // partitions (listing every leaf dir is itself O(store files) at
    // 10^12 triples), so a micro-batch's frontier read stays O(markers)
    val m = manifests()
    val done0 = forPred(m, pred)
      .filter(col("pred") === pred) // belt over the path rooting
      .select(col("subj").as("url"))
    // Above bloomThreshold committed markers (known from manifest
    // metrics — no data read), a bloom filter over the BATCH's urls
    // shrinks the marker side to ~|batch| BEFORE the anti-join shuffle:
    // the marker-side shuffle is what dominates a small micro-batch
    // against a 10^10-marker store. Bloom false positives only retain
    // extra marker rows whose urls are not in the batch — they cannot
    // change a left_anti result; blooms have no false negatives.
    //
    // DETERMINISM PRECONDITION: the `pages` plan is evaluated once for
    // the bloom build (count + filter share a persisted url projection)
    // and once more by the anti-join. All callers pass deterministic
    // plans (parquet/fixture reads + deterministic transforms). A
    // NONDETERMINISTIC pages plan (e.g. a sample without a seed) could
    // yield bloom false negatives against the join-time rows, dropping
    // committed markers and re-committing processed pages as duplicates —
    // persist such a plan before calling.
    val done =
      if (m.predRows(pred) <= bloomThreshold) done0
      else {
        val spark = pages.sparkSession
        // size the bloom from a cheap batch count (the marker side is
        // ≥ bloomThreshold rows; one narrow pass over the batch is noise)
        // instead of a fixed 10M-slot ~9 MB broadcast whose fpp also
        // degrades for batches larger than the hardcoded capacity. The
        // count and the bloom build share ONE evaluation of the pages
        // plan via a persisted url projection (ADVICE r04: relying on
        // callers to persist meant an expensive clean-text plan ran three
        // times); the projection is one string per row, so the cache is
        // tiny, and it is released as soon as the bloom broadcast — an
        // eager action — is built. The anti-join itself still evaluates
        // the caller's plan once, as any join must.
        // broadcast lifetime: the handle is captured by the udf below and
        // lives as long as the returned (lazy) DataFrame — an explicit
        // destroy() here would break the caller's later action. Cleanup
        // is Spark's ContextCleaner: once the caller's trigger/action
        // completes and drops the frame, driver GC reclaims the broadcast
        // (executor blocks are MEMORY_AND_DISK, so an un-GC'd window
        // spills rather than OOMs). A long-running stream thus stays
        // bounded at O(in-flight triggers) blooms, not O(all triggers).
        val urls = pages.select(col("url"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val bf =
          try {
            val expected = math.max(urls.count(), 1024L)
            spark.sparkContext.broadcast(
              urls.stat.bloomFilter("url", expected, 0.03))
          } finally urls.unpersist(blocking = false)
        val mightContain = udf((u: String) => u != null && bf.value.mightContain(u))
        done0.filter(mightContain(col("url")))
      }
    // no distinct on the marker side: left_anti is insensitive to right
    // duplicates (markers are unique per (url, pred) by construction
    // anyway — this anti-join is what enforces it), and the distinct was
    // a whole extra aggregate exchange on the BIG side of the join
    pages.join(done, Seq("url"), "left_anti")
  }

  /** Committed row count of one predicate, summed from the per-manifest
    * metrics — never a data read.
    */
  def predRowCount(pred: String): Long = manifests().predRows(pred)

  /** Committed triples of ONE predicate, read from `batch=* /pred=<p>`
    * subtrees directly — file LISTING is proportional to that predicate's
    * partitions, never the whole store. Same schema as [[committed]].
    */
  def committedForPred(pred: String): DataFrame = forPred(manifests(), pred)

  /** The `pred=` dirs of every live batch whose manifest counts `pred` —
    * planned from the manifests alone, no filesystem probe.
    */
  private def forPred(m: TripleStore.Manifests, pred: String): DataFrame = {
    val escaped = ExternalCatalogUtils.escapePathName(pred)
    readDirs(m.nonEmpty.filter(b => m.byBatch(b).preds.getOrElse(pred, 0L) > 0L)
      .map(b => s"${dataDir(b)}/pred=$escaped"))
  }

  /** Predicated delete (S7) — reference `overwrite` mode: copy-on-write
    * rewrite of ONLY the batches containing matching rows, atomically
    * swapped in via a superseding manifest. Crash-safety: until the
    * rewrite manifest's atomic rename, every prior batch stays live;
    * after it, the rewrite supersedes exactly the affected batches.
    * Superseded manifests/data are then best-effort cleaned (a crash
    * mid-cleanup changes nothing — they are already dead).
    */
  def deleteWhere(condition: Column): Unit = {
    // NULL-evaluating rows must be RETAINED, not silently dropped: with a
    // raw `!condition`, both branches exclude them, so a null-obj row
    // sharing a batch with a real match would vanish from the rewrite
    val cond = coalesce(condition, lit(false))
    rewriteExcluding(df => df.filter(cond), df => df.filter(!cond))
  }

  /** Scoped delete (reference `topics_detector/db_io.py:334-345`): drop
    * rows matching `condition` whose subj is in `subjKeys` (a DataFrame
    * with column `subj`) — the run+source-scoped overwrite delete. The
    * scope arrives as a semi-join, never a collected IN-list.
    */
  def deleteScoped(condition: Column, subjKeys: DataFrame): Unit = {
    val keys = subjKeys.select(col("subj")).distinct()
    val cond = coalesce(condition, lit(false)) // NULL evaluates to "retain"
    rewriteExcluding(
      df => df.filter(cond).join(keys, Seq("subj"), "left_semi"),
      df => df.filter(!cond).unionByName(
        df.filter(cond).join(keys, Seq("subj"), "left_anti"),
        allowMissingColumns = false))
  }

  /** Compaction (Iceberg `rewrite_data_files` analogue): fold the given
    * committed batches (default: all) into ONE batch, swapped in
    * atomically via the superseding manifest. Incremental/streaming
    * ingestion accumulates a manifest+dir per micro-batch; periodic
    * compaction bounds both the manifest count and the file count
    * (commit writes one file per (lang, bucket)).
    */
  def compact(batches: Seq[String] = Seq.empty): Unit = {
    awaitMaintenanceLock()
    try compactImpl(batches, runCleanup = true)
    finally unlockMaintenance()
  }

  /** Size-tiered auto-compaction (the streaming maintenance policy):
    * while more than `maxLive` batches are live, fold the SMALLEST
    * `fanIn` of them into one. A stream committing one manifest per
    * micro-batch forever stays bounded at ~`maxLive` manifests, and —
    * unlike full recompaction per trigger, which rewrites the whole
    * store each time — each row is rewritten O(log_{fanIn} total/batch)
    * times over the store's lifetime (LSM size-tiering). Returns the
    * number of compactions performed.
    */
  def autoCompact(maxLive: Int = 16, fanIn: Int = 8): Int = {
    require(maxLive >= 2 && fanIn >= 2, "autoCompact needs maxLive, fanIn >= 2")
    if (manifests().live.size <= maxLive) return 0
    // opportunistic maintenance SKIPS when another maintainer holds the
    // lock (a concurrent stream's trigger will fold soon enough); only
    // explicit compact()/delete calls wait
    if (!tryMaintenanceLock()) return 0
    try {
      var rounds = 0
      var m = manifests() // one listing per round, under the lock
      while (m.live.size > maxLive) {
        val smallest = m.live.sortBy(b => (m.byBatch(b).rows, b)).take(fanIn)
        compactImpl(m, smallest, runCleanup = true) // lock already held
        rounds += 1
        m = manifests()
      }
      rounds
    } finally unlockMaintenance()
  }

  /** Crash-simulation seam (tests only): compact without the best-effort
    * cleanup, leaving superseded manifests+data in place — the state a
    * crash between the commit rename and cleanup produces.
    */
  private[graft] def compactImpl(batches: Seq[String], runCleanup: Boolean): Unit =
    compactImpl(manifests(), batches, runCleanup)

  private def compactImpl(m: TripleStore.Manifests, batches: Seq[String],
      runCleanup: Boolean): Unit = {
    // Only LIVE batches are foldable. An explicit list may arrive from an
    // orchestrator RETRY after the compaction already completed — its
    // targets are then dead (or cleaned away entirely); folding "them"
    // would commit an EMPTY batch under the same deterministic compact id
    // and Overwrite the real folded data. Dropping non-live targets makes
    // the retry a safe no-op (crash-before-commit retries still see all
    // targets live and redo the work).
    val live = m.live.toSet
    val target = (if (batches.nonEmpty) batches.filter(live) else m.live).sorted
    if (target.size < 2) {
      // the retry may still owe the crashed run its cleanup
      if (runCleanup) sweepLingeringDead(m)
      return
    }
    // rows:0 batches have NO data files (an empty partitionBy write emits
    // none) — fold their manifests away without trying to read them
    val data = readDirs(target.filter(m.hasData).map(dataDir)).drop("batch", "bucket")
    val cid = "zcompact-" + graft.util.Hashing.xxhash64(target.mkString(",")).toHexString
    replace(cid, data, target, m, sweep = runCleanup)
  }

  /** Commit z-id batch `id` superseding `targets` — the shared tail of
    * compaction and predicated delete — then (unless a crash seam skips
    * it) sweep the targets with every other dead manifest.
    */
  private def replace(id: String, data: DataFrame, targets: Seq[String],
      m: TripleStore.Manifests, sweep: Boolean = true): Unit = {
    val published = commitImpl(id, data, targets, m)
    if (sweep) sweepLingeringDead(m.plus(published))
  }

  /** Opportunistic sweep of manifests that are dead but lingered from an
    * earlier crash window (superseding commit landed, cleanup didn't) —
    * safe because deadness is recorded transitively. Also sweeps ORPHAN
    * rewrite/compaction data dirs: a crash between the zcompact/zrewrite
    * data write and its manifest rename leaves a dir with no `.commit`;
    * if the retry's target set shifted (new batches arrived), its
    * deterministic id differs and the orphan would leak forever —
    * invisible to readers, but permanent storage. Only the z-prefixed
    * staging ids are swept (they are written synchronously inside
    * compact/delete calls, never by a concurrent ingest writer).
    */
  private def sweepLingeringDead(m: TripleStore.Manifests): Unit = {
    val lingering = m.byBatch.keys.filter(m.dead).toSeq
    if (lingering.nonEmpty) cleanup(lingering)
    // legacy checksum litter: publications before the crc fix leaked one
    // `.<batch>.tmp.crc` per commit (writeStringAtomic now deletes them
    // at publish time) — sweep any whose staged tmp file is gone, so a
    // long-lived pre-fix store converges to a clean _manifest listing.
    // RAW listing (the view's `entries`) and delete: the checksummed
    // local FS hides .crc sidecars from its own listStatus
    val present = m.entries.toSet
    m.entries
      .filter(n => n.startsWith(".") && n.endsWith(".crc"))
      .filter(n => !present.contains(n.stripPrefix(".").stripSuffix(".crc")))
      .foreach { n =>
        try sfs.deleteRaw(new HPath(manifestDir, n))
        catch { case _: java.io.IOException => () }
      }
    val dataRoot = new HPath(s"$root/data")
    val fs = dataRoot.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(dataRoot)) {
      // grace window: only z dirs OLDER than zOrphanGraceMs are swept —
      // a young unmanifested dir may be another maintainer's in-flight
      // staging (reachable despite the lock via stale-lock takeover)
      val cutoff = System.currentTimeMillis() - zOrphanGraceMs
      val orphans = fs.listStatus(dataRoot).toSeq
        .filter(st => st.isDirectory &&
          st.getPath.getName.startsWith("batch=z") &&
          st.getModificationTime < cutoff)
        .map(_.getPath.getName.stripPrefix("batch="))
        .filterNot(m.byBatch.contains)
      if (orphans.nonEmpty) cleanup(orphans)
    }
  }

  private def cleanup(batches: Seq[String]): Unit =
    batches.foreach { b =>
      try {
        sfs.delete(manifestPath(b), recursive = false)
        sfs.delete(new HPath(dataDir(b)), recursive = true)
      } catch { case _: java.io.IOException => () }
    }

  private def rewriteExcluding(
      matching: DataFrame => DataFrame,
      keep: DataFrame => DataFrame): Unit = {
    awaitMaintenanceLock()
    try rewriteExcludingLocked(matching, keep)
    finally unlockMaintenance()
  }

  private def rewriteExcludingLocked(
      matching: DataFrame => DataFrame,
      keep: DataFrame => DataFrame): Unit = {
    val m = manifests()
    if (m.live.isEmpty) return
    // one pruned scan finds which batches contain matching rows (batch is
    // a partition column; predicates on lang/bucket prune directories)
    val affected = matching(readDirs(m.nonEmpty.map(dataDir))).select(col("batch").cast("string"))
      .distinct().collect().map(_.getString(0)).sorted.toSeq
    if (affected.isEmpty) return
    val remaining = keep(readDirs(affected.map(dataDir))).drop("batch", "bucket") // re-derived on commit
    // deterministic rewrite id: a crashed delete retried with the same
    // store state recomputes the same affected set → same staging dir
    val rid = "zrewrite-" + graft.util.Hashing.xxhash64(affected.mkString(",")).toHexString
    replace(rid, remaining, affected, m)
  }
}

object TripleStore {
  /** One listing of `_manifest` (`entries`, checksum sidecars included)
    * and the manifests it named, keyed by batch id: what one public call
    * knows about the store.
    */
  private[pipeline] final class Manifests(val entries: Seq[String],
      val byBatch: Map[String, Manifest]) {
    /** Batches superseded by ANY manifest (live or itself superseded). */
    val dead: Set[String] = byBatch.values.flatMap(_.supersedes).toSet
    val live: Seq[String] = byBatch.keys.filterNot(dead).toSeq.sorted
    def hasData(b: String): Boolean = byBatch(b).rows != 0L
    /** Live batches with data files. */
    def nonEmpty: Seq[String] = live.filter(hasData)
    def predRows(pred: String): Long = live.map(byBatch(_).preds.getOrElse(pred, 0L)).sum
    /** This view after `m` was published. */
    def plus(m: Manifest): Manifests =
      new Manifests(entries :+ s"${m.batch}.commit", byBatch.updated(m.batch, m))
  }

  /** See the constructor param: minimum age before an unmanifested z*
    * staging dir counts as a crash orphan.
    */
  val DefaultZOrphanGraceMs: Long = 15L * 60 * 1000

  /** A maintenance lock or a [[graft.util.Snapshots]] version claim
    * older than this is treated as a crashed holder and taken over. Must
    * comfortably exceed the longest legitimate single maintenance
    * operation (a fold/rewrite of fanIn batches) or version write.
    */
  val LockStaleMs: Long = 30L * 60 * 1000

  /** How long explicit compact()/delete calls wait for the lock before
    * failing loudly.
    */
  val LockWaitMs: Long = 10L * 60 * 1000

  /** Target bytes per bucket file of one commit (see `adaptiveBuckets`). */
  val BucketTargetBytes: Long = 64L * 1024 * 1024
}
