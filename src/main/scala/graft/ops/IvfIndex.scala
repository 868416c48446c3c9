package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.topics.TopicTrainer

/** IVF (inverted-file) ANN index — the coarse-quantizer alternative to
  * [[LshIndex]]: vectors are assigned to their nearest of `cells`
  * k-means centroids and stored partitioned by cell; a probe reads only
  * the `nprobe` cells nearest the query (partition pruning) and
  * exact-ranks those candidates.
  *
  * Train/build/probe are decoupled exactly like a production IVF:
  *   - [[train]] fits the coarse quantizer on a driver-collected SAMPLE
  *     (quantizer quality needs a sample, not the corpus — at 100 TB you
  *     sample ~10⁵-10⁶ vectors);
  *   - [[build]] is one narrow pass + a cell-distributed write;
  *   - [[topK]] reads ≤ nprobe cell directories.
  */
object IvfIndex {

  /** Quantizer hyperparameters (cell count, k-means seed). */
  final case class Params(cells: Int = 16, seed: Long = 31415L)

  /** Fit the coarse quantizer on a sample (deterministic k-means++).
    *
    * The sample is drawn UNIFORMLY across the whole table — top-k by a
    * seeded hash of the row (a distributed TakeOrdered: O(n log k) scan,
    * no count pass, deterministic). A `.limit(n)` "sample" would take the
    * first files in listing order; at 100 TB that trains the quantizer on
    * one shard's distribution and probe recall collapses on the rest
    * (VERDICT r02 #4).
    *
    * `sampleSize` is settable so the skewed-layout spec can draw a sample
    * smaller than one cluster.
    */
  def train(embeddings: DataFrame, p: Params = Params(),
      sampleSize: Int = TopicTrainer.KMeansSample): Array[Array[Double]] = {
    val sample = embeddings
      .select(col("embedding").cast("array<double>").as("v"))
      .withColumn("rnd", xxhash64(col("v"), lit(p.seed)))
      .orderBy(col("rnd"))
      .limit(sampleSize)
      .select(col("v"))
      .collect().map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "empty embedding table")
    TopicTrainer.kmeans(sample, math.min(p.cells, sample.length), p.seed)
  }

  /** Nearest cell of one vector — delegates to the single cell-routing
    * definition shared with the [[graft.functions.IvfCells]] Expression.
    */
  def nearestCell(centroids: Array[Array[Double]], v: Array[Double]): Int =
    graft.functions.DedupSigImpl.nearestCells(v, centroids, 1)(0)

  /** The quantizer an index at `dir` was built with — written by
    * [[build]] (an underscore-prefixed sibling, invisible to the cell
    * partition discovery). Probes default to it, so an index can never
    * be probed with drifted centroids — the same geometry-recording
    * contract [[LshIndex]]'s `_params` provides. A missing sidecar (an
    * index persisted before recording existed, or a build that crashed
    * between the cell write and this one) is an EXPLICIT error naming
    * the fix — unlike LshIndex there is no meaningful default quantizer
    * to fall back to.
    */
  def loadCentroids(spark: SparkSession, dir: String): Array[Array[Double]] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_centroids")
    if (!p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p))
      throw new IllegalStateException(
        s"no recorded quantizer at $dir/_centroids (legacy or half-written " +
          "index): pass the training centroids explicitly, or rebuild")
    spark.read.parquet(s"$dir/_centroids")
      .select(col("cell"), col("c")).orderBy(col("cell"))
      .collect().map(_.getSeq[Double](1).toArray)
  }

  private def resolveCentroids(spark: SparkSession, dir: String,
      cents: Array[Array[Double]]): Array[Array[Double]] =
    // null (the default) = "use the quantizer recorded in the index" —
    // always correct for that index by construction; explicit centroids
    // exist for legacy sidecar-less indexes and to skip the load. The
    // load is memoized per dir with MTIME revalidation ([[SidecarCache]]):
    // an ad-hoc prober loop pays one stat RPC, not a read+sort+collect
    // job, per probe, and a rebuild — in-process OR out-of-process —
    // invalidates the memo (a stale quantizer would route queries to the
    // wrong cell partitions of the new index, the exact drift the
    // recorded-geometry contract forbids).
    if (cents != null) cents
    else
      try SidecarCache.cached(spark, s"$dir/_centroids")(loadCentroids(spark, dir))
      catch {
        // missing sidecar: re-raise loadCentroids' loud, fix-naming error
        case _: java.io.FileNotFoundException => loadCentroids(spark, dir)
      }

  /** Assign every (vec_id, embedding) row to its nearest centroid and
    * write the index partitioned by cell (one file per cell dir). Cell
    * routing is the codegen [[graft.functions.IvfCells]] Expression — the
    * build pass stays inside WholeStageCodegen like the LSH index build.
    * The centroids are recorded IN the index (see [[loadCentroids]]).
    */
  def build(embeddings: DataFrame, dir: String,
      centroids: Array[Array[Double]]): Unit = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    graft.functions.Registry.ensure(spark)
    embeddings
      .select(
        element_at(graft.functions.Registry.ivfCells(
          col("embedding").cast("array<double>"), centroids, 1), 1).as("cell"),
        col("vec_id").cast("long").as("id"),
        col("embedding").cast("array<double>").as("v"))
      .repartition(col("cell"))
      .write.mode(SaveMode.Overwrite).partitionBy("cell").parquet(dir)
    // AFTER the index write: Overwrite truncates `dir`, so the recorded
    // quantizer must land once the cells are in place
    centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "c")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/_centroids")
    SidecarCache.invalidate(s"$dir/_centroids") // drop any in-process memo
  }

  /** Probe the `nprobe` cells nearest the query; exact-rank candidates
    * by cosine. Partition pruning keeps the scan to those directories.
    */
  def topK(spark: SparkSession, dir: String, query: Array[Double],
      centroids: Array[Array[Double]] = null, // null → the build's recorded quantizer
      k: Int = 10, nprobe: Int = 4,
      excludeId: Option[Long] = None): DataFrame = {
    val cents = resolveCentroids(spark, dir, centroids)
    val cells = graft.functions.DedupSigImpl.nearestCells(query, cents, nprobe)
    val base = spark.read.parquet(dir)
      .filter(col("cell").isin(cells.map(Int.box): _*))
    val cands = excludeId.map(id => base.filter(col("id") =!= id)).getOrElse(base)
    cands
      .withColumn("cosine", round(Similarity.cosineToQuery(col("v"), query), 4))
      .select(col("id").as("vec_id"), col("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Batched probe (the [[graft.ops.LshIndex.topKBatch]] sibling): each
    * query routes to its `nprobe` nearest cells in one narrow pass
    * (keys-only (qid, cell) rows — query vectors are fetched later by
    * qid), candidates come from ONE shuffle join against the
    * cell-partitioned index, and ranking is per-query. For millions of
    * queries every cell is probed by someone, so the join replaces
    * per-query partition pruning at no loss; single ad-hoc probes should
    * keep using [[topK]], which prunes to nprobe directories.
    *
    * `queries` holds (query_id, embedding) rows. Output: (query_id,
    * vec_id, cosine, rnk), rnk ≤ k, ordering identical to [[topK]].
    */
  def topKBatch(spark: SparkSession, dir: String, queries: DataFrame,
      centroids: Array[Array[Double]] = null, // null → the build's recorded quantizer
      k: Int = 10, nprobe: Int = 4,
      excludeSelf: Boolean = false): DataFrame = {
    import spark.implicits._
    graft.functions.Registry.ensure(spark)
    val cents = resolveCentroids(spark, dir, centroids)
    val qvs = queries.select(col("query_id").cast("long").as("qid"),
      col("embedding").cast("array<double>").as("qv"))
    val qcells = qvs.select($"qid",
      explode(graft.functions.Registry.ivfCells($"qv", cents, nprobe))
        .as("cell"))
    val index = spark.read.parquet(dir).select($"cell", $"id", $"v")
    val cands0 = qcells.join(index, Seq("cell")).select($"qid", $"id", $"v")
    val cands = if (excludeSelf) cands0.filter($"qid" =!= $"id") else cands0
    Similarity.rankPerQuery(cands, qvs, k)
  }
}
