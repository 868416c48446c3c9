package graft.topics

import java.util.Random

import scala.jdk.CollectionConverters._

import breeze.linalg.{eigSym, DenseMatrix => BDM}
import org.apache.spark.ml.evaluation.ClusteringEvaluator
import org.apache.spark.ml.linalg.{Vector => MlVector, Vectors => MlVectors}
import org.apache.spark.mllib.linalg.SparseVector
import org.apache.spark.mllib.linalg.distributed.RowMatrix
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The topic model's one fit — the reference's
  * `02_topics_detector_train_pipeline.py` (`model.py:96-129`):
  *
  *   TfidfVectorizer(max_features, min_df, max_df, ngram (1,2), smooth idf)
  *   TruncatedSVD(n_components) → the top eigenvectors of the Gramian XᵀX
  *   Normalizer                 → [[TopicScorer.project]]
  *   KMeans(k, random_state)    → seeded k-means++ plus Lloyd ([[kmeans]])
  *
  * Every rule is written once, and the two entry points differ only in
  * where the sums come from:
  *   - driver: counts from a loop over a `Seq`, the dense Gramian XᵀX,
  *     and every point clustered in input order (the fixture model);
  *   - Spark: df and corpus counts in one aggregation, the Gramian in one
  *     `treeAggregate`, and k-means on a seeded sample of at most
  *     [[KMeansSample]] reduced rows (`TrainJob`, q45).
  * Training rows are [[TopicScorer.tfidfVector]] rows reduced by
  * [[TopicScorer.project]], the functions inference runs, so k-means fits
  * the points it later scores. Training parity with sklearn is
  * tolerance-only (its SVD and KMeans are randomized, SURVEY.md §7.4 #6);
  * inference given the returned [[TopicModelParams]] is exact.
  */
object TopicTrainer {

  /** Training hyperparameters; the defaults mirror the reference's
    * shipped config (`topics_detector/model.py:23-35`). Every field is
    * checked here, so neither entry point starts work on an invalid one.
    */
  final case class Config(
      vocabSize: Int = 512,
      minDf: Int = 2,
      maxDfRatio: Double = 0.7,
      nComponents: Int = 8,
      k: Int = 6,
      seed: Long = 31415L) {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    require(minDf >= 1, s"minDf must be >= 1, got $minDf")
    require(maxDfRatio > 0.0 && maxDfRatio <= 1.0, s"maxDfRatio must be in (0, 1], got $maxDfRatio")
    require(nComponents >= 1, s"nComponents must be >= 1, got $nComponents")
    require(k >= 1, s"k must be >= 1, got $k")
  }

  /** Largest vocabulary whose vocab × vocab Gramian is decomposed on the
    * driver by `eigSym`; above it `computeSVD` runs, the one path that
    * never builds a vocab² matrix on the driver. The cap is the measured
    * crossover: a Spark fit of 6,000 PageGen pages on 4 local cores took,
    * `eigSym` vs `computeSVD`, 4.6 vs 7.6 s at vocab 1024, 6.4 vs 6.7 s
    * at 1280, 9.5 vs 6.3 s at 1536, 26.0 vs 6.0 s at 2048 and 198 vs
    * 16.9 s at 4096.
    */
  val DenseSvdMaxVocab = 1280

  /** Most points k-means clusters on the driver: the Spark fit's sample
    * of reduced rows and [[graft.ops.IvfIndex.train]]'s default sample.
    */
  val KMeansSample = 4096

  /** Lloyd rounds after k-means++ seeding (sklearn's `max_iter`). */
  private val LloydIters = 100

  /** Components past the numerical rank (σ ≤ RankCut · σ₀, `computeSVD`'s
    * rCond) are zero.
    */
  private val RankCut = 1e-9

  /** Fits the model on the driver, clustering every text in input order. */
  def fit(texts: Seq[String], cfg: Config): TopicModelParams = {
    val n = texts.length.toLong
    val df = new java.util.HashMap[String, java.lang.Long]()
    val cf = new java.util.HashMap[String, java.lang.Long]()
    texts.foreach(t => termCounts(t).forEach { (term, c) =>
      df.merge(term, 1L, (a, b) => a + b)
      cf.merge(term, c.longValue, (a, b) => a + b)
    })
    val stats = df.asScala.iterator
      .map { case (term, d) => (term, d.longValue, cf.get(term).longValue) }
      .filter(s => inDfBounds(s._2, n, cfg)).toSeq
    val base = vocabModel(stats.sorted(TermOrder).take(cfg.vocabSize), n, cfg)
    val rows = texts.map(TopicScorer.tfidfVector(base, _))
    val x = BDM.zeros[Double](texts.length, base.vocab.length)
    rows.iterator.zipWithIndex.foreach { case ((idx, vals), r) =>
      var p = 0
      while (p < idx.length) { x(r, idx(p)) = vals(p); p += 1 }
    }
    val model = base.copy(components = components(x.t * x, cfg))
    val points = rows.map { case (idx, vals) => TopicScorer.project(model, idx, vals) }
    model.copy(centroids = kmeans(points.toArray, cfg.k, cfg.seed))
  }

  /** Fits the model with Spark over the `url` and `clean` columns.
    *
    * @return the model and the silhouette of every reduced row under it
    *         (-1.0 when k < 2, reference `model.py:141-144`)
    */
  def fit(cleaned: DataFrame, cfg: Config): (TopicModelParams, Double) = {
    val spark = cleaned.sparkSession
    val texts = cleaned.select(col("url"), coalesce(col("clean"), lit("")).as("clean"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // released in the finally: a failed fit must not leave corpus copies
    // in the block manager for the JVM's lifetime
    var rows: RDD[(String, SparseVector)] = null
    try {
      val n = texts.count()
      val top = texts.rdd
        .flatMap(r => termCounts(r.getString(1)).asScala.iterator
          .map { case (term, c) => (term, (1L, c.longValue)) })
        .reduceByKey((a, b) => (a._1 + b._1, a._2 + b._2))
        .collect { case (term, (d, c)) if inDfBounds(d, n, cfg) => (term, d, c) }
        .takeOrdered(cfg.vocabSize)(TermOrder)
      val base = vocabModel(top.toSeq, n, cfg)
      val baseBc = spark.sparkContext.broadcast(base)
      rows = texts.rdd.map { r =>
        val (idx, vals) = TopicScorer.tfidfVector(baseBc.value, r.getString(1))
        (r.getString(0), new SparseVector(base.vocab.length, idx, vals))
      }.persist(StorageLevel.MEMORY_AND_DISK)
      val matrix = new RowMatrix(rows.map(_._2), n, base.vocab.length)
      val comps =
        if (base.vocab.length <= DenseSvdMaxVocab) {
          val g = matrix.computeGramianMatrix()
          components(new BDM(g.numRows, g.numCols, g.toArray), cfg)
        } else {
          val v = matrix.computeSVD(cfg.nComponents, computeU = false).V
          Array.tabulate(base.vocab.length, cfg.nComponents)(
            (i, j) => if (j < v.numCols) v(i, j) else 0.0)
        }
      texts.unpersist(blocking = false)
      val reduced = base.copy(components = comps)
      val reducedBc = spark.sparkContext.broadcast(reduced)
      def points = rows.map { case (url, v) =>
        (url, TopicScorer.project(reducedBc.value, v.indices, v.values))
      }
      // the IvfIndex.train sample: top rows by a seeded hash of the key,
      // then in key order, so the centroids do not depend on partitioning
      val sample = spark.createDataFrame(points.map { case (u, x) => (u, MlVectors.dense(x)) })
        .toDF("url", "features")
        .orderBy(xxhash64(col("url"), lit(cfg.seed)), col("url"))
        .limit(KMeansSample)
        .collect().map(r => (r.getString(0), r.getAs[MlVector](1).toArray))
        .sortBy(_._1).map(_._2)
      val model = reduced.copy(centroids = kmeans(sample, cfg.k, cfg.seed))
      val silhouette =
        if (cfg.k < 2) -1.0
        else {
          val modelBc = spark.sparkContext.broadcast(model)
          val scored = points.map { case (_, x) =>
            (MlVectors.dense(x), TopicScorer.assign(modelBc.value, x)._1)
          }
          new ClusteringEvaluator().setFeaturesCol("features").setPredictionCol("prediction")
            .evaluate(spark.createDataFrame(scored).toDF("features", "prediction"))
        }
      (model, silhouette)
    } finally {
      texts.unpersist(blocking = false)
      if (rows != null) rows.unpersist(blocking = false)
    }
  }

  /** Each term of `text` with its count: the tokens of
    * [[TopicScorer.tokenize]] and the bigrams of consecutive tokens.
    */
  private def termCounts(text: String): java.util.HashMap[String, Integer] = {
    val toks = TopicScorer.tokenize(text)
    val counts = new java.util.HashMap[String, Integer]()
    def add(term: String): Unit = counts.merge(term, 1, (a, b) => a + b)
    var i = 0
    while (i < toks.length) {
      add(toks(i))
      if (i > 0) add(toks(i - 1) + " " + toks(i))
      i += 1
    }
    counts
  }

  /** ⌊maxDfRatio · n⌋, the largest document frequency a term may have. */
  private def maxDf(n: Long, cfg: Config): Long = (cfg.maxDfRatio * n).toLong

  private def inDfBounds(df: Long, n: Long, cfg: Config): Boolean =
    df >= cfg.minDf && df <= maxDf(n, cfg)

  /** (term, df, corpus count): most counted first, ties alphabetical. */
  private val TermOrder: Ordering[(String, Long, Long)] = Ordering.by(s => (-s._3, s._1))

  /** The alphabetical vocabulary of the `top` terms with sklearn's smooth
    * idf `ln((1 + n) / (1 + df)) + 1`; no components or centroids yet.
    */
  private def vocabModel(top: Seq[(String, Long, Long)], n: Long, cfg: Config): TopicModelParams = {
    require(top.nonEmpty,
      s"empty vocabulary: no term of n = $n texts has minDf = ${cfg.minDf} <= df <= " +
        s"${maxDf(n, cfg)} (maxDfRatio = ${cfg.maxDfRatio} of n)")
    val terms = top.sortBy(_._1)
    TopicModelParams(terms.map(_._1).toArray,
      terms.map(s => math.log((1.0 + n) / (1.0 + s._2)) + 1.0).toArray,
      Array.empty, Array.empty)
  }

  /** The top `nComponents` eigenvectors of the Gramian by eigenvalue,
    * descending, as a vocab × nComponents matrix; columns past the
    * numerical rank are zero.
    */
  private def components(gram: BDM[Double], cfg: Config): Array[Array[Double]] = {
    val es = eigSym(gram)
    val order = (0 until es.eigenvalues.length).sortBy(i => -es.eigenvalues(i))
    val sigmas = order.map(i => math.sqrt(math.max(es.eigenvalues(i), 0.0)))
    val rank = if (sigmas.isEmpty || sigmas(0) <= 0.0) 0 else sigmas.count(_ > RankCut * sigmas(0))
    Array.tabulate(gram.rows, cfg.nComponents)(
      (i, c) => if (c < rank) es.eigenvectors(i, order(c)) else 0.0)
  }

  /** Seeded k-means++ then at most [[LloydIters]] Lloyd rounds, stopping
    * once no centroid coordinate moves more than 1e-12.
    */
  def kmeans(points: Array[Array[Double]], k: Int, seed: Long): Array[Array[Double]] = {
    val rng = new Random(seed)
    val n = points.length
    val d = points(0).length
    val cents = new Array[Array[Double]](k)
    cents(0) = points(rng.nextInt(n)).clone()
    val d2 = Array.fill(n)(Double.MaxValue)
    var c = 1
    while (c < k) {
      var i = 0
      var sum = 0.0
      while (i < n) {
        val dist = TopicScorer.sqDist(points(i), cents(c - 1))
        if (dist < d2(i)) d2(i) = dist
        sum += d2(i)
        i += 1
      }
      val target = rng.nextDouble() * sum
      i = 0
      var acc = 0.0
      while (i < n && acc + d2(i) < target) { acc += d2(i); i += 1 }
      cents(c) = points(math.min(i, n - 1)).clone()
      c += 1
    }
    var it = 0
    var moved = true
    while (it < LloydIters && moved) {
      val sums = Array.ofDim[Double](k, d)
      val counts = new Array[Int](k)
      var i = 0
      while (i < n) {
        val best = TopicScorer.nearest(cents, points(i))._1
        counts(best) += 1
        var j = 0
        while (j < d) { sums(best)(j) += points(i)(j); j += 1 }
        i += 1
      }
      moved = false
      var cc = 0
      while (cc < k) {
        if (counts(cc) > 0) {
          var j = 0
          while (j < d) {
            val nv = sums(cc)(j) / counts(cc)
            if (math.abs(nv - cents(cc)(j)) > 1e-12) moved = true
            cents(cc)(j) = nv
            j += 1
          }
        }
        cc += 1
      }
      it += 1
    }
    cents
  }
}
