package graft.topics

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.evaluation.ClusteringEvaluator
import org.apache.spark.ml.feature.{CountVectorizer, IDF, NGram, RegexTokenizer}
import org.apache.spark.mllib.linalg.{Vectors => OldVectors}
import org.apache.spark.mllib.linalg.distributed.RowMatrix
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed training of the topic model — the reference's
  * `02_topics_detector_train_pipeline.py` re-expressed on Spark ML:
  *
  *   TfidfVectorizer(max_features, min_df, max_df, ngram (1,2))
  *     → RegexTokenizer + NGram(2) + CountVectorizer(vocabSize,minDF,maxDF)
  *       + IDF (sklearn smooth-idf = Spark idf + 1)
  *   TruncatedSVD(n_components)   → RowMatrix.computeSVD (V projection)
  *   Normalizer                   → row L2 normalize
  *   KMeans(k, seed)              → spark.ml KMeans
  *   silhouette                   → ClusteringEvaluator (−1.0 if k<2,
  *                                  reference model.py:141-144)
  *
  * Training parity vs sklearn is TOLERANCE-only (randomized SVD/KMeans are
  * seed/impl-specific — SURVEY.md §7.4 #6); what must be exact is
  * INFERENCE given the returned frozen [[TopicModelParams]], which is the
  * same scorer used for the fixture model.
  *
  * Scale notes: one pass fits CountVectorizer (distributed agg), one fits
  * IDF, SVD runs on the sparse TF-IDF RowMatrix (Gramian/ARPACK — switches
  * to the distributed path automatically above ~1k columns), KMeans runs
  * on the dense n×nComponents reduction. The wide vocab matrix V
  * (vocab × nComponents) returns to the driver and is broadcast at
  * inference, exactly like the reference's joblib artifact.
  */
object DistributedTrainer {

  /** Training hyperparameters; the defaults mirror the reference's
    * shipped config (`topics_detector/model.py:23-35`).
    */
  final case class Config(
      vocabSize: Int = 512,
      minDf: Double = 2.0,
      maxDf: Double = 0.7,
      nComponents: Int = 8,
      k: Int = 6,
      seed: Long = 31415L)

  /** Largest vocabulary for the local dense-Gramian SVD path (4096² × 8 B
    * = 128 MB on the driver); above it training falls back to
    * `computeSVD`'s auto-selected iterative/distributed modes.
    */
  val DenseSvdMaxVocab = 4096

  /** @param cleaned DataFrame with an already-cleaned `clean` column
    * @return (frozen model params, training silhouette)
    */
  def train(
      cleaned: DataFrame,
      cfg: Config = Config()): (TopicModelParams, Double) = {
    val spark = cleaned.sparkSession
    // every persisted handle is released in the finally below — a failed
    // fit (empty vocab, rank issues) must not leak cached corpus copies
    // into the block manager for the JVM's lifetime
    val persisted = scala.collection.mutable.ListBuffer.empty[() => Unit]
    try {

    val tok = new RegexTokenizer()
      .setInputCol("clean").setOutputCol("_toks")
      // the explicit class — Python-\w / oracle-RE2 exact, identical to
      // TopicScorer.tokenize and Text.sklearnTokens
      .setPattern("[\\p{L}\\p{N}_]{2,}").setGaps(false)
      .setToLowercase(false) // text is already cleanText-lowercased
    val bi = new NGram().setN(2).setInputCol("_toks").setOutputCol("_bi")
    val grams = bi.transform(tok.transform(cleaned.select(col("clean"))))
      .withColumn("_grams", concat(col("_toks"), col("_bi")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    persisted += (() => { grams.unpersist(blocking = false); () })

    val cvModel = new CountVectorizer()
      .setInputCol("_grams").setOutputCol("_counts")
      .setVocabSize(cfg.vocabSize).setMinDF(cfg.minDf).setMaxDF(cfg.maxDf)
      .fit(grams)
    val vocab = cvModel.vocabulary
    val counts = cvModel.transform(grams)

    // sklearn smooth idf = ln((1+n)/(1+df)) + 1 = Spark IDF + 1
    val idfSk = new IDF().setInputCol("_counts").setOutputCol("_x")
      .fit(counts).idf.toArray.map(_ + 1.0)
    val idfBc = spark.sparkContext.broadcast(idfSk)

    // L2-normalized tf*idf rows (exact TfidfVectorizer.transform output)
    val tfidf = counts.select("_counts").rdd.map { row =>
      val v = row.getAs[org.apache.spark.ml.linalg.SparseVector](0)
      val idf = idfBc.value
      val vals = new Array[Double](v.indices.length)
      var norm = 0.0
      var i = 0
      while (i < v.indices.length) {
        vals(i) = v.values(i) * idf(v.indices(i))
        norm += vals(i) * vals(i)
        i += 1
      }
      if (norm > 0) {
        val inv = 1.0 / math.sqrt(norm)
        i = 0
        while (i < vals.length) { vals(i) *= inv; i += 1 }
      }
      OldVectors.sparse(v.size, v.indices, vals)
    }.persist(StorageLevel.MEMORY_AND_DISK)
    persisted += (() => { tfidf.unpersist(blocking = false); () })
    tfidf.count()
    grams.unpersist(blocking = false)

    // TruncatedSVD: V from the sparse RowMatrix; transform is X·V.
    // V's columns are the top right singular vectors of X = the top
    // eigenvectors of the Gramian XᵀX, so for vocabularies up to
    // [[DenseSvdMaxVocab]] compute the Gramian (ONE distributed
    // treeAggregate pass — public RowMatrix API) and take a LOCAL dense
    // SVD of the vocab×vocab result. This is exactly `computeSVD`'s
    // LocalLAPACK mode, chosen explicitly: the public computeSVD entry
    // auto-picks LocalARPACK at this shape (k ≤ n/2), which pays
    // hundreds of iterative multiplies + ARPACK warmup for the same
    // factorization (measured 2.9 s → the Gramian pass alone here).
    // Rank handling unchanged on both branches: near-zero singular
    // values are dropped (computeSVD's rCond=1e-9 cut) and the missing
    // components zero-padded instead of indexing past V (beyond-rank
    // dimensions contribute exactly 0 to the projection).
    // Driver-memory guard: the dense Gramian is vocab² doubles (4096² =
    // 128 MB); above that the old computeSVD entry (which auto-selects
    // an iterative/distributed mode and never materializes the dense
    // n×n matrix beyond what ARPACK itself holds) stays the right tool.
    val components =
      if (vocab.length <= DenseSvdMaxVocab) {
        val gram = new RowMatrix(tfidf).computeGramianMatrix()
        val nCols = gram.numCols
        val gb = new breeze.linalg.DenseMatrix[Double](nCols, nCols, gram.toArray)
        val brz = breeze.linalg.svd(gb) // symmetric PSD: U = eigvecs, σ(G) = σ(X)²
        val sigmas = brz.singularValues.toArray.map(v => math.sqrt(math.max(v, 0.0)))
        val sigma0 = if (sigmas.nonEmpty) sigmas(0) else 0.0
        val rank = math.min(cfg.nComponents,
          if (sigma0 <= 0.0) 0 else sigmas.count(_ > 1e-9 * sigma0))
        Array.tabulate(vocab.length, cfg.nComponents)(
          (i, j) => if (j < rank) brz.U(i, j) else 0.0)
      } else {
        val svd = new RowMatrix(tfidf).computeSVD(cfg.nComponents, computeU = false)
        val rank = svd.V.numCols
        Array.tabulate(vocab.length, cfg.nComponents)(
          (i, j) => if (j < rank) svd.V(i, j) else 0.0)
      }
    val compsBc = spark.sparkContext.broadcast(components)

    // reduced + Normalizer, then KMeans on the dense low-dim rows
    val reduced = tfidf.map { v =>
      val sv = v.asInstanceOf[org.apache.spark.mllib.linalg.SparseVector]
      val comps = compsBc.value
      val out = new Array[Double](cfg.nComponents)
      var p = 0
      while (p < sv.indices.length) {
        val row = comps(sv.indices(p))
        val x = sv.values(p)
        var j = 0
        while (j < cfg.nComponents) { out(j) += x * row(j); j += 1 }
        p += 1
      }
      var norm = 0.0
      var j = 0
      while (j < cfg.nComponents) { norm += out(j) * out(j); j += 1 }
      if (norm > 0) {
        val inv = 1.0 / math.sqrt(norm)
        j = 0
        while (j < cfg.nComponents) { out(j) *= inv; j += 1 }
      }
      Tuple1(org.apache.spark.ml.linalg.Vectors.dense(out))
    }
    val redDf = spark.createDataFrame(reduced).toDF("features")
      .persist(StorageLevel.MEMORY_AND_DISK)
    persisted += (() => { redDf.unpersist(blocking = false); () })

    val kmModel = new KMeans()
      .setK(cfg.k).setSeed(cfg.seed).setFeaturesCol("features")
      .fit(redDf)
    val centroids = kmModel.clusterCenters.map(_.toArray)

    val silhouette =
      if (cfg.k < 2) -1.0 // reference model.py:141-144
      else new ClusteringEvaluator()
        .setFeaturesCol("features").setPredictionCol("prediction")
        .evaluate(kmModel.transform(redDf))

    (TopicModelParams(vocab, idfSk, components, centroids), silhouette)

    } finally persisted.foreach(f =>
      try f() catch { case scala.util.control.NonFatal(_) => () })
  }
}
