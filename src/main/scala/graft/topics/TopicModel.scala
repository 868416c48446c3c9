package graft.topics

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.{PairTable, WordIds}

/** Frozen topic-model parameters — the Spark-side equivalent of the
  * reference's fitted sklearn pipeline artifact
  * (`src/news_nlp/topics_detector/model.py:54-68`). Loaded on the driver,
  * broadcast to executors, consumed in `mapPartitions` (SURVEY.md M1-M3).
  *
  * components: vocabSize × nComponents (the SVD V matrix; transform is
  * x·V), centroids: k × nComponents.
  */
final case class TopicModelParams(
    vocab: Array[String],
    idf: Array[Double],
    components: Array[Array[Double]],
    centroids: Array[Array[Double]],
    ngramMax: Int = 2) extends Serializable {

  /** Word-id view of `vocab` for [[TopicScorer.tfidfVector]], built once
    * per params on first use (not shipped with the broadcast).
    */
  @transient private[topics] lazy val terms: VocabTerms = VocabTerms(vocab)

  def nComponents: Int = if (components.isEmpty) 0 else components(0).length
  def k: Int = centroids.length
}

/** The vocabulary as word ids, so the TF-IDF scan looks a token up by its
  * char range in the text (no substring) and a bigram up by a pair of ids
  * (no joined string):
  *   - every word of a vocab unigram or bigram has an id in [[words]];
  *   - `unigram(id)` is the vocab index of that word as a unigram, or -1;
  *   - [[pairs]] maps (first id, second id) to the vocab index of
  *     "first second", or -1.
  * A duplicate vocabulary entry keeps its last index (`HashMap.put`
  * semantics). An entry no pair of tokens can spell — a leading, trailing
  * or second space — gets nothing: tokens never contain a space.
  */
private[topics] final class VocabTerms private (
    val words: WordIds,
    val unigram: Array[Int],
    val pairs: PairTable,
    vocabSize: Int) {

  /** Per-thread term counts, so a scan allocates no vocab-sized array. */
  private[topics] val counts: ThreadLocal[TermCounts] =
    ThreadLocal.withInitial(() => new TermCounts(vocabSize))
}

private[topics] object VocabTerms {

  def apply(vocab: Array[String]): VocabTerms = {
    val ids = new java.util.HashMap[String, Integer]()
    val words = scala.collection.mutable.ArrayBuffer.empty[String]
    val unigram = scala.collection.mutable.ArrayBuffer.empty[Int]
    def id(w: String): Int = {
      val known = ids.get(w)
      if (known != null) known.intValue
      else { ids.put(w, words.length); words += w; unigram += -1; words.length - 1 }
    }
    val pairs = new java.util.HashMap[java.lang.Long, Integer]()
    var v = 0
    while (v < vocab.length) {
      val t = vocab(v)
      val sp = t.indexOf(' ')
      if (sp < 0) unigram(id(t)) = v
      else if (sp > 0 && sp < t.length - 1 && t.indexOf(' ', sp + 1) < 0)
        pairs.put(PairTable.key(id(t.substring(0, sp)), id(t.substring(sp + 1))), v)
      v += 1
    }
    new VocabTerms(new WordIds(words.toArray, slotsPerWord = 2), unigram.toArray, PairTable(pairs), vocab.length)
  }
}

/** Raw term counts of one text, indexed by vocab, plus the indices
  * touched so far (each once, in first-touch order).
  */
private[topics] final class TermCounts(vocabSize: Int) {
  val count = new Array[Int](vocabSize)
  var touched = new Array[Int](16)
  var nTouched = 0

  def add(i: Int): Unit = {
    if (count(i) == 0) {
      if (nTouched == touched.length)
        touched = java.util.Arrays.copyOf(touched, nTouched * 2)
      touched(nTouched) = i
      nTouched += 1
    }
    count(i) += 1
  }

  /** Forgets the previous text's counts — at the start of a scan, so a
    * scan that threw cannot leak its counts into the next one.
    */
  def clear(): Unit = {
    var k = 0
    while (k < nTouched) { count(touched(k)) = 0; k += 1 }
    nTouched = 0
  }
}

final case class TopicAssignment(
    url: String,
    id_topic: Int,
    dist_centroid: Double)

object TopicScorer {

  /** sklearn default token pattern `(?u)\b\w\w+\b` (`model.py:96-102`)
    * as a hand-written scan: a token is a maximal run of ≥ 2 code points
    * of the class `[\p{L}\p{N}_]` (letters, numbers, '_'; Python-\w and
    * oracle-RE2 exact, see [[graft.functions.Text.sklearnTokens]]). The
    * oracle restates tokens with that regex and [[TopicTrainer]] builds
    * the vocabulary from this scan, so it must split text exactly as the
    * regex does — pinned by TextKernelOracleSpec.
    */
  def tokenize(text: String): Array[String] = {
    val out = Array.newBuilder[String]
    var tok = nextToken(text, 0)
    while (tok >= 0) {
      out += text.substring((tok >>> 32).toInt, tok.toInt)
      tok = nextToken(text, tok.toInt)
    }
    out.result()
  }

  /** Character types of `\p{L}` and `\p{N}`. */
  private val TokenTypes: Int =
    (1 << Character.UPPERCASE_LETTER) | (1 << Character.LOWERCASE_LETTER) |
      (1 << Character.TITLECASE_LETTER) | (1 << Character.MODIFIER_LETTER) |
      (1 << Character.OTHER_LETTER) | (1 << Character.DECIMAL_DIGIT_NUMBER) |
      (1 << Character.LETTER_NUMBER) | (1 << Character.OTHER_NUMBER)

  /** The first token starting at or after `from`, as
    * `start << 32 | end`, or -1 when there is none. An unpaired surrogate
    * is a code point of its own (type Cs, not a token char), as the regex
    * engine reads it.
    */
  private def nextToken(text: String, from: Int): Long = {
    val n = text.length
    var i = from
    var start = 0
    var run = 0 // code points in the current run
    var found = -1L
    while (found < 0 && i <= n) {
      var width = 1
      val isToken =
        if (i == n) false
        else {
          val c = text.charAt(i)
          if (c < 0x80)
            (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
              (c >= '0' && c <= '9') || c == '_'
          else {
            val cp = text.codePointAt(i)
            width = Character.charCount(cp)
            (TokenTypes & (1 << Character.getType(cp))) != 0
          }
        }
      if (isToken) {
        if (run == 0) start = i
        run += 1
      } else {
        if (run >= 2) found = (start.toLong << 32) | i
        run = 0
      }
      i += width
    }
    found
  }

  /** Exact sklearn TfidfVectorizer.transform semantics for frozen params:
    * raw term counts over unigrams+bigrams, tf * idf, then L2 normalize.
    * (smooth-idf is baked into params.idf at train time.)
    *
    * A bigram is two consecutive tokens, so a token outside the
    * vocabulary's words ends the chain: no vocab bigram starts or ends
    * with it. Values are summed in ascending index order.
    */
  def tfidfVector(params: TopicModelParams, text: String): (Array[Int], Array[Double]) = {
    require(params.ngramMax <= 2, "ngramMax > 2 unsupported (reference uses (1,2))")
    val useBigrams = params.ngramMax >= 2
    val terms = params.terms
    val counts = terms.counts.get()
    counts.clear()
    var prev = -1
    var tok = nextToken(text, 0)
    while (tok >= 0) {
      val end = tok.toInt
      val id = terms.words.id(text, (tok >>> 32).toInt, end)
      if (id >= 0) {
        val u = terms.unigram(id)
        if (u >= 0) counts.add(u)
        if (useBigrams && prev >= 0) {
          val b = terms.pairs(prev, id)
          if (b >= 0) counts.add(b)
        }
      }
      prev = id
      tok = nextToken(text, end)
    }
    val indices = java.util.Arrays.copyOf(counts.touched, counts.nTouched)
    java.util.Arrays.sort(indices)
    val values = new Array[Double](indices.length)
    var norm = 0.0
    var p = 0
    while (p < indices.length) {
      val i = indices(p)
      val v = counts.count(i).toDouble * params.idf(i)
      values(p) = v
      norm += v * v
      p += 1
    }
    if (norm > 0) {
      val inv = 1.0 / math.sqrt(norm)
      p = 0
      while (p < values.length) { values(p) *= inv; p += 1 }
    }
    (indices, values)
  }

  /** M2: project sparse tfidf by the broadcast V (x·V), then L2-normalize
    * (sklearn `make_pipeline(TruncatedSVD, Normalizer)`, `model.py:104-111`).
    */
  def project(params: TopicModelParams, indices: Array[Int], values: Array[Double]): Array[Double] = {
    val d = params.nComponents
    val out = new Array[Double](d)
    var p = 0
    while (p < indices.length) {
      val row = params.components(indices(p))
      val v = values(p)
      var j = 0
      while (j < d) { out(j) += v * row(j); j += 1 }
      p += 1
    }
    var norm = 0.0
    var j = 0
    while (j < d) { norm += out(j) * out(j); j += 1 }
    if (norm > 0) {
      val inv = 1.0 / math.sqrt(norm)
      j = 0
      while (j < d) { out(j) *= inv; j += 1 }
    }
    out
  }

  /** M3: nearest centroid (squared euclidean; ties → lowest topic id,
    * matching numpy argmin).
    */
  def assign(params: TopicModelParams, x: Array[Double]): (Int, Double) = {
    val (best, d2) = nearest(params.centroids, x)
    (best, math.sqrt(d2))
  }

  /** The first of `centroids` nearest `x` and its squared distance; -1
    * when there are none. The k-means fit assigns with it too.
    */
  private[topics] def nearest(centroids: Array[Array[Double]], x: Array[Double]): (Int, Double) = {
    var best = -1
    var bestDist = Double.MaxValue
    var c = 0
    while (c < centroids.length) {
      val d = sqDist(x, centroids(c))
      if (d < bestDist) { bestDist = d; best = c }
      c += 1
    }
    (best, bestDist)
  }

  private[topics] def sqDist(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var j = 0
    while (j < a.length) { val t = a(j) - b(j); s += t * t; j += 1 }
    s
  }

  def score(params: TopicModelParams, url: String, text: String): TopicAssignment = {
    val (idx, vals) = tfidfVector(params, text)
    val x = project(params, idx, vals)
    val (topic, dist) = assign(params, x)
    // a null url scores as "" (text is defaulted the same way by every
    // caller)
    TopicAssignment(if (url == null) "" else url, topic, dist)
  }

  /** Distributed scoring: broadcast params + narrow mapPartitions — the
    * replacement for `predict_topics_for_texts`
    * (`src/news_nlp/topics_detector/inference.py:11-43`). Pages are keyed
    * by their `url` column; `textCol` is settable because the topic-table
    * operators and most callers score the `clean` column.
    */
  def assignTopics(
      pages: DataFrame,
      params: Broadcast[TopicModelParams],
      textCol: String = "text"): Dataset[TopicAssignment] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.select(col("url"), col(textCol).as("text"))
      .as[(String, String)]
      .mapPartitions { it =>
        val p = params.value
        it.map { case (url, text) => score(p, url, if (text == null) "" else text) }
      }
  }
}

/** The fixture trainer's old name: `perfbench/Workloads.scala` fits the
  * fixture model through it.
  */
object FixtureTrainer {
  def train(texts: Seq[String]): TopicModelParams = TopicTrainer.fit(texts, TopicTrainer.Config())
}
