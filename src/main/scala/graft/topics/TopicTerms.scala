package graft.topics

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Topic dictionary tables — the Spark re-expression of the reference's
  * `topics` + `terms_per_topic` materialization:
  *
  *   - A4 topic sizes (`topics_detector/tables.py:52-58`)
  *   - A5 mean TF-IDF per topic (`topics_detector/model.py:175-215`)
  *   - W1 rank assignment 1..N (`tables.py:87-99`)
  *   - W2 top-k terms per topic (`model.py:209-213`), deterministic
  *     tie-break (weight DESC, term ASC)
  *   - W3 top-k representative docs per topic by distance-to-centroid
  *     (`topics_naming.py:64-70`)
  *
  * Scale shape: ONE narrow mapPartitions pass emits sparse
  * (topic, term, weight) contributions plus a per-doc size marker; the
  * only shuffle is the (topic, term) aggregation, whose key space is
  * bounded by k × vocab — map-side partial agg makes the wire tiny.
  *
  * Input is `KgPipeline.withCleanText` output: every operator scores the
  * `clean` column, and the representative docs are keyed by `url`.
  */
object TopicTerms {

  /** Terms [[topTermsAndSizes]] reports per topic by default (the
    * reference's `top_terms_per_topic`), as the run registry records it.
    */
  val TopTermsPerTopic = 50

  private val SizeMarker = -1

  /** (id_topic, term_idx, w) contributions + (id_topic, -1, 1.0) doc
    * markers, all from a single scoring pass over the `clean` column.
    */
  private def contributions(
      cleaned: DataFrame,
      params: Broadcast[TopicModelParams]): DataFrame = {
    val spark = cleaned.sparkSession
    import spark.implicits._
    cleaned.select(col("clean").cast("string"))
      .as[String]
      .mapPartitions { it =>
        val p = params.value
        it.flatMap { text =>
          val t = if (text == null) "" else text
          val (idx, vals) = TopicScorer.tfidfVector(p, t)
          val x = TopicScorer.project(p, idx, vals)
          val (topic, _) = TopicScorer.assign(p, x)
          Iterator.single((topic, SizeMarker, 1.0)) ++
            idx.indices.iterator.map(i => (topic, idx(i), vals(i)))
        }
      }.toDF("id_topic", "term_idx", "w")
  }

  /** A5 + W1/W2 and A4 from ONE scoring pass: the top-N terms per topic
    * by mean TF-IDF (mean over ALL docs of the topic, zeros included —
    * `X_tfidf[mask].mean(axis=0)`) as (id_topic, rank, term, weight),
    * rank 1..N, and the docs per topic as (id_topic, topic_size).
    *
    * Both come from one (id_topic, term_idx) aggregation, collected once:
    * at most k × (topN + 1) rows reach the driver, and both frames are local,
    * so reading them runs no Spark job. A topic whose docs all project
    * to the zero vector has a size row and no term rows.
    */
  def topTermsAndSizes(
      cleaned: DataFrame,
      params: Broadcast[TopicModelParams],
      topN: Int = TopTermsPerTopic): (DataFrame, DataFrame) = {
    val spark = cleaned.sparkSession
    import spark.implicits._
    val vocab = params.value.vocab.zipWithIndex
      .map { case (t, i) => (i, t) }.toSeq.toDF("term_idx", "term")
    val byTopic = Window.partitionBy($"id_topic")
    val marker = $"term_idx" === SizeMarker
    // ONE aggregation over (id_topic, term_idx) holds the term sums and
    // the size markers, read by ONE linear chain: filtering it into a
    // sizes and a sums branch pushes each filter below the aggregate and
    // scores the pages once per branch. The size comes from a window over
    // the marker row, which ranks 0 so that every topic keeps a row.
    // Terms rank on the ROUNDED weight (ties → term asc): the ordering is
    // restatable by a SQL oracle without double-summation-order hazards.
    val rows = contributions(cleaned, params)
      .groupBy($"id_topic", $"term_idx").agg(sum($"w").as("w_sum"))
      .withColumn("topic_size", max(when(marker, $"w_sum")).over(byTopic).cast("long"))
      .withColumn("weight", $"w_sum" / $"topic_size")
      .join(broadcast(vocab), Seq("term_idx"), "left")
      .withColumn("rank", row_number().over(byTopic
        .orderBy(marker.desc, round($"weight", 6).desc, $"term".asc)) - 1)
      .filter($"rank" <= topN)
      .select($"id_topic", $"rank".cast("long"), $"term", $"weight", $"topic_size")
      .as[(Int, Long, String, Double, Long)].collect()
    val (sizes, terms) = rows.partition(_._2 == 0L)
    (terms.toSeq.map { case (t, r, term, wt, _) => (t, r, term, wt) }
        .toDF("id_topic", "rank", "term", "weight"),
      sizes.toSeq.map { case (t, _, _, _, n) => (t, n) }.toDF("id_topic", "topic_size"))
  }

  /** W3: top-k representative docs per topic (nearest to centroid,
    * deterministic tie-break on url).
    */
  def representativeDocs(
      cleaned: DataFrame,
      params: Broadcast[TopicModelParams],
      k: Int = 3): DataFrame = {
    val assigned = TopicScorer.assignTopics(cleaned, params, "clean").toDF()
    val w = Window.partitionBy(col("id_topic"))
      .orderBy(col("dist_centroid").asc, col("url").asc)
    assigned
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("id_topic"), col("rank"), col("url"), col("dist_centroid"))
  }

  /** W3 + M5 naming input: the representative docs WITH their
    * prompt-truncated texts — exactly what the reference feeds its LLM
    * namer (`topics_naming.py:62-79`: top-3 per topic by dist_centroid
    * asc, text sliced to `maxLen` = 7500 chars).
    *
    * Scale shape: [[representativeDocs]] is k × topics rows — broadcast
    * it and semi-join the corpus, so the text fetch is one pruned pass,
    * never a shuffle of the corpus.
    */
  def representativeTexts(
      cleaned: DataFrame,
      params: Broadcast[TopicModelParams],
      k: Int = 3,
      maxLen: Int = 7500): DataFrame = {
    val reps = representativeDocs(cleaned, params, k)
    cleaned.select(col("url"), col("clean").cast("string").as("text"))
      .join(broadcast(reps), Seq("url"))
      .select(col("id_topic"), col("rank"), col("url"),
        substring(col("text"), 1, maxLen).as("text"))
  }
}

/** M5: topic naming — driver-side, out of the dataflow (the reference
  * calls OpenAI per topic, `topics_naming.py:41-125`, with a deterministic
  * fallback `f"Topic {id}"`, `tables.py:59`). The LLM seam is a trait; the
  * engine ships two deterministic namers.
  */
trait TopicNamer extends Serializable {
  def name(idTopic: Int, topTerms: Seq[String], representativeTexts: Seq[String]): String

  /** Whether this namer consumes representative texts. The reference only
    * gathers the top-3 texts for the LLM path (`topics_naming.py:62-79`);
    * the deterministic fallbacks never touch them — so [[TopicNaming
    * .nameTopics]] skips the text fetch entirely unless this is true.
    */
  def needsTexts: Boolean = false
}

/** The reference's deterministic fallback (`tables.py:59`). */
object DefaultTopicNamer extends TopicNamer {
  override def name(idTopic: Int, terms: Seq[String], texts: Seq[String]): String =
    s"Topic $idTopic"
}

/** Deterministic descriptive namer: top-3 terms joined. */
object TermTopicNamer extends TopicNamer {
  override def name(idTopic: Int, terms: Seq[String], texts: Seq[String]): String =
    terms.take(3).mkString(" / ")
}

object TopicNaming {
  /** Build the `topics` table: (id_topic, topic_name, topic_size).
    * Naming runs on the DRIVER over k rows (k ≪ data; the reference's
    * per-topic LLM call has the same shape).
    *
    * `repTexts` (schema of [[TopicTerms.representativeTexts]]: id_topic,
    * rank, url, text) supplies the reference LLM prompt's second input —
    * the top-3 nearest-to-centroid documents, prompt-truncated
    * (`topics_naming.py:62-79` + `config/prompts.yaml:16-38`). It is only
    * COLLECTED when `namer.needsTexts` (the reference fetches texts for
    * the LLM path alone); the collected set is bounded by
    * k × topics × maxLen chars.
    */
  def nameTopics(
      topTerms: DataFrame,
      sizes: DataFrame,
      namer: TopicNamer = DefaultTopicNamer,
      repTexts: Option[DataFrame] = None): DataFrame = {
    val spark = topTerms.sparkSession
    import spark.implicits._
    val byTopic = topTerms.select($"id_topic", $"rank", $"term")
      .as[(Int, Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    // a topic whose member docs ALL project to the zero vector has size
    // markers but no term rows — it must still appear in the topics
    // table (named from empty terms), not silently vanish
    val sizeIds = sizes.select($"id_topic").as[Int].collect().toSet
    val allIds = (byTopic.keySet ++ sizeIds).toSeq.sorted
    val textsByTopic: Map[Int, Seq[String]] =
      if (!namer.needsTexts) Map.empty
      else repTexts match {
        case None => Map.empty
        case Some(rt) => rt.select($"id_topic", $"rank", $"text")
          .as[(Int, Long, String)].collect()
          .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
      }
    val named = allIds.map { id =>
      (id, namer.name(id, byTopic.getOrElse(id, Seq.empty),
        textsByTopic.getOrElse(id, Seq.empty)))
    }.toDF("id_topic", "topic_name")
    named.join(sizes, Seq("id_topic"), "left")
      .select($"id_topic", $"topic_name",
        coalesce($"topic_size", lit(0L)).as("topic_size"))
  }
}
