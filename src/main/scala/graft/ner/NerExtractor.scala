package graft.ner

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.schema.Mention
import graft.functions.Text

/** Batched mention detection (M4): the Spark-native replacement for the
  * reference's spaCy `nlp.pipe(texts, batch_size=64, n_process=4)`
  * (`src/news_nlp/ner_extractor/model.py:83-147`).
  *
  * Shape: broadcast trie + `mapPartitions` — a NARROW transform, no
  * shuffle; intra-node parallelism comes from Spark task parallelism
  * (SURVEY.md §4), so n_process/BLAS-thread tuning disappears.
  */
object NerExtractor {

  /** Detect mentions in `textCol` of `pages`, keyed by their `url` and
    * `lang` columns (`lang` defaults to "und" when absent). The text is
    * expected to be already cleaned (`Text.cleanText`) — same contract as
    * the reference, which stores cleaned text in the news table and skips
    * re-cleaning at inference (`jobs/topics_detector_inference_job.py:54-59`).
    *
    * @param keepTypes P7 label filter (None = keep all,
    *                  reference `model.py:116-133`)
    * @param textCol   settable because the NER and plan specs read the
    *                  `clean` column of `KgPipeline.withCleanText`
    */
  def extractMentions(
      pages: DataFrame,
      trie: Broadcast[TokenTrie],
      keepTypes: Option[Set[String]] = Some(FixtureGazetteer.keepLabels),
      textCol: String = "text"): Dataset[Mention] = {
    val spark = pages.sparkSession
    import spark.implicits._
    // Column pruning before the narrow map: only (url, text, lang) flows;
    // lang rides along (functionally dependent on url) so downstream
    // triples can partition by it without a join back to pages.
    val langExpr =
      if (pages.columns.contains("lang")) col("lang") else lit("und")
    val slim = pages
      .select(col("url"), col(textCol).as("text"),
        langExpr.as("lang"))
      .as[(String, String, String)]
    slim.mapPartitions { it =>
      val t = trie.value
      val keep = keepTypes
      it.flatMap { case (url, text, lang) =>
        detect(t, url, text, keep, lang)
      }
    }
  }

  /** Single-document detection — also the "API path" analogue
    * (`model.py:150-187`), usable on a driver-local string.
    */
  def detect(
      trie: TokenTrie,
      url: String,
      text: String,
      keepTypes: Option[Set[String]],
      lang: String = "und"): Iterator[Mention] = {
    if (text == null || text.isEmpty) return Iterator.empty
    val (tokens, offsets) = tokenizeWithOffsets(text)
    trie.findMentions(tokens).iterator
      .filter { case (_, tpe, _, _) => keepTypes.forall(_.contains(tpe)) }
      .map { case (surface, tpe, b, e) =>
        Mention(
          url = url,
          entity_text = surface,
          entity_text_norm = surface.trim.toLowerCase, // P6 on the surface
          entity_type = tpe,
          begin_char = offsets(b),
          end_char = offsets(e - 1) + tokens(e - 1).length,
          lang = lang)
      }
  }

  /** Whitespace tokenization with char offsets; empty tokens (e.g. the
    * double space clean_text leaves after URL removal) are skipped.
    */
  def tokenizeWithOffsets(text: String): (Array[String], Array[Int]) = {
    val tokens = Array.newBuilder[String]
    val offsets = Array.newBuilder[Int]
    var i = 0
    val n = text.length
    while (i < n) {
      while (i < n && text.charAt(i) == ' ') i += 1
      if (i < n) {
        val start = i
        while (i < n && text.charAt(i) != ' ') i += 1
        tokens += text.substring(start, i)
        offsets += start
      }
    }
    (tokens.result(), offsets.result())
  }
}
