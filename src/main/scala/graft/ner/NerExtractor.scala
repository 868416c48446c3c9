package graft.ner

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.schema.{Mention, SurfaceCount}
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
    * (`model.py:150-187`), usable on a driver-local string. Offsets are
    * the scan's own token bounds.
    */
  def detect(
      trie: TokenTrie,
      url: String,
      text: String,
      keepTypes: Option[Set[String]],
      lang: String = "und"): Iterator[Mention] = {
    if (text == null || text.isEmpty) return Iterator.empty
    val hits = trie.scan(text)
    val out = new scala.collection.mutable.ArrayBuffer[Mention](hits.size)
    foreachKept(trie, hits, keepTypes) { (k, e) =>
      out += Mention(url, trie.surface(e), trie.norm(e), trie.entityType(e),
        hits.begin(k), hits.end(k), lang)
    }
    out.iterator
  }

  /** The fused pass's NER step: per (norm, type, surface) mention counts of
    * `text`, in that order — the order of the trie's entry ids.
    */
  def surfaceCounts(
      trie: TokenTrie,
      text: String,
      keepTypes: Option[Set[String]]): Seq[SurfaceCount] = {
    if (text == null || text.isEmpty) return Nil
    val kept = new scala.collection.mutable.ArrayBuilder.ofInt
    foreachKept(trie, trie.scan(text), keepTypes)((_, e) => kept += e)
    val ids = kept.result()
    java.util.Arrays.sort(ids)
    val out = Vector.newBuilder[SurfaceCount]
    var i = 0
    while (i < ids.length) {
      var j = i + 1
      while (j < ids.length && ids(j) == ids(i)) j += 1
      val e = ids(i)
      out += SurfaceCount(trie.norm(e), trie.entityType(e), trie.surface(e), j - i)
      i = j
    }
    out.result()
  }

  /** Calls `f(k, entry)` for each entry of hit `k` whose type the P7 label
    * filter keeps (`None` keeps every type), in text order, then type order.
    * `hits` is a scan's per-thread buffer, so `f` must not scan.
    */
  private[graft] def foreachKept(trie: TokenTrie, hits: TrieHits,
      keepTypes: Option[Set[String]])(f: (Int, Int) => Unit): Unit = {
    var k = 0
    while (k < hits.size) {
      val entries = trie.entries(hits.node(k))
      var i = 0
      while (i < entries.length) {
        if (keepTypes.isEmpty || keepTypes.get.contains(trie.entityType(entries(i))))
          f(k, entries(i))
        i += 1
      }
      k += 1
    }
  }
}
