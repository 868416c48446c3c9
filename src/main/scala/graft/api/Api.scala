package graft.api

import org.apache.spark.sql.DataFrame

import graft.functions.{CleanTextImpl, Text}
import graft.ner.{NerExtractor, TokenTrie}
import graft.topics.{TopicModelParams, TopicScorer}

/** One-call analysis surface — parity with the reference's
  * `POST /analyze` (`api/app.py:100-124`): given a single (title, text),
  * return the topic assignment plus the detected entities with char
  * offsets. Uses the API assembly variant (P9 — no ". " separator when
  * the title is empty, `app.py:111`), then the SAME clean/NER/score code
  * the batch pipeline runs, so a 1-row answer equals the full pipeline's
  * triples for that page (pinned by ApiSpec).
  *
  * OFFSET CONTRACT (reference parity, `app.py:119` + `ner_extractor/
  * model.py:173-186`): `begin_char`/`end_char` index into the RAW
  * assembled full_text — the text the caller sent — and `entity_text` is
  * that raw span (original case and spacing), even though detection runs
  * on the cleaned text. `entity_text_norm` stays the normalized form the
  * batch triples use. Empty/whitespace-only full_text is rejected
  * (`IllegalArgumentException` — the analog of the reference's HTTP 400,
  * `app.py:112-116`); whitespace is Python's `str.strip()` set.
  */
object Api {

  final case class EntityHit(
      entity_text: String,
      entity_text_norm: String,
      entity_type: String,
      begin_char: Int,
      end_char: Int)

  final case class Analysis(
      url: String,
      id_topic: Int,
      dist_centroid: Double,
      entities: Seq[EntityHit])

  private def assemble(title: String, text: String): String = {
    val t = if (text == null) "" else text // null must not interpolate "null"
    if (title != null && title.nonEmpty) s"$title. $t" // P9, app.py:111
    else t
  }

  /** Driver-local single-text analyze: NO Spark job — a 1-row request
    * must not pay a cluster round trip (the reference's API path is a
    * single in-process model call too, `app.py:100-124`). `keepTypes` is
    * settable because the parity spec compares against the batch
    * pipeline's label filter.
    */
  def analyzeText(
      trie: TokenTrie,
      params: TopicModelParams,
      title: String,
      text: String,
      url: String = "api",
      keepTypes: Option[Set[String]] = None): Analysis = {
    val assembled = assemble(title, text)
    // `not full_text.strip()` (app.py:112-116, HTTP 400): Python's
    // whitespace set, not Java trim's chars <= U+0020
    require(!assembled.forall(CleanTextImpl.isPyWs),
      "Field 'text' must not be empty.")
    analyzeAssembled(trie, params, assembled, url, keepTypes)
  }

  private def analyzeAssembled(
      trie: TokenTrie,
      params: TopicModelParams,
      assembled: String,
      url: String,
      keepTypes: Option[Set[String]]): Analysis = {
    // detection runs on the cleaned text (batch parity); the offset map
    // carries every cleaned char's raw span so hits are reported against
    // the caller's text (reference parity)
    val (clean, rawBegin, rawEnd) = Text.cleanTextWithOffsets(assembled)
    val t = TopicScorer.score(params, url, clean)
    val ents = Vector.newBuilder[EntityHit]
    val hits = trie.scan(clean)
    NerExtractor.foreachKept(trie, hits, keepTypes) { (k, entry) =>
      val b = rawBegin(hits.begin(k))
      val e = rawEnd(hits.end(k) - 1)
      ents += EntityHit(assembled.substring(b, e), trie.norm(entry), trie.entityType(entry), b, e)
    }
    Analysis(url, t.id_topic, t.dist_centroid, ents.result())
  }

  /** Read-side topic metadata for the ACTIVE run — the one-call
    * composition behind the reference's topics read surface
    * (`get_topics_metadata_dict`, `topics_detector/db_io.py:250-300`:
    * topics + terms_per_topic for the active run, terms ordered by
    * `id_topic, rank` — the W5 sort at `db_io.py:275-282`; active-run
    * resolution as in `api/dependencies.py:24-28`).
    *
    * Inputs are the engine's own table shapes: `topicsTable` =
    * [[graft.topics.TopicNaming.nameTopics]] output
    * (id_topic, topic_name, topic_size) and `termsTable` =
    * the terms of [[graft.topics.TopicTerms.topTermsAndSizes]]
    * (id_topic, rank, term, weight). Output: one row per topic —
    * (id_run, id_topic, topic_name, topic_size, top_terms) with
    * top_terms rank-ordered, rows ordered by id_topic.
    */
  def topics(
      registry: graft.pipeline.RunRegistry,
      topicsTable: DataFrame,
      termsTable: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val idRun = registry.active().getOrElse(
      throw new IllegalStateException(
        "no active run in the registry (reference get_active_id_run raises too)"))
    // rank-ordered term list per topic: sort the collected (rank, term)
    // structs, then project the term — collect_list order alone is not
    // deterministic across partitions
    val termLists = termsTable
      .groupBy(col("id_topic"))
      .agg(transform(
        array_sort(collect_list(struct(col("rank"), col("term")))),
        s => s.getField("term")).as("top_terms"))
    topicsTable
      .join(termLists, Seq("id_topic"), "left")
      .select(lit(idRun).as("id_run"), col("id_topic"), col("topic_name"),
        col("topic_size"),
        coalesce(col("top_terms"),
          array().cast("array<string>")).as("top_terms"))
      .orderBy(col("id_topic"))
  }

  /** Read-side entity dictionary — the reference's `entities` table view
    * (`db/schema.sql:130-138`; full-table read at
    * `ner_extractor/db_io.py:97-121`), ordered by mention count DESC (the
    * reference's own first inspection, `notebooks/03_ner.ipynb` cell 15)
    * with a deterministic (norm, type) tie-break.
    */
  def entities(store: graft.pipeline.EntityStore): DataFrame = {
    import org.apache.spark.sql.functions._
    store.dict().toDF()
      .orderBy(col("entity_mentions_count").desc, col("entity_text_norm").asc,
        col("entity_type").asc)
  }
}
