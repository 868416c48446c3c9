package graft.schema

import java.sql.Timestamp

/** Typed row models (Dataset encoders derive from these case classes).
  * Input contract per BASELINE.json `input_hint`:
  * (url:string, warc_ts:timestamp, html:binary, text:string, lang:string).
  */
final case class Page(
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String,
    lang: String)

/** One detected entity mention. The article key is the `url` (the triple
  * subject), which replaces the reference's BIGSERIAL id_news
  * (SURVEY.md §1.4). Char offsets are kept
  * for debugging parity with the reference API path (SURVEY.md §2.9 #5)
  * but never participate in triple comparison.
  */
final case class Mention(
    url: String,
    entity_text: String,
    entity_text_norm: String,
    entity_type: String,
    begin_char: Int,
    end_char: Int,
    lang: String = "und") // page language, rides along for partition pruning

/** Entity-dictionary record ≙ reference `entities` table
  * (`db/schema.sql:130-138`) with the deterministic id fix (§2.9 #1).
  */
final case class EntityRecord(
    id_entity: Long,
    entity_text: String,
    entity_text_norm: String,
    entity_type: String,
    entity_mentions_count: Long,
    news_count: Long)

/** Per-page per-surface mention count — the unit of the fused analyzer's
  * output (all in-page aggregation is free; cross-page aggregation
  * operates on these pre-reduced rows).
  */
final case class SurfaceCount(
    entity_text_norm: String,
    entity_type: String,
    entity_text: String,
    n: Long)

/** One page, fully analyzed in a single narrow pass: text extracted,
  * cleaned, NER'd (with in-page counts), and topic-scored. ~100
  * bytes/page vs ~1.4 KB of cleaned text — THIS is what gets
  * persisted/reused, not the text.
  */
final case class PageAnalysis(
    url: String,
    lang: String,
    id_topic: Int,
    surfaces: Seq[SurfaceCount])

object Pred {
  val HasTopic = "hasTopic"   // ≙ topics_per_news   (db/schema.sql:106-119)
  val Mentions = "mentions"   // ≙ entities_per_news (db/schema.sql:149-158)
  val SameAs   = "sameAs"     // ≙ entity canonicalization (SURVEY.md §4.2)

  /** Lineage marker: one `(url, processedIn, batchId)` per INPUT page of a
    * committed incremental batch. The reference's anti-join resume keys on
    * output presence (`ner_extractor/db_io.py:37-55`), which silently
    * reprocesses zero-entity articles every run; marking inputs instead
    * makes resume exactly-once per page AND doubles as per-batch lineage
    * (north rule). Data predicates above stay value-comparable vs the
    * reference — markers are engine metadata.
    */
  val Processed = "processedIn"

  /** Run-scoped marker predicate (J1's `id_run` dimension, reference
    * `topics_detector/db_io.py:389-413`; `topics_per_news` PK is
    * `(id_news, id_run)`, `db/schema.sql:106-119`): each model run tracks
    * its own assignment frontier, so activating a NEW run incrementally
    * re-assigns every page while an old run's assignments are preserved.
    */
  def processedFor(idRun: String): String = s"$Processed:$idRun"

  /** Run-scoped hasTopic predicate — the triple-store encoding of the
    * reference's `(id_news, id_run)` topic-assignment key.
    */
  def hasTopicFor(idRun: String): String = s"$HasTopic:$idRun"
}
