package graft.link

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.schema.EntityRecord
import graft.functions.Text

/** Entity dictionary construction and mention→entity linking.
  *
  * Reference semantics:
  *   - A1 dictionary agg: `build_entities_df`
  *     (`src/news_nlp/ner_extractor/tables.py:59-79`)
  *   - A2 most-frequent surface form with the DETERMINISTIC tie-break
  *     `(count DESC, entity_text ASC)` replacing pandas' first-seen order
  *     (SURVEY.md §2.9 #2)
  *   - J4 dictionary lookup join: the reference's driver-side Python dict
  *     probe (`tables.py:115-133`) becomes a broadcast hash join; at scale
  *     the salted variant handles head-entity skew (north rule).
  *
  * A3, the per-(article, entity) mention counts
  * (`build_entities_per_news_df`, `tables.py:135-139`), is counted where
  * the mentions are found: `NerExtractor.surfaceCounts` in the fused pass.
  */
object EntityLink {

  /** Dictionary from (url, norm, type, surface, n) rows — `n` may be a
    * per-page pre-aggregated count (the fused analyzer's output) or 1 per
    * raw mention; the result is identical (pinned by EntityLinkSpec).
    */
  def dictFromSurfaceRows(rows: DataFrame): Dataset[EntityRecord] =
    dictFromTagged(taggedFromSurfaceRows(rows))

  /** Level 1: TAGGED rows (entity_text_norm, entity_type, entity_text,
    * cnt) — one per surface form with its summed count, plus one
    * `entity_text = NULL` row per entity whose `cnt` is its EXACT
    * news_count (parity requires it; map-side partial aggregation absorbs
    * the head-entity skew).
    */
  def taggedFromSurfaceRows(rows: DataFrame): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    val marks = rows.select($"entity_text_norm", $"entity_type", $"url").distinct()
      .select($"entity_text_norm", $"entity_type",
        lit(null).cast("string").as("entity_text"), lit(1L).as("cnt"))
    rows.select($"entity_text_norm", $"entity_type", $"entity_text", $"n".as("cnt"))
      .unionByName(marks)
      .groupBy($"entity_text_norm", $"entity_type", $"entity_text")
      .agg(sum($"cnt").as("cnt"))
  }

  /** Level 2, shared by every dictionary (per-run, fused analysis and
    * the persistent [[graft.pipeline.EntityStore]], whose state is these
    * rows): ONE shuffle, no join — the modal surface is min_by over
    * (-count, text), the tie-break (count DESC, text ASC), NULL rows last.
    */
  def dictFromTagged(tagged: DataFrame): Dataset[EntityRecord] = {
    val spark = tagged.sparkSession
    import spark.implicits._
    tagged
      .groupBy($"entity_text_norm", $"entity_type")
      .agg(
        min_by($"entity_text",
          struct(
            when($"entity_text".isNull, lit(Long.MaxValue)).otherwise(-$"cnt").as("nc"),
            coalesce($"entity_text", lit("\uffff")).as("t")))
          .as("entity_text"),
        sum(when($"entity_text".isNotNull, $"cnt").otherwise(0L))
          .as("entity_mentions_count"),
        sum(when($"entity_text".isNull, $"cnt").otherwise(0L))
          .as("news_count"))
      .select(
        Text.entityId($"entity_text_norm", $"entity_type").as("id_entity"),
        $"entity_text", $"entity_text_norm", $"entity_type",
        $"entity_mentions_count", $"news_count")
      .as[EntityRecord]
  }

  /** J4 broadcast variant: dictionary fits in memory (it does up to ~tens
    * of millions of entities with AQE; beyond that use [[linkSalted]]).
    * LEFT join — an unmatched mention keeps its row with null dictionary
    * columns.
    */
  def linkBroadcast(mentions: DataFrame, dict: DataFrame): DataFrame = {
    mentions.join(broadcast(dict),
      Seq("entity_text_norm", "entity_type"), "left")
  }

  /** J4 salted variant for head-entity skew (north rule): mentions get a
    * random-but-deterministic salt in [0, saltFactor); dictionary rows for
    * HOT keys only are replicated saltFactor times; join key becomes
    * (norm, type, salt). Result is row-identical to the unsalted join —
    * REGARDLESS of which keys are treated as hot (salting a cold key is
    * value-neutral), so hot detection is purely a physical-plan choice.
    *
    * Hot keys are detected by a pre-aggregation (count > hotThreshold) —
    * map-side-combined, tiny on the wire — UNLESS the caller supplies
    * `hotKeys` (columns entity_text_norm, entity_type), e.g. an aggregated
    * dictionary filtered on its news_count, which IS this statistic
    * without re-aggregating the much larger per-article mention rows.
    * Only the specs supply `hotKeys`; it stays so they can pin the
    * row-identity contract under a wrong or duplicated hot set.
    */
  def linkSalted(
      mentions: DataFrame,
      dict: DataFrame,
      saltFactor: Int = 16,
      hotThreshold: Long = 100000L,
      hotKeys: Option[DataFrame] = None): DataFrame = {
    val spark = mentions.sparkSession
    import spark.implicits._
    val hot = hotKeys
      // distinct: the self-derived set is unique by construction (groupBy)
      // but a supplied frame is not — a duplicate (norm, type) row would
      // multiply every matching mention through the two left joins below,
      // silently breaking the row-identical contract
      .map(_.select($"entity_text_norm", $"entity_type").distinct()
        .withColumn("_hot", lit(true)))
      .getOrElse(mentions
        .groupBy($"entity_text_norm", $"entity_type")
        .agg(count(lit(1)).as("_cnt"))
        .filter($"_cnt" > hotThreshold)
        .select($"entity_text_norm", $"entity_type", lit(true).as("_hot")))
    val saltedMentions = mentions
      .join(broadcast(hot), Seq("entity_text_norm", "entity_type"), "left")
      .withColumn("_salt",
        // deterministic under task retry (monotonically_increasing_id is
        // not): mention rows are pre-aggregated per (url, entity), so
        // xxhash64(url) alone spreads a hot entity across its many urls
        when($"_hot".isNotNull,
          pmod(xxhash64($"url"), lit(saltFactor)).cast("int"))
          .otherwise(lit(0)))
      .drop("_hot")
    val saltedDict = dict
      .join(broadcast(hot), Seq("entity_text_norm", "entity_type"), "left")
      .withColumn("_salts",
        when($"_hot".isNotNull, sequence(lit(0), lit(saltFactor - 1)))
          .otherwise(array(lit(0))))
      .withColumn("_salt", explode($"_salts"))
      .drop("_hot", "_salts")
    saltedMentions
      .join(saltedDict, Seq("entity_text_norm", "entity_type", "_salt"), "left")
      .drop("_salt")
  }
}
