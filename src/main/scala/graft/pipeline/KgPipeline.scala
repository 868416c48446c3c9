package graft.pipeline

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

import graft.canon.ConnectedComponents
import graft.functions.{Registry, Text}
import graft.link.EntityLink
import graft.ner.{FixtureGazetteer, NerExtractor, TokenTrie}
import graft.schema.{PageAnalysis, Pred}
import graft.topics.{TopicModelParams, TopicScorer}

/** The end-to-end knowledge-graph construction pipeline (north_star):
  *
  *   pages(url, warc_ts, html, text, lang)
  *     → (1) ONE fused narrow pass ([[analyze]]): html→text, clean_text
  *       (P1), trie NER with in-page counts, topic scoring →
  *       PageAnalysis (~100 B/page)
  *     → (2) hasTopic + mentions triples straight from the analysis
  *       ([[pageTriples]]): entity ids are `xxhash64(norm, type)`, so no
  *       dictionary join links a mention
  *     → (3) connected-components canonicalization over alias edges →
  *       sameAs triples ([[sameAsTriples]])
  *
  * Stages (1)-(2) are NARROW (no shuffle). Stage (3) runs on the driver:
  * the alias graph has at most |aliases| edges, capped at
  * [[ConnectedComponents.DriverMaxEdges]], and one semi-join reads
  * the entity keys that are alias endpoints.
  *
  * [[runIncremental]] is the one batch entry point (KgStream, the
  * scaling bench, and the q31 / `entry()` catalog queries run it): it
  * reads the pages without a committed `processedIn` marker, merges the
  * batch into the [[EntityStore]] (the batch's dictionary aggregation),
  * derives sameAs from [[EntityStore.keys]] and commits triples plus
  * markers. [[dictFromAnalysis]], [[triplesFromAnalysis]], the
  * whole-frame [[sameAsTriples]] and [[Config]] stay only because the
  * benchmark harness under `perfbench/` calls them.
  */
object KgPipeline {

  /** Pipeline options. Nothing sets `keepTypes` away from the reference's
    * label filter; the record and the `cfg` parameters of [[analyze]],
    * [[triplesFromAnalysis]] and [[runIncremental]] stay only because the
    * benchmark harness under `perfbench/` passes them positionally.
    */
  final case class Config(
      keepTypes: Option[Set[String]] = Some(FixtureGazetteer.keepLabels))

  /** Extract text from html and clean it: returns pages with the
    * `extracted_text` and `clean` columns added. The extraction is
    * byte-identical to the input's `text` column (the input_hint
    * invariant), which PipelineSpec checks per page.
    */
  def withCleanText(pages: DataFrame): DataFrame = {
    val spark = pages.sparkSession
    Registry.ensure(spark)
    pages
      .withColumn("extracted_text", Registry.htmlToText(col("html")))
      .withColumn("clean", Registry.cleanTextFast(col("extracted_text")))
  }

  /** sameAs triples via connected components over alias edges; `dict`
    * needs only the key columns, each key once (a dictionary,
    * [[EntityStore.keys]] or distinct surface keys).
    * Edge source: entities sharing the SAME normalized text with different
    * types are NOT merged (type is part of identity, as in the reference
    * dictionary key `(norm, type)`, tables.py:59-79); edges come from an
    * alias table (schema: norm_a, norm_b, entity_type; e.g.
    * "u.s."→"united states"), so without aliases every entity is its own
    * canonical.
    *
    * Runs on the driver: the alias graph has at most |aliases| edges and
    * 2·|aliases| nodes, whatever the size of `dict`. It collects the alias
    * table, then the `dict` keys that are alias endpoints with their
    * [[Text.entityId]] (one semi-join), and labels them with
    * [[ConnectedComponents.unionFind]]. The result is a local frame, so
    * reading it runs no Spark job. An alias table of more than
    * [[ConnectedComponents.DriverMaxEdges]] rows fails with an
    * `IllegalArgumentException` naming the bound and the row count.
    * [[runIncremental]] runs the same steps against the committed set;
    * this whole-frame form stays because perfbench's traced sameAs step
    * calls it.
    */
  def sameAsTriples(dict: DataFrame, aliases: DataFrame): DataFrame =
    sameAsFrame(dict.sparkSession, sameAsPairs(dict, aliasRows(aliases)))

  /** The alias table as (norm_a, norm_b, entity_type) rows, or an
    * `IllegalArgumentException` naming the bound and the row count when
    * it holds more than [[ConnectedComponents.DriverMaxEdges]]. A table
    * Catalyst folds to local rows is read without a Spark job; any other
    * is counted first, so rows over the bound never reach the driver.
    */
  private def aliasRows(aliases: DataFrame): Array[(String, String, String)] = {
    val spark = aliases.sparkSession
    import spark.implicits._
    val rows = aliases.select($"norm_a", $"norm_b", $"entity_type").as[(String, String, String)]
    val n = rows.queryExecution.optimizedPlan match {
      case l: LocalRelation => l.data.length.toLong
      case _ => rows.count()
    }
    val bound = ConnectedComponents.DriverMaxEdges
    require(n <= bound, s"alias table: $n rows exceed the driver bound of $bound " +
      "(ConnectedComponents.DriverMaxEdges)")
    rows.collect()
  }

  /** (subj, obj) entity keys of the sameAs triples, sorted: one pair per
    * non-canonical node of the alias graph induced on `dict`'s keys.
    */
  private def sameAsPairs(
      dict: DataFrame, aliases: Array[(String, String, String)]): Seq[(String, String)] = {
    val spark = dict.sparkSession
    import spark.implicits._
    val ends = aliases.iterator
      .flatMap { case (a, b, t) => Iterator((a, t), (b, t)) }.toSeq.distinct
    if (ends.isEmpty) return Seq.empty
    // at most one row per endpoint, because `dict` holds each key once
    val nodes = dict.select($"entity_text_norm", $"entity_type")
      .join(ends.toDF("entity_text_norm", "entity_type"),
        Seq("entity_text_norm", "entity_type"), "left_semi")
      .select($"entity_text_norm", $"entity_type",
        Text.entityId($"entity_text_norm", $"entity_type"))
      .as[(String, String, Long)].collect()
    val idOf = nodes.iterator.map { case (n, t, id) => (n, t) -> id }.toMap
    val keyOf = nodes.iterator.map { case (n, t, id) => id -> s"$n|$t" }.toMap
    val edges = aliases.flatMap { case (a, b, t) =>
      for (src <- idOf.get((a, t)); dst <- idOf.get((b, t))) yield (src, dst)
    }
    ConnectedComponents.unionFind(edges).iterator
      .collect { case (node, comp) if node != comp => (keyOf(node), keyOf(comp)) }
      .toSeq.sorted
  }

  /** sameAs triples of (subj, obj) key pairs, as a local frame. */
  private def sameAsFrame(spark: SparkSession, pairs: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    pairs.toDF("subj", "obj").select($"subj", lit(Pred.SameAs).as("pred"), $"obj",
      lit(1L).as("weight"), lit("und").as("lang")) // entity nodes are cross-language
  }

  /** THE fused narrow pass — the 100 TB-shaped core of the engine: ONE
    * scan of the pages table does html→text, clean_text, trie NER with
    * in-page per-surface counting (A3 is a within-page aggregation, so
    * it is FREE here — no shuffle), and topic scoring. Output is ~100
    * B/page, which is what downstream consumers re-read; the 1-2 KB/page
    * of html is touched exactly once and the `text` column not at all. Mention and hasTopic triples derive from this with ZERO
    * shuffles; only the entity dictionary (for canonicalization)
    * aggregates across pages — over these pre-reduced rows.
    */
  def analyze(
      pages: DataFrame,
      trie: Broadcast[TokenTrie],
      params: Broadcast[TopicModelParams],
      cfg: Config = Config()): Dataset[PageAnalysis] = {
    val spark = pages.sparkSession
    import spark.implicits._
    val langExpr =
      if (pages.columns.contains("lang")) col("lang") else lit("und")
    // html may arrive binary (the input_hint contract) or string (staged
    // text fixtures) — cast("binary") accepts both, like HtmlToText's
    // binary-or-string contract
    pages.select(col("url"), langExpr.as("lang"),
        col("html").cast("binary").as("html"))
      .as[(String, String, Array[Byte])]
      .mapPartitions { it =>
        val t = trie.value
        val p = params.value
        val keep = cfg.keepTypes
        it.map { case (url, lang, html) =>
          // a null html must not NPE the task (one bad row would fail the
          // whole batch): it analyzes as an empty page — a topic, no mentions
          val extracted = graft.functions.HtmlStripper.strip(
            if (html == null) ""
            else new String(html, java.nio.charset.StandardCharsets.UTF_8))
          // String-twin clean: skips the UTF8String encode/decode round
          // trips (2 full-text copies/page) the Column container costs —
          // char-identical to the CleanText expression (clean() delegates
          // to cleanString(); Column ≡ scalar stays fuzz-pinned)
          val clean = graft.functions.CleanTextImpl.cleanString(extracted)
          val surfaces = NerExtractor.surfaceCounts(t, clean, keep)
          PageAnalysis(url, lang, TopicScorer.score(p, url, clean).id_topic, surfaces)
        }
      }
  }

  /** Per-page surface rows from the compact analysis — the batch delta
    * the [[EntityStore]] merges and the dict builds from.
    */
  def surfaceRows(analyzed: Dataset[PageAnalysis]): DataFrame = {
    val spark = analyzed.sparkSession
    import spark.implicits._
    analyzed.flatMap { a =>
      a.surfaces.map(s =>
        (a.url, s.entity_text_norm, s.entity_type, s.entity_text, s.n))
    }.toDF("url", "entity_text_norm", "entity_type", "entity_text", "n")
  }

  /** Mention + hasTopic triples in ONE narrow pass over the compact
    * analysis — per page: one topic row + one row per distinct entity.
    */
  def pageTriples(analyzed: Dataset[PageAnalysis]): DataFrame = {
    val spark = analyzed.sparkSession
    import spark.implicits._
    analyzed.flatMap { a =>
      val byEntity = a.surfaces.groupBy(s => (s.entity_text_norm, s.entity_type))
      val mt = byEntity.toSeq.sortBy(_._1).map { case ((norm, tpe), ss) =>
        (a.url, Pred.Mentions, s"$norm|$tpe", ss.map(_.n).sum, a.lang)
      }
      (a.url, Pred.HasTopic, s"topic_${a.id_topic}", 1L, a.lang) +: mt
    }.toDF("subj", "pred", "obj", "weight", "lang")
  }

  /** Entity dictionary from the compact analysis — the analysis-aware
    * fast path of [[EntityLink.dictFromSurfaceRows]] (row-identical,
    * pinned by EntityLinkSpec). Because a PageAnalysis's surfaces are
    * in-page unique by construction, news_count needs NO url-level
    * distinct (the generic path shuffles ~3 string-rows/page for it —
    * measured 150+ executor-seconds at 8M pages): one flatMap emits the
    * surface rows plus one null-surface marker per (page, entity), and a
    * single dict-key shuffle with map-side combine aggregates both.
    * No pipeline path builds it (sameAs reads only keys); it stays only
    * because perfbench's `link.dict` probe times it.
    */
  def dictFromAnalysis(analyzed: Dataset[PageAnalysis]): DataFrame = {
    val spark = analyzed.sparkSession
    import spark.implicits._
    val tagged = analyzed.flatMap { a =>
      val per = a.surfaces.iterator
        .map(s => (s.entity_text_norm, s.entity_type, s.entity_text, s.n))
      val marks = a.surfaces.iterator
        .map(s => (s.entity_text_norm, s.entity_type)).distinct
        .map { case (n, t) => (n, t, null: String, 1L) }
      (per ++ marks).toSeq
    }.toDF("entity_text_norm", "entity_type", "entity_text", "n")
    // ONE linear chain — no branch, no join (branching on the null tag
    // pushes the filters below the aggregate and defeats exchange reuse,
    // doubling the cache scan): level 1 totals per surface (marker rows
    // aggregate under null), level 2 is the shared dictFromTagged
    EntityLink.dictFromTagged(tagged
      .groupBy($"entity_text_norm", $"entity_type", $"entity_text")
      .agg(sum($"n").as("cnt"))).toDF()
  }

  /** [[pageTriples]] of an already-analyzed Dataset. It stays only
    * because the benchmark harness under `perfbench/` calls it
    * positionally with `None, None, Config()`; `preparedDict` and `cfg`
    * are unused, and `aliases` must be empty: sameAs comes from
    * [[runIncremental]], which derives it from the cumulative
    * [[EntityStore]].
    */
  def triplesFromAnalysis(
      analyzed: Dataset[PageAnalysis],
      aliases: Option[DataFrame],
      preparedDict: Option[DataFrame],
      cfg: Config): DataFrame = {
    require(aliases.isEmpty, "triplesFromAnalysis makes no sameAs triples: " +
      "runIncremental derives them from the EntityStore")
    pageTriples(analyzed)
  }

  /** Incremental run against a TripleStore: process only urls without a
    * committed `processedIn` lineage marker (J2 — the checkpoint/resume
    * primitive), then commit data triples + one marker per input page
    * atomically. A killed run leaves no manifest entry, so retrying
    * reprocesses exactly the uncommitted pages; a completed run is an
    * exact no-op on retry (including zero-mention pages, which the
    * reference's output-presence anti-join would re-run forever).
    * `aliases` requires `entityStore`: sameAs edges are derived from its
    * cumulative dictionary. Returns number of triples committed (markers
    * included).
    *
    * sameAs runs on the driver ([[sameAsTriples]]) and reads the
    * committed sameAs rows once. Both reads are bounded before anything
    * is written: an alias table of more than
    * [[ConnectedComponents.DriverMaxEdges]] rows, or more than twice that
    * many committed sameAs rows (one per non-canonical alias endpoint),
    * fails the batch with an `IllegalArgumentException` naming the bound
    * and the count, and neither store changes.
    */
  def runIncremental(
      store: TripleStore,
      batchId: String,
      pages: DataFrame,
      trie: Broadcast[TokenTrie],
      params: Broadcast[TopicModelParams],
      cfg: Config = Config(),
      entityStore: Option[EntityStore] = None,
      aliases: Option[DataFrame] = None): Long = {
    require(aliases.isEmpty || entityStore.nonEmpty,
      "runIncremental with aliases needs an entityStore: sameAs edges are " +
        "derived from the cumulative entity dictionary")
    val spark = pages.sparkSession
    import spark.implicits._
    val aliasTable = aliases.map(aliasRows)
    val todo = store.unprocessed(pages, Pred.Processed)
    val analyzed = analyze(todo, trie, params, cfg)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (analyzed.isEmpty) 0L
      else {
        val committed = aliasTable.map { _ =>
          val n = store.predRowCount(Pred.SameAs) // from manifests, no data read
          val bound = 2 * ConnectedComponents.DriverMaxEdges
          require(n <= bound, s"committed sameAs: $n rows exceed the driver " +
            s"bound of $bound (2 × ConnectedComponents.DriverMaxEdges)")
          store.committedForPred(Pred.SameAs).select($"subj", $"obj")
            .as[(String, String)].collect().toSet
        }
        // MERGE the entity dictionary BEFORE committing triples+markers:
        // the pair is idempotent under kill-anywhere retry (markers absent
        // → retry recomputes the identical batch → merge() no-ops on the
        // recorded batch id → commit proceeds). Invariant: dictionary
        // state always covers at least the committed batches.
        entityStore.foreach(_.merge(batchId, surfaceRows(analyzed)))
        val markers = analyzed.toDF().select(
          col("url").as("subj"), lit(Pred.Processed).as("pred"),
          lit(batchId).as("obj"), lit(1L).as("weight"), col("lang"))
        // per-page triples come from THIS batch; sameAs edges are
        // CORPUS-level facts: derive them from the cumulative dictionary
        // (an edge whose two surface forms arrive in different batches
        // materializes as soon as both are known), minus the committed
        // sameAs rows, so an edge is committed exactly ONCE across batches
        // (committing the per-batch rebuild verbatim duplicated every
        // recurring edge).
        val pageT = pageTriples(analyzed)
        val sa = for (al <- aliasTable; es <- entityStore; done <- committed) yield {
          // CUMULATIVE dict (merged above → covers this batch): the
          // current canonicalization is authoritative, and a component
          // that MERGES across batches CHANGES its canonical (the min
          // entity id). Committing only the new edges would leave the old
          // canonical's edges alongside — two canonical targets for one
          // entity, diverging from a batch run over the same corpus. So:
          // RETRACT committed edges no longer in the current set (COW
          // delete of the affected subjects' sameAs rows), then commit
          // every current edge the store does not hold after the delete:
          // the ones those subjects lost plus the genuinely new ones.
          // Kill-anywhere safe: a crash after the retraction finds an
          // identical current set on retry (merge() no-ops), no stale
          // edges, and the difference still recommits the deleted-but-
          // current rows. The COW rewrite runs only when a component
          // actually merged.
          val current = sameAsPairs(es.keys(), al).toSet
          val stale = done.collect { case (s, o) if !current((s, o)) => s }
          if (stale.nonEmpty)
            store.deleteScoped(col("pred") === Pred.SameAs, stale.toSeq.toDF("subj"))
          val kept = done.filterNot { case (s, _) => stale(s) }
          sameAsFrame(spark, (current -- kept).toSeq.sorted)
        }
        val triples = sa.foldLeft(pageT)(_ unionByName _)
        store.commit(batchId, triples.unionByName(markers))
      }
    } finally analyzed.unpersist(blocking = false)
  }

  /** Run-scoped incremental topic assignment (J1's `id_run` dimension —
    * reference `topics_detector/db_io.py:389-413`, job
    * `jobs/topics_detector_inference_job.py:18-72`): assign topics only
    * to pages with no `processedIn:<idRun>` marker, so activating a NEW
    * model run re-assigns every page exactly once while an old run's
    * assignments stay committed and queryable (PK `(id_news, id_run)`,
    * `db/schema.sql:106-119`).
    *
    * `assign` maps (url, lang, clean) → (url, lang, id_topic) — pass
    * [[modelAssign]] for real model scoring; tests pass SQL-expressible
    * functions so the scoping semantics get a DuckDB oracle.
    */
  def assignTopicsIncremental(
      store: TripleStore,
      batchId: String,
      idRun: String,
      pagesWithClean: DataFrame,
      assign: DataFrame => DataFrame): Long = {
    val todo = store.unprocessed(pagesWithClean, Pred.processedFor(idRun))
    val langExpr =
      (if (todo.columns.contains("lang")) col("lang") else lit("und")).as("lang")
    val input = todo.select(col("url"), langExpr, col("clean"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (input.isEmpty) 0L
      else {
        val topicT = assign(input).select(
          col("url").as("subj"), lit(Pred.hasTopicFor(idRun)).as("pred"),
          concat(lit("topic_"), col("id_topic").cast("string")).as("obj"),
          lit(1L).as("weight"), col("lang"))
        val markers = input.select(
          col("url").as("subj"), lit(Pred.processedFor(idRun)).as("pred"),
          lit(batchId).as("obj"), lit(1L).as("weight"), col("lang"))
        store.commit(batchId, topicT.unionByName(markers))
      }
    } finally input.unpersist(blocking = false)
  }

  /** Model-backed `assign` for [[assignTopicsIncremental]]. */
  def modelAssign(params: Broadcast[TopicModelParams])(input: DataFrame): DataFrame = {
    val spark = input.sparkSession
    import spark.implicits._
    input.select($"url", $"lang", $"clean")
      .as[(String, String, String)]
      .mapPartitions { it =>
        val p = params.value
        it.map { case (url, lang, text) =>
          (url, lang, TopicScorer.score(p, url, if (text == null) "" else text).id_topic)
        }
      }.toDF("url", "lang", "id_topic")
  }

  /** Overwrite mode for one run (reference
    * `jobs/topics_detector_inference_job.py:18-72`: scoped DELETE → full
    * recompute): drop the run's assignments + markers for the given pages
    * (a semi-join scope, `db_io.py:334-345`), then re-assign them
    * incrementally. Pages OUTSIDE the scope keep their old assignments.
    */
  def overwriteTopics(
      store: TripleStore,
      batchId: String,
      idRun: String,
      pagesWithClean: DataFrame,
      assign: DataFrame => DataFrame): Long = {
    val scope = pagesWithClean.select(col("url").as("subj"))
    store.deleteScoped(
      col("pred").isin(Pred.hasTopicFor(idRun), Pred.processedFor(idRun)), scope)
    assignTopicsIncremental(store, batchId, idRun, pagesWithClean, assign)
  }
}
