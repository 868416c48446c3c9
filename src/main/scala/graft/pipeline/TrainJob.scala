package graft.pipeline

import org.apache.spark.sql.DataFrame

import graft.topics.{ModelIO, TopicModelParams, TopicTrainer}

/** The composed retrain entry point — the reference's training pipeline
  * plus DAG 02's re-inference step as ONE call
  * (`src/news_nlp/pipelines/02_topics_detector_train_pipeline.py:68-160`,
  * `airflow_dags/02_news_topics_retrain_dag.py:30-59`):
  *
  *   1. fit the topic model on the cleaned corpus
  *      (the Spark [[TopicTrainer.fit]] ≙ `train_topic_model`);
  *   2. register the run — its `Config`, model shape and silhouette — INACTIVE
  *      ([[RunRegistry.register]] ≙ `insert_topics_model_training_run_df`);
  *   3. persist the model artifacts
  *      ([[ModelIO.save]] ≙ `save_topic_model_artifacts`);
  *   4. activate the run only after everything above succeeded
  *      (`set_topics_model_training_run_active`, pipeline step 4.6 — a
  *      crash before this leaves the previous run active, same recovery
  *      contract as the reference's transaction ordering);
  *   5. re-run inference under the NEW run id (DAG 02's
  *      `full_inference_pipeline --mode-topics-detector overwrite`):
  *      run-scoped markers mean the new run has no processed pages, so
  *      the incremental assignment visits every page exactly once while
  *      the old run's assignments stay committed and queryable
  *      (PK `(id_news, id_run)`, `db/schema.sql:106-119`).
  *
  * A killed retrain is resumable: re-running it retrains, re-registers
  * the same `idRun` (register is idempotent by id), re-activates, and the
  * assignment anti-join skips pages the crashed attempt already
  * committed under this run.
  *
  * `assignOverride` swaps the model-backed scorer for an injected
  * assignment function — the driver's q45 oracle passes a
  * SQL-expressible one so DuckDB can restate the post-retrain state;
  * production callers leave it None.
  */
object TrainJob {

  /** @param assignedPages pages assigned under the new run by THIS call
    *                       (0 on a retry whose frontier is already
    *                       committed); each page commits two triples —
    *                       the assignment and its processedIn marker.
    */
  final case class Result(
      idRun: String,
      silhouette: Double,
      assignedPages: Long,
      params: TopicModelParams)

  def run(
      store: TripleStore,
      registry: RunRegistry,
      idRun: String,
      batchId: String,
      pagesWithClean: DataFrame,
      cfg: TopicTrainer.Config = TopicTrainer.Config(),
      modelDir: Option[String] = None,
      assignOverride: Option[DataFrame => DataFrame] = None): Result = {
    val spark = pagesWithClean.sparkSession
    // 1) fit (distributed); silhouette is the run's registered metric
    val (params, silhouette) = TopicTrainer.fit(pagesWithClean, cfg)
    // 2) register INACTIVE — visible in the registry, not yet serving
    registry.register(idRun, "topics_detector", cfg, params, silhouette)
    // 3) artifacts to disk (the joblib-dump analogue)
    modelDir.foreach(ModelIO.save(spark, params, _))
    // 4) activate — single atomic registry publish
    registry.activate(idRun)
    // 5) assignment under the new run id (fresh frontier ⇒ full pass)
    val bc = spark.sparkContext.broadcast(params)
    val assign = assignOverride.getOrElse(KgPipeline.modelAssign(bc)(_))
    // assignTopicsIncremental returns committed TRIPLES (assignment +
    // marker per page) — halve to report pages
    val committed = KgPipeline.assignTopicsIncremental(
      store, batchId, idRun, pagesWithClean, assign)
    Result(idRun, silhouette, committed / 2, params)
  }
}
