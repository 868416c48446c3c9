package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.topics.{TopicModelParams, TopicTerms, TopicTrainer}
import graft.util.{Frames, Snapshots, StoreFs}

/** Model-run registry ≙ reference `topics_model_training_runs`
  * (`db/schema.sql:33-50`) with the "at most one active run" invariant the
  * reference enforces via a partial unique index (`schema.sql:53-55`) and
  * the deactivate-all-then-activate transaction (S6,
  * `topics_detector/db_io.py:115-144`).
  *
  * Run ids are deterministic keys supplied by the caller (S5: no
  * INSERT…RETURNING — BIGSERIAL does not distribute; SURVEY.md §1.4).
  * Registry versions are immutable parquet snapshots published through
  * [[graft.util.Snapshots]]: `_latest` is an atomically-renamed pointer,
  * so readers always see a consistent registry and a killed writer leaves
  * the previous version active — Iceberg's snapshot-pointer semantics,
  * minus the runtime dep. Each publish first CLAIMS its version under the
  * operation and run id (`register:<id>`, `activate:<id>`): a concurrent
  * publish by another operation fails loudly instead of silently dropping
  * one of the two, and a crashed attempt's retry takes its own claim
  * over. GC keeps the `Snapshots.Retain` newest versions, so a registry
  * cycled forever holds O(1) dirs; a lazy [[table]] plan stays readable
  * for the next `Retain - 1` publishes.
  */
final class RunRegistry(val root: String, spark: SparkSession) {

  import spark.implicits._
  import RunRegistry.TableDDL

  /** Pointer I/O through the Hadoop FileSystem API ([[graft.util
    * .StoreFs]]) — the registry root may be file://, hdfs://, etc.
    */
  private val sfs = new StoreFs(root, spark.sessionState.newHadoopConf())

  sfs.mkdirs(sfs.rootPath)

  private val snaps = new Snapshots(sfs)

  private def tableAt(v: Long): DataFrame =
    if (v == 0L) Frames.empty(spark, TableDDL)
    else spark.read.parquet(snaps.dir(v).toString)

  /** Current registry table ([[RunRegistry.TableDDL]]). */
  def table(): DataFrame = tableAt(snaps.current())

  /** Publish `next(base, table at base)` as the new version, claimed
    * under `op:idRun`.
    */
  private def publish(op: String, idRun: String)(next: (Long, DataFrame) => DataFrame): Unit =
    snaps.publish(s"$op:$idRun") { (base, dir) =>
      next(base, tableAt(base)).coalesce(1).write.mode(SaveMode.Overwrite).parquet(dir.toString)
      true
    }

  /** S5: register a run (inactive). The row records the `cfg` the run
    * trained with, the fitted `model`'s vocabulary size and n-gram range,
    * and the topic-term count [[TopicTerms.topTerms]] reports; there is
    * no MLflow run. Re-registering an id_run replaces its row (idempotent
    * retries). `created_seq` is the registry version the registration
    * publishes.
    */
  def register(
      idRun: String,
      modelName: String,
      cfg: TopicTrainer.Config,
      model: TopicModelParams,
      silhouette: Double): Unit =
    publish("register", idRun) { (base, t) =>
      val row = Row(idRun, modelName, model.vocab.length, cfg.nComponents, cfg.k, silhouette,
        cfg.vocabSize, cfg.maxDfRatio, cfg.minDf, 1, model.ngramMax,
        TopicTerms.TopTermsPerTopic, cfg.seed, "", base + 1L, false)
      t.filter($"id_run" =!= idRun).unionByName(spark.createDataFrame(
        java.util.List.of(row), StructType.fromDDL(TableDDL)))
    }

  /** S6: deactivate-all-then-activate, one atomic publish. */
  def activate(idRun: String): Unit =
    publish("activate", idRun) { (_, t) =>
      require(t.filter($"id_run" === idRun).count() == 1L,
        s"unknown id_run: $idRun")
      t.withColumn("is_active", $"id_run" === idRun)
    }

  /** W4 analogue: the single active run, if any. */
  def active(): Option[String] = {
    val rows = table().filter($"is_active")
      .select($"id_run").as[String].collect()
    require(rows.length <= 1, s"registry invariant violated: ${rows.toSeq}")
    rows.headOption
  }

  /** Latest registered run by registration order (`ORDER BY created_at
    * DESC LIMIT 1`, db_io.py:230-238).
    */
  def latest(): Option[String] =
    table().orderBy($"created_seq".desc, $"id_run")
      .select($"id_run").as[String].collect().headOption
}

object RunRegistry {
  /** The registry table — full schema parity with the reference's
    * `topics_model_training_runs` (`db/schema.sql:33-50`): the complete
    * hyperparameter set rides with the run so frozen-param inference is
    * reproducible from the registry row alone.
    */
  val TableDDL: String =
    "id_run STRING, model_name STRING, vocab_size INT, n_components INT, k INT, " +
      "silhouette DOUBLE, tfidf_max_features INT, tfidf_max_df DOUBLE, tfidf_min_df INT, " +
      "ngram_min INT, ngram_max INT, top_terms_per_topic INT, random_state BIGINT, " +
      "id_mlflow_run STRING, created_seq BIGINT, is_active BOOLEAN"
}
