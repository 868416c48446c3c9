package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.pipeline.{KgPipeline, RunRegistry, TrainJob, TripleStore}
import graft.topics.TopicTrainer

/** The composed retrain entry point (reference
  * `02_topics_detector_train_pipeline.py:68-160` + DAG 02): train →
  * register → save artifacts → activate → assign under the new run.
  */
class TrainJobSpec extends SparkSpec {

  private def cleaned(n: Long) =
    KgPipeline.withCleanText(graft.fixtures.PageGen.pages(spark, n).toDF())
      .select(col("url"), col("lang"), col("clean"))

  private def tmp() = Files.createTempDirectory("graft_trainjob_").toString

  test("retrain composes train→register→activate→assign; resumable and non-destructive") {
    val root = tmp()
    val store = new TripleStore(s"$root/store", spark)
    val reg = new RunRegistry(s"$root/registry", spark)
    val pages = cleaned(120L)

    // a pre-existing active run with its own committed assignments
    reg.register("run1", "topics_detector", TopicTrainer.Config(), SparkEntry.fixtureModel, 0.0)
    reg.activate("run1")
    def fixedAssign(in: org.apache.spark.sql.DataFrame) =
      in.select(col("url"), col("lang"), lit(0).as("id_topic"))
    KgPipeline.assignTopicsIncremental(store, "b1", "run1", pages, fixedAssign)
    val run1Rows = store.committed().filter(col("pred") === "hasTopic:run1").count()
    assert(run1Rows === 120L)

    // composed retrain on the REAL model path (default modelAssign)
    val cfg = TopicTrainer.Config(vocabSize = 64, nComponents = 4, k = 3)
    val res = TrainJob.run(store, reg, "run2", "b2", pages, cfg,
      modelDir = Some(s"$root/model"))
    assert(res.assignedPages === 120L)
    assert(res.silhouette >= -1.0 && res.silhouette <= 1.0)

    // registry: both runs present, exactly the new one active, the
    // trained model's hyperparameters + silhouette registered
    import spark.implicits._
    val t = reg.table()
    assert(t.count() === 2L)
    assert(reg.active() === Some("run2"))
    val row = t.filter($"id_run" === "run2")
      .select($"k", $"n_components", $"silhouette", $"vocab_size").head()
    assert(row.getInt(0) === 3 && row.getInt(1) === 4)
    assert(row.getDouble(2) === res.silhouette)
    assert(row.getInt(3) === res.params.vocab.length)
    // the row records the Config run2 trained with
    val hyper = t.filter($"id_run" === "run2")
      .select($"tfidf_max_features", $"tfidf_min_df", $"random_state").head()
    assert(hyper.getInt(0) === 64 && hyper.getInt(1) === 2 && hyper.getLong(2) === 31415L)

    // artifacts round-trip to the exact frozen params
    val loaded = graft.topics.ModelIO.load(spark, s"$root/model")
    assert(loaded.vocab.toSeq === res.params.vocab.toSeq)
    assert(loaded.centroids.map(_.toSeq).toSeq === res.params.centroids.map(_.toSeq).toSeq)

    // the old run's assignments stay committed and queryable (PK
    // (id_news, id_run) semantics — reference db/schema.sql:106-119)
    assert(store.committed().filter(col("pred") === "hasTopic:run1").count() === run1Rows)
    assert(store.committed().filter(col("pred") === "hasTopic:run2").count() === 120L)

    // assignment ≡ direct scoring with the returned params
    val bc = spark.sparkContext.broadcast(res.params)
    val direct = KgPipeline.modelAssign(bc)(pages)
      .select($"url", $"id_topic".cast("string")).as[(String, String)].collect().toMap
    val committed = store.committed().filter(col("pred") === "hasTopic:run2")
      .select($"subj", regexp_replace($"obj", "topic_", ""))
      .as[(String, String)].collect().toMap
    assert(committed === direct)

    // retry with the frontier already committed: no re-assignment, and
    // activation stays a single active run
    val res2 = TrainJob.run(store, reg, "run2", "b3", pages, cfg)
    assert(res2.assignedPages === 0L)
    assert(reg.active() === Some("run2"))
    assert(reg.table().count() === 2L)
  }
}
