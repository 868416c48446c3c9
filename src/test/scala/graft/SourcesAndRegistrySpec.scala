package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.pipeline.RunRegistry
import graft.sources.Tsv
import graft.topics.{ModelIO, TopicScorer, TopicTrainer}
import graft.fixtures.PageGen
import graft.pipeline.KgPipeline

/** S2 TSV contract, S9 artifact I/O, S5/S6 run registry, and the
  * distributed Spark-ML training path (tolerance-checked — SURVEY §7.4 #6).
  */
class SourcesAndRegistrySpec extends SparkSpec {

  test("TSV round trip preserves values; missing required column fails fast (S2)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_tsv_spec_").toString
    val df = Seq((1L, "en", "hello world"), (2L, "es", "hola \"mundo\", ok"))
      .toDF("doc_id", "lang", "text")
    Tsv.write(df, dir)
    val back = Tsv.read(spark, dir, Seq("doc_id", "lang", "text"),
      Some("doc_id BIGINT, lang STRING, text STRING"))
    assert(back.orderBy("doc_id").as[(Long, String, String)].collect().toSeq ===
      df.orderBy("doc_id").as[(Long, String, String)].collect().toSeq)
    val ex = intercept[IllegalArgumentException] {
      Tsv.read(spark, dir, Seq("doc_id", "title", "content"),
        Some("doc_id BIGINT, lang STRING, text STRING"))
    }
    assert(ex.getMessage.contains("title"))
    assert(ex.getMessage.contains("content"))
  }

  test("model artifact save/load round trip is exact (S9)") {
    val dir = Files.createTempDirectory("graft_model_").toString
    val m = SparkEntry.fixtureModel
    ModelIO.save(spark, m, dir)
    val back = ModelIO.load(spark, dir)
    assert(back.vocab.toSeq === m.vocab.toSeq)
    assert(back.idf.toSeq === m.idf.toSeq)
    assert(back.components.map(_.toSeq).toSeq === m.components.map(_.toSeq).toSeq)
    assert(back.centroids.map(_.toSeq).toSeq === m.centroids.map(_.toSeq).toSeq)
    assert(back.ngramMax === m.ngramMax)
    // loaded params score identically
    val a = TopicScorer.score(m, "u", "alpha beta")
    val b = TopicScorer.score(back, "u", "alpha beta")
    assert(a === b)
  }

  test("run registry: ≤1 active, deactivate-all-then-activate, latest (S5/S6/W4)") {
    val reg = new RunRegistry(
      Files.createTempDirectory("graft_registry_").toString, spark)
    assert(reg.active() === None)
    assert(reg.latest() === None)
    reg.register("run_a", "tfidf_svd_kmeans", TopicTrainer.Config(), SparkEntry.fixtureModel, 0.12)
    reg.register("run_b", "tfidf_svd_kmeans", TopicTrainer.Config(), SparkEntry.fixtureModel, 0.15)
    assert(reg.latest() === Some("run_b"))
    assert(reg.active() === None)
    reg.activate("run_a")
    assert(reg.active() === Some("run_a"))
    reg.activate("run_b") // deactivates run_a in the same publish
    assert(reg.active() === Some("run_b"))
    assert(reg.table().filter(col("is_active")).count() === 1L)
    intercept[IllegalArgumentException](reg.activate("missing"))
    // idempotent re-register replaces the row, does not duplicate
    reg.register("run_b", "tfidf_svd_kmeans", TopicTrainer.Config(), SparkEntry.fixtureModel, 0.16)
    assert(reg.table().filter(col("id_run") === "run_b").count() === 1L)
  }

  test("run registry: a fresh foreign claim on the next version fails register loudly, files unchanged") {
    val root = Files.createTempDirectory("graft_registry_claim_").toString
    val reg = new RunRegistry(root, spark)
    reg.register("run_a", "tfidf_svd_kmeans", TopicTrainer.Config(), SparkEntry.fixtureModel, 0.12)
    // another process's activate is writing version 2 right now
    Files.writeString(java.nio.file.Paths.get(root, "_claim.2"), "activate:run_x")
    val before = SparkSpec.fileTree(root)
    val e = intercept[IllegalStateException](
      reg.register("run_b", "tfidf_svd_kmeans", TopicTrainer.Config(), SparkEntry.fixtureModel, 0.15))
    assert(e.getMessage.contains("version 2") && e.getMessage.contains("activate:run_x"),
      e.getMessage)
    assert(SparkSpec.fileTree(root) === before)
    assert(reg.latest() === Some("run_a"))
  }

  test("run registry: 10 register/activate cycles keep at most 2 version dirs") {
    val root = Files.createTempDirectory("graft_registry_gc_").toString
    val reg = new RunRegistry(root, spark)
    for (i <- 1 to 10) {
      reg.register(f"run_$i%02d", "tfidf_svd_kmeans", TopicTrainer.Config(), SparkEntry.fixtureModel, 0.1)
      reg.activate(f"run_$i%02d")
    }
    val vDirs = new java.io.File(root).listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("v=")).map(_.getName).toSeq
    assert(vDirs.size <= 2, vDirs.mkString(", "))
    assert(reg.active() === Some("run_10"))
    assert(reg.latest() === Some("run_10"))
    assert(reg.table().count() === 10L)
  }

  test("distributed Spark-ML trainer: shapes, idf formula, sane silhouette") {
    val cleaned = KgPipeline.withCleanText(PageGen.pages(spark, 240L).toDF())
      .select("url", "clean")
    val (m, silhouette) = TopicTrainer.fit(cleaned, TopicTrainer.Config())
    assert(m.k === 6)
    assert(m.nComponents === 8)
    assert(m.vocab.length > 50 && m.vocab.length <= 512)
    assert(m.idf.forall(_ >= 1.0)) // smooth idf + 1 is ≥ 1 by construction
    assert(m.components.length === m.vocab.length)
    assert(silhouette >= -1.0 && silhouette <= 1.0)
    // the frozen params drive the SAME exact scorer: every page scores,
    // topics span a reasonable subset of k
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(m)
    val assigned = TopicScorer.assignTopics(cleaned, bc, textCol = "clean")
    assert(assigned.count() === 240L)
    val used = assigned.map(_.id_topic).distinct().collect().toSet
    assert(used.forall(t => t >= 0 && t < 6))
    assert(used.size >= 2, s"degenerate clustering: $used")
  }
}
