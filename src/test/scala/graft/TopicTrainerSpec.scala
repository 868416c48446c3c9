package graft

import org.apache.spark.sql.functions._

import graft.fixtures.PageGen
import graft.pipeline.KgPipeline
import graft.topics.{TopicModelParams, TopicScorer, TopicTrainer}
import graft.topics.TopicTrainer.Config

/** The one topic fit at its two scales: the driver fit over a `Seq` and
  * the Spark fit over a DataFrame share every rule, so on one corpus
  * they give the same model up to the Gramian's summation order.
  */
class TopicTrainerSpec extends SparkSpec {

  /** 240 PageGen pages, cleaned, in url order. */
  private lazy val pages = KgPipeline.withCleanText(PageGen.pages(spark, 240L).toDF())
    .select(col("url"), col("clean")).orderBy(col("url")).localCheckpoint()

  private lazy val rows: Seq[(String, String)] =
    pages.collect().map(r => (r.getString(0), r.getString(1))).toSeq

  private def topics(m: TopicModelParams): Seq[Int] =
    rows.map { case (url, text) => TopicScorer.score(m, url, text).id_topic }

  for (cfg <- Seq(Config(), Config(vocabSize = 64, nComponents = 4, k = 3))) {
    test(s"local fit ≡ Spark fit on 240 pages: vocab ${cfg.vocabSize}, ${cfg.nComponents} comps, k ${cfg.k}") {
      val local = TopicTrainer.fit(rows.map(_._2), cfg)
      val (dist, _) = TopicTrainer.fit(pages, cfg)
      assert(dist.vocab.toSeq === local.vocab.toSeq)
      assert(dist.idf.map(java.lang.Double.doubleToRawLongBits).toSeq ===
        local.idf.map(java.lang.Double.doubleToRawLongBits).toSeq)
      assert(dist.nComponents === cfg.nComponents && local.nComponents === cfg.nComponents)
      for (c <- 0 until cfg.nComponents) {
        val a = local.components.map(_(c))
        val b = dist.components.map(_(c))
        val sign = if (a.zip(b).map { case (x, y) => x * y }.sum < 0) -1.0 else 1.0
        val worst = a.zip(b).map { case (x, y) => math.abs(x - sign * y) }.max
        assert(worst <= 1e-9, s"component $c differs by $worst")
      }
      assert(topics(dist) === topics(local))
    }
  }

  test("Spark fit of 240 pages runs a fixed number of Spark jobs") {
    pages.count()
    val (jobs, _) = sparkActivity { TopicTrainer.fit(pages, Config()) }
    assert(jobs === 10L)
  }

  test("invalid Config fails naming the field, before any Spark job") {
    val bad: Seq[(String, () => Config)] = Seq(
      "vocabSize" -> (() => Config(vocabSize = 0)),
      "minDf" -> (() => Config(minDf = 0)),
      "maxDfRatio" -> (() => Config(maxDfRatio = 0.0)),
      "maxDfRatio" -> (() => Config(maxDfRatio = 1.5)),
      "nComponents" -> (() => Config(nComponents = 0)),
      "k" -> (() => Config(k = 0)))
    pages.count()
    for ((field, cfg) <- bad) {
      val local = intercept[IllegalArgumentException](TopicTrainer.fit(Seq("alpha beta"), cfg()))
      assert(local.getMessage.contains(s"$field must be"), local.getMessage)
      val (jobs, _) = sparkActivity {
        val e = intercept[IllegalArgumentException](TopicTrainer.fit(pages, cfg()))
        assert(e.getMessage.contains(s"$field must be"), e.getMessage)
      }
      assert(jobs === 0L, field)
    }
  }

  test("an empty corpus or an empty vocabulary fails naming minDf, maxDfRatio and n") {
    def named(e: IllegalArgumentException, n: Int): Unit =
      Seq("minDf", "maxDfRatio", s"n = $n").foreach(w => assert(e.getMessage.contains(w), e.getMessage))
    named(intercept[IllegalArgumentException](TopicTrainer.fit(Seq.empty[String], Config())), 0)
    named(intercept[IllegalArgumentException](TopicTrainer.fit(pages.limit(0), Config())), 0)
    val tooRare = Config(minDf = 1000)
    named(intercept[IllegalArgumentException](TopicTrainer.fit(rows.map(_._2), tooRare)), 240)
    named(intercept[IllegalArgumentException](TopicTrainer.fit(pages, tooRare)), 240)
  }
}
