package graft

import org.apache.spark.sql.functions._

import graft.api.Api
import graft.fixtures.PageGen
import graft.ner.FixtureGazetteer
import graft.schema.Pred

/** Single-text analyze surface (reference `api/app.py:100-124`): one call
  * returns topic + entities(+offsets) and must agree with the full batch
  * pipeline's triples for the same page.
  */
class ApiSpec extends SparkSpec {

  private lazy val trie = FixtureGazetteer.trie
  private lazy val params = SparkEntry.fixtureModel

  test("analyzeText equals the batch pipeline's triples for that page") {
    import spark.implicits._
    val pages = PageGen.pages(spark, 25L).toDF()
    val triples = SparkEntry.kgTriples(pages)
      .filter(col("pred").isin(Pred.HasTopic, Pred.Mentions))
      .select("subj", "pred", "obj", "weight")
      .as[(String, String, String, Long)].collect()
      .groupBy(_._1)
    // NOTE the batch pipeline cleans EXTRACTED html text; the API path
    // assembles (title, text). PageGen's text IS the extracted text, so
    // analyzing (null, page.text) must reproduce the page's triples.
    PageGen.pages(spark, 25L).collect().foreach { p =>
      val a = Api.analyzeText(trie, params, null, p.text, p.url,
        Some(FixtureGazetteer.keepLabels))
      val expected = triples(p.url)
      val expTopic = expected.find(_._2 == Pred.HasTopic).get._3
      assert(s"topic_${a.id_topic}" === expTopic, s"topic for ${p.url}")
      val expMentions = expected.filter(_._2 == Pred.Mentions)
        .map(t => (t._3, t._4)).sorted.toSeq
      val gotMentions = a.entities
        .groupBy(e => s"${e.entity_text_norm}|${e.entity_type}")
        .map { case (k, es) => (k, es.size.toLong) }.toSeq.sorted
      assert(gotMentions === expMentions, s"mentions for ${p.url}")
    }
  }

  test("P9 assembly: title skipped when empty; non-empty title shifts offsets") {
    // P9: no leading ". " when the title is empty (app.py:111)
    val noTitle = Api.analyzeText(trie, params, "", "erik larsen scored")
    assert(noTitle === Api.analyzeText(trie, params, null, "erik larsen scored")
      .copy(url = noTitle.url))
    val base = Api.analyzeText(trie, params, null, "erik larsen scored")
    val shifted = Api.analyzeText(trie, params, "Derby", "erik larsen scored")
    assert(base.entities.nonEmpty)
    assert(shifted.entities.map(_.begin_char) ===
      base.entities.map(_.begin_char + "derby".length + 2))
  }

  test("offsets index the caller's RAW text (reference app.py:119)") {
    // detection runs on the CLEANED text, but begin/end must index the
    // raw assembled input and entity_text must be the raw span — original
    // case and spacing preserved
    val text = "Erik  Larsen   visited   France today https://x.io/a"
    val a = Api.analyzeText(trie, params, null, text)
    assert(a.entities.map(_.entity_text_norm).sorted === Seq("erik larsen", "france"))
    a.entities.foreach { e =>
      assert(text.substring(e.begin_char, e.end_char) === e.entity_text)
    }
    assert(a.entities.map(_.entity_text).sorted === Seq("Erik  Larsen", "France"))
    // entities AFTER a stripped URL still map to their raw positions
    val withUrl = "see https://x.io/a then Erik Larsen spoke"
    val b = Api.analyzeText(trie, params, null, withUrl)
    val hit = b.entities.find(_.entity_text_norm == "erik larsen").get
    assert(withUrl.substring(hit.begin_char, hit.end_char) === "Erik Larsen")
    // a title shifts offsets by the RAW title length + ". "
    val c = Api.analyzeText(trie, params, "BREAKING", withUrl)
    val hitC = c.entities.find(_.entity_text_norm == "erik larsen").get
    assert(hitC.begin_char === hit.begin_char + "BREAKING".length + 2)
  }

  test("empty or whitespace-only text is rejected (reference 400, app.py:112)") {
    for ((t, x) <- Seq((null, ""), ("", "   "), (null, null), ("", "\n\t "),
        (null, "\u00a0\u3000"))) {
      val e = intercept[IllegalArgumentException](Api.analyzeText(trie, params, t, x))
      assert(e.getMessage.contains("must not be empty"))
    }
    // Python's strip() keeps a C0 control that is not whitespace (Java's
    // trim would eat it), so the reference analyzes it (HTTP 200)
    assert(Api.analyzeText(trie, params, null, "\u0001").entities.isEmpty)
    // a non-empty title alone passes: full_text = "Derby. " — pin it by
    // equality with the direct empty-title spelling of the same full
    // text (the old `entities !== null` could never fail: Seq fields
    // are non-null by construction)
    assert(Api.analyzeText(trie, params, "Derby", "") ===
      Api.analyzeText(trie, params, "", "Derby. "))
    // null text with a title must NOT interpolate the string "null"
    val t = Api.analyzeText(trie, params, "Derby", null)
    assert(t === Api.analyzeText(trie, params, "Derby", ""))
  }

  test("cleanTextWithOffsets equals cleanTextScala and maps spans exactly") {
    import graft.functions.Text
    val rng = new scala.util.Random(7)
    val alphabet = "aA \t\n  zΣσİé.h:t/p" + "http://u.io "
    val cases = Seq(
      "", "   ", "Erik  Larsen", "https://only.url", " x ", "a b",
      "İstanbul  Erik", "ΣΟΦΙΑ visited", "pre http://u.io/x post",
      "İ \ud835\udc9cx ΒΟΥΣ İq", // surrogate pair + length-changing lowercase
      "emoji \ud83c\udf89 İmix",
      // C0 controls at the edges: NOT regex-\s (survive the collapse)
      // but String.trim still strips them — parity must hold
      "\u0007Erik Larsen spoke", "x \u0007", "\u0001\u0007", "a\u0007b") ++
      (1 to 200).map(_ => (1 to rng.nextInt(40))
        .map(_ => alphabet(rng.nextInt(alphabet.length))).mkString)
    cases.foreach { s =>
      val (clean, bs, es) = Text.cleanTextWithOffsets(s)
      assert(clean === Text.cleanTextScala(s), s"string parity for <$s>")
      assert(bs.length === clean.length && es.length === clean.length)
      // spans are within the raw string, non-empty, and monotonic
      (0 until clean.length).foreach { i =>
        assert(bs(i) >= 0 && es(i) <= s.length && bs(i) < es(i), s"span $i of <$s>")
        if (i > 0) assert(bs(i) >= bs(i - 1), s"monotonic at $i of <$s>")
      }
      // a non-space cleaned char whose source wasn't case-length-shifted
      // maps to a raw char that case-folds to it (equalsIgnoreCase admits
      // the context-sensitive final sigma: raw 'Σ' → cleaned 'ς')
      (0 until clean.length).foreach { i =>
        if (clean(i) != ' ' && es(i) - bs(i) == 1 &&
            s.substring(bs(i), es(i)).toLowerCase.length == 1)
          assert(s.substring(bs(i), es(i))
            .equalsIgnoreCase(String.valueOf(clean(i))), s"char $i of <$s>")
      }
    }
  }

  test("Turkish default locale: API entities equal the batch mentions; every clean agrees") {
    import spark.implicits._
    import graft.functions.{CleanTextImpl, Text}
    import graft.ner.NerExtractor
    // under `tr`, String.toLowerCase maps ASCII 'I' to dotless 'ı'; the
    // trie is built first so only the per-text lowering sees the locale
    val (tr, prm) = (trie, params)
    val texts = Seq("Iceland and INITECH", "ICELAND  met Initech http://I.io/X today")
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr"))
    try {
      texts.foreach { text =>
        val api = Api.analyzeText(tr, prm, "", text).entities
          .map(e => (e.entity_text_norm, e.entity_type)).toSet
        val batch = NerExtractor.detect(tr, "api", CleanTextImpl.cleanString(text), None)
          .map(m => (m.entity_text_norm, m.entity_type)).toSet
        assert(batch.map(_._1) === Set("iceland", "initech"), text)
        assert(api === batch, text)
      }
      val viaColumn = texts.toDF("t").select(Text.cleanText(col("t"))).as[String].collect().toSeq
      assert(texts.map(Text.cleanTextScala) === viaColumn)
      assert(texts.map(Text.cleanTextWithOffsets(_)._1) === viaColumn)
      assert(viaColumn.head === "iceland and initech")
    } finally java.util.Locale.setDefault(saved)
  }

  test("Api.topics: active run's topic metadata with rank-ordered terms (GET /v1/topics analogue)") {
    import spark.implicits._
    val reg = new graft.pipeline.RunRegistry(
      java.nio.file.Files.createTempDirectory("graft_api_reg_").toString, spark)
    // no active run → loud error (reference get_active_id_run raises)
    val topicsTable = Seq((0, "Topic 0", 3L), (1, "Topic 1", 2L), (2, "Topic 2", 0L))
      .toDF("id_topic", "topic_name", "topic_size") // q37 shape
    val termsTable = Seq( // q36 shape; ranks deliberately out of order
      (0, 2L, "beta", 0.2), (0, 1L, "alpha", 0.5), (0, 3L, "gamma", 0.1),
      (1, 1L, "delta", 0.9))
      .toDF("id_topic", "rank", "term", "weight")
    intercept[IllegalStateException] { Api.topics(reg, topicsTable, termsTable) }
    reg.register("run-a", "m", graft.topics.TopicTrainer.Config(), SparkEntry.fixtureModel, 0.5)
    reg.register("run-b", "m", graft.topics.TopicTrainer.Config(), SparkEntry.fixtureModel, 0.6)
    reg.activate("run-b")
    val got = Api.topics(reg, topicsTable, termsTable)
      .select($"id_run", $"id_topic", $"topic_name", $"topic_size", $"top_terms")
      .as[(String, Int, String, Long, Seq[String])].collect().toSeq
    assert(got.map(_._2) === Seq(0, 1, 2)) // ordered by id_topic (W5)
    assert(got.forall(_._1 === "run-b")) // the ACTIVE run, not the latest-registered
    assert(got(0)._5 === Seq("alpha", "beta", "gamma")) // rank order, not insert order
    assert(got(1)._5 === Seq("delta"))
    assert(got(2)._5 === Seq.empty) // topic with no term rows still appears
  }

  test("Api.entities: entity dictionary ordered by mention count (GET /v1/entities analogue)") {
    import spark.implicits._
    val es = new graft.pipeline.EntityStore(
      java.nio.file.Files.createTempDirectory("graft_api_es_").toString, spark)
    es.merge("b1", Seq(
      ("u1", "spark", "ORG", "Spark", 2L),
      ("u2", "spark", "ORG", "Spark", 3L),
      ("u1", "paris", "GPE", "Paris", 1L),
      ("u2", "ada", "PERSON", "Ada", 1L))
      .toDF("url", "entity_text_norm", "entity_type", "entity_text", "n"))
    val got = Api.entities(es)
      .select($"entity_text_norm", $"entity_mentions_count", $"news_count")
      .as[(String, Long, Long)].collect().toSeq
    assert(got.head === (("spark", 5L, 2L))) // count DESC
    assert(got.map(_._1) === Seq("spark", "ada", "paris")) // tie → norm ASC
    // full q40/EntityRecord shape rides through
    assert(Api.entities(es).columns.toSeq === Seq("id_entity", "entity_text",
      "entity_text_norm", "entity_type", "entity_mentions_count", "news_count"))
  }
}
