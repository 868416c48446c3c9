package graft

import org.apache.spark.sql.functions._
import graft.fixtures.PageGen
import graft.functions.Text
import graft.ner.{FixtureGazetteer, GazEntry, NerExtractor, TokenTrie}
import graft.pipeline.KgPipeline

/** Mention detection (M4): trie semantics, tokenizer offsets, and the
  * P/R ≥ 0.95 parity gate against the fixture generator's embedded
  * ground truth (which is exact by construction — FIXTURES.md §1).
  */
class NerSpec extends SparkSpec {

  val gaz = Seq(
    GazEntry("joe biden", "PERSON"),
    GazEntry("biden", "PERSON"),
    GazEntry("new york", "GPE"),
    GazEntry("york", "LOC"))

  test("tokenizeWithOffsets: offsets point at token starts; empty runs skipped") {
    val (toks, offs) = NerReference.tokenizeWithOffsets("ab  cd e ")
    assert(toks.toSeq === Seq("ab", "cd", "e"))
    assert(offs.toSeq === Seq(0, 4, 7))
    assert(NerReference.tokenizeWithOffsets("")._1.isEmpty)
    assert(NerReference.tokenizeWithOffsets("   ")._1.isEmpty)
  }

  test("Turkish default locale: mixed-case gazetteer phrases match the cleaned text") {
    // under `tr`, String.toLowerCase maps ASCII 'I' to dotless 'ı': a trie
    // keyed that way holds `ıceland`, while clean yields `iceland`
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr"))
    try {
      val trie = TokenTrie(Seq(GazEntry("Iceland", "GPE"), GazEntry(" INITECH\tLabs ", "ORG")))
      val clean = graft.functions.CleanTextImpl.cleanString("ICELAND met Initech  LABS today")
      val got = NerExtractor.detect(trie, "u", clean, None)
        .map(m => (m.entity_text_norm, m.entity_type)).toSeq
      assert(got === Seq(("iceland", "GPE"), ("initech labs", "ORG")))
    } finally java.util.Locale.setDefault(saved)
  }

  test("trie: longest non-overlapping match wins; scan continues after match") {
    val trie = TokenTrie(gaz)
    val toks = "joe biden met biden in new york".split(" ")
    val got = NerReference.findMentions(trie, toks)
    assert(got === List(
      ("joe biden", "PERSON", 0, 2),
      ("biden", "PERSON", 3, 4),
      ("new york", "GPE", 5, 7))) // "york" inside "new york" NOT re-emitted
  }

  test("trie: one phrase with two types emits both, type-sorted") {
    val trie = TokenTrie(Seq(GazEntry("paris", "GPE"), GazEntry("paris", "PERSON")))
    val got = NerReference.findMentions(trie, Array("paris"))
    assert(got.map(_._2) === List("GPE", "PERSON"))
  }

  test("detect: keepTypes filter (P7) and char offsets") {
    val trie = TokenTrie(gaz)
    val text = "joe biden visits new york"
    val all = NerExtractor.detect(trie, "u", text, None).toList
    assert(all.map(_.entity_text) === List("joe biden", "new york"))
    assert(all.map(m => text.substring(m.begin_char, m.end_char)) ===
      List("joe biden", "new york")) // offsets round-trip the surface
    val onlyGpe = NerExtractor.detect(trie, "u", text, Some(Set("GPE"))).toList
    assert(onlyGpe.map(_.entity_text) === List("new york"))
  }

  test("mention parity vs generator ground truth: P/R ≥ 0.95 gate (exact here)") {
    import spark.implicits._
    val n = 240L
    val truth = PageGen.genPages(spark, n)
      .flatMap(g => g.truth_mentions.map(m => (g.url, m)))
      .toDF("url", "m").distinct()
    val trie = spark.sparkContext.broadcast(FixtureGazetteer.trie)
    val cleaned = KgPipeline.withCleanText(PageGen.pages(spark, n).toDF())
    val got = NerExtractor.extractMentions(
        cleaned, trie, Some(FixtureGazetteer.keepLabels), textCol = "clean")
      .select($"url", concat($"entity_text_norm", lit("|"), $"entity_type").as("m"))
      .distinct()
    val truthN = truth.count().toDouble
    val gotN = got.count().toDouble
    val hit = got.join(truth, Seq("url", "m"), "left_semi").count().toDouble
    val precision = hit / gotN
    val recall = hit / truthN
    assert(precision >= 0.95, s"precision=$precision")
    assert(recall >= 0.95, s"recall=$recall")
    // the fixture vocabulary is token-disjoint from the gazetteer, so
    // parity is actually exact
    assert(precision === 1.0 && recall === 1.0, s"p=$precision r=$recall")
  }

  test("surface norm applies P6 on the detected surface") {
    val trie = TokenTrie(Seq(GazEntry("acme corp", "ORG")))
    // cleaned text is lowercase already; norm == surface for cleaned input
    val m = NerExtractor.detect(trie, "u", "acme corp filing", None).toList.head
    assert(m.entity_text_norm === "acme corp")
  }
}
