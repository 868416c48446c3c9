package graft

import org.apache.spark.sql.functions._
import graft.topics.{DefaultTopicNamer, TermTopicNamer, TopicModelParams, TopicNaming, TopicTerms}

/** A4/A5/W1/W2/W3/M5 — topic dictionary tables over a hand-built model
  * whose assignments and mean TF-IDF are computable by hand.
  *
  * Model: vocab {aa, bb}, idf 1, identity projection, centroids e0/e1.
  *   "aa"       → tfidf (1,0)         → topic 0, dist 0
  *   "bb"       → tfidf (0,1)         → topic 1, dist 0
  *   "aa aa bb" → tfidf (2,1)/√5      → topic 0
  */
class TopicTermsSpec extends SparkSpec {

  private val params = TopicModelParams(
    vocab = Array("aa", "bb"),
    idf = Array(1.0, 1.0),
    components = Array(Array(1.0, 0.0), Array(0.0, 1.0)),
    centroids = Array(Array(1.0, 0.0), Array(0.0, 1.0)))

  private def cleaned = {
    import spark.implicits._
    Seq(("u0", "aa"), ("u1", "bb"), ("u2", "aa aa bb"))
      .toDF("url", "clean")
  }

  test("topicSizes (A4)") {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(params)
    val (terms, sizes0) = TopicTerms.topTermsAndSizes(cleaned, bc, topN = 10)
    val sizes = sizes0.as[(Int, Long)].collect().toMap
    assert(sizes === Map(0 -> 2L, 1 -> 1L))
    // terms and sizes came from one scoring pass: reading them runs no job
    val (jobs, _) = sparkActivity { terms.collect(); sizes0.collect() }
    assert(jobs === 0L)
  }

  test("topTerms (A5/W1/W2): mean over ALL topic docs, rank by weight desc / term asc") {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(params)
    val got = TopicTerms.topTermsAndSizes(cleaned, bc, topN = 10)._1
      .select($"id_topic", $"rank", $"term", round($"weight", 6))
      .as[(Int, Long, String, Double)].collect().toSet
    val s5 = math.sqrt(5.0)
    val t0aa = math.rint((1.0 + 2.0 / s5) / 2.0 * 1e6) / 1e6
    val t0bb = math.rint((0.0 + 1.0 / s5) / 2.0 * 1e6) / 1e6
    assert(got === Set(
      (0, 1L, "aa", t0aa),
      (0, 2L, "bb", t0bb),
      (1, 1L, "bb", 1.0)))
  }

  test("topTerms tie-break: equal weight → term ascending") {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(params)
    val docs = Seq(("u0", "aa bb")).toDF("url", "clean") // symmetric weights
    val got = TopicTerms.topTermsAndSizes(docs, bc, topN = 10)._1
      .select($"rank", $"term").as[(Long, String)].collect().sorted.toSeq
    assert(got === Seq((1L, "aa"), (2L, "bb")))
  }

  test("representativeDocs (W3): nearest-to-centroid first, deterministic") {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(params)
    val got = TopicTerms.representativeDocs(cleaned, bc, k = 1)
      .select($"id_topic", $"url").as[(Int, String)].collect().toSet
    assert(got === Set((0, "u0"), (1, "u1"))) // u0 at dist 0 beats u2
  }

  test("nameTopics (M5): default and term namers, driver-side") {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(params)
    val (terms, sizes) = TopicTerms.topTermsAndSizes(cleaned, bc, topN = 5)
    val byDefault = TopicNaming.nameTopics(terms, sizes, DefaultTopicNamer)
      .as[(Int, String, Long)].collect().toSet
    assert(byDefault === Set((0, "Topic 0", 2L), (1, "Topic 1", 1L)))
    val byTerms = TopicNaming.nameTopics(terms, sizes, TermTopicNamer)
      .as[(Int, String, Long)].collect().map(t => t._1 -> t._2).toMap
    assert(byTerms(0) === "aa / bb")
    assert(byTerms(1) === "bb")
  }

  test("nameTopics: a topic whose docs ALL project to zero vector still appears") {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(params)
    // out-of-vocab docs → zero tfidf → topic 0 with NO term contributions:
    // sizes has the topic, topTerms does not — the table must not drop it
    val oov = Seq(("u0", "zz qq"), ("u1", "ww")).toDF("url", "clean")
    val (terms, sizes) = TopicTerms.topTermsAndSizes(oov, bc, topN = 5)
    assert(terms.count() === 0L)
    val table = TopicNaming.nameTopics(terms, sizes, DefaultTopicNamer)
      .as[(Int, String, Long)].collect().toSet
    assert(table === Set((0, "Topic 0", 2L)))
  }

  test("nameTopics (M5): a texts-needing namer receives the W3 representative texts") {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(params)
    val (terms, sizes) = TopicTerms.topTermsAndSizes(cleaned, bc, topN = 5)
    // the reference prompts its LLM with top terms AND the top-3
    // nearest-to-centroid texts, truncated (topics_naming.py:62-79) —
    // the seam must deliver exactly those, in W3 rank order
    val recorded = scala.collection.mutable.Map.empty[Int, (Seq[String], Seq[String])]
    object Recorder extends graft.topics.TopicNamer {
      override val needsTexts = true
      override def name(id: Int, ts: Seq[String], texts: Seq[String]): String = {
        recorded.synchronized { recorded(id) = (ts, texts) }; s"T$id"
      }
    }
    val repTexts = TopicTerms.representativeTexts(cleaned, bc, k = 3, maxLen = 5)
    TopicNaming.nameTopics(terms, sizes, Recorder, Some(repTexts)).collect()
    // topic 0 docs by dist asc, url tie-break: u0 ("aa", dist 0) then u2;
    // maxLen=5 truncates u2's "aa aa bb" → "aa aa"
    assert(recorded(0)._2 === Seq("aa", "aa aa"))
    assert(recorded(1)._2 === Seq("bb"))
    assert(recorded(0)._1.head === "aa")
    // the deterministic namers never trigger the text fetch: passing NO
    // texts stays valid and produces the same names
    val without = TopicNaming.nameTopics(terms, sizes, TermTopicNamer, None)
      .as[(Int, String, Long)].collect().toSet
    val withTexts = TopicNaming.nameTopics(terms, sizes, TermTopicNamer, Some(repTexts))
      .as[(Int, String, Long)].collect().toSet
    assert(without === withTexts)
  }
}
