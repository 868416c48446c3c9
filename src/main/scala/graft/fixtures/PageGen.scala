package graft.fixtures

import java.sql.Timestamp
import java.util.Random

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.schema.Page
import graft.ner.FixtureGazetteer
import graft.util.Hashing

/** A generated page plus its generation-time ground truth: the gazetteer
  * phrases deliberately embedded (norm, type) and the intended topic.
  * Because the filler vocabulary is token-disjoint from every gazetteer
  * phrase, embedded phrases are the ONLY detector matches — the truth is
  * exact, which is what the P/R≥0.95 parity gate compares against.
  */
final case class GenPage(
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String,
    lang: String,
    topic: Int,
    truth_mentions: Seq[String]) // "norm|type" encoded, exploded by tests

/** Deterministic synthetic Common-Crawl-style page generator
  * (FIXTURES.md §1). Each row is generated independently from a
  * SplitMix64-scrambled per-index seed, so output is identical at any
  * partitioning / parallelism level — the property the N-vs-4N scaling
  * bench and kill-resume tests rely on.
  */
object PageGen {

  val Epoch: Long = 1764547200000L // 2025-12-01T00:00:00Z

  /** 6 fixture topics × 8 dedicated vocabulary words (FIXTURES.md §4);
    * disjoint from gazetteer tokens and shared filler.
    */
  val topicVocab: Array[Array[String]] = Array(
    Array("ledger", "bond", "equity", "yield", "merger", "dividend", "fiscal", "audit"),
    Array("goal", "coach", "league", "playoff", "striker", "stadium", "referee", "scoreline"),
    Array("kernel", "compiler", "runtime", "neural", "quantum", "protocol", "silicon", "firmware"),
    Array("vaccine", "clinic", "dosage", "therapy", "genome", "symptom", "antibody", "surgeon"),
    Array("carbon", "glacier", "emission", "drought", "rainfall", "turbine", "biomass", "solar"),
    Array("gallery", "opera", "ballet", "sculpture", "folklore", "cinema", "poetry", "mural"))

  val sharedFiller: Array[String] = Array(
    "report", "update", "daily", "local", "global", "official",
    "analysis", "review", "summary", "brief", "sources", "statement")

  val numTopics: Int = topicVocab.length

  private val heads = FixtureGazetteer.heads.toArray
  private val tail = FixtureGazetteer.tail.toArray

  /** Case variation applied to embedded surfaces; clean_text lowercases,
    * so truth is recorded on the normalized form.
    */
  private def caseVariant(rng: Random, phrase: String): String =
    rng.nextInt(3) match {
      case 0 => phrase
      case 1 => phrase.split(" ").map(_.capitalize).mkString(" ")
      case _ => phrase.toUpperCase
    }

  /** Page `i` of the fixture corpus (seed 42). `seed` is settable because
    * the benchmark's page generator draws its corpus from its own seeds.
    */
  def generate(i: Long, seed: Long = 42L): GenPage = {
    val rng = new Random(Hashing.splitmix64(seed ^ (i * 0x9E3779B97F4A7C15L)))
    val lang = if (i % 10 == 9) "es" else "en"
    val topic = (i % numTopics).toInt
    val url = s"https://site${i % 97}.example/$lang/art-$i"

    val vocab = topicVocab(topic)
    def word(): String =
      if (rng.nextDouble() < 0.7) vocab(rng.nextInt(vocab.length))
      else sharedFiller(rng.nextInt(sharedFiller.length))

    val truth = Seq.newBuilder[String]
    val nSentences = 2 + rng.nextInt(5) // 2..6
    val sentences = (0 until nSentences).map { _ =>
      val words = scala.collection.mutable.ArrayBuffer.fill(5 + rng.nextInt(8))(word())
      words.mkString(" ")
    }.toArray

    // entity embedding: operate on sentence strings by appending clauses
    def embed(sIdx: Int, phrase: String, tpe: String): Unit = {
      val surface = caseVariant(rng, phrase)
      sentences(sIdx) = sentences(sIdx) + " " + surface
      truth += s"${phrase.toLowerCase}|$tpe"
    }
    heads.foreach { h =>
      if (rng.nextDouble() < 0.4) embed(rng.nextInt(nSentences), h.phrase, h.entityType)
    }
    val nTail = rng.nextInt(4) // 0..3 tail entities, zipf-ish pick
    (0 until nTail).foreach { _ =>
      val idx = math.min((rng.nextDouble() * rng.nextDouble() * tail.length).toInt, tail.length - 1)
      val e = tail(idx)
      embed(rng.nextInt(nSentences), e.phrase, e.entityType)
    }
    // alias surface forms appear in ~20% of pages so the sameAs /
    // connected-components path always has work (FIXTURES.md §3)
    if (rng.nextDouble() < 0.2) {
      val (a, _, tpe) = FixtureGazetteer.aliasPairs(
        rng.nextInt(FixtureGazetteer.aliasPairs.length))
      embed(rng.nextInt(nSentences), a, tpe)
    }

    // adversarial cleaning cases at fixed indices (FIXTURES.md §1/§2)
    if (i % 17 == 0) sentences(0) = sentences(0) + s" http://junk-$i.example/a?b=1"
    if (i % 23 == 0) sentences(0) = "nota bene " + sentences(0)
    if (i % 29 == 0) sentences(0) = sentences(0) + " alpha\tbeta\ngamma"
    if (i % 31 == 0) sentences(0) = sentences(0) + " café münchen"
    if (i % 37 == 0) sentences(0) = sentences(0) + " AT&T filing"

    val title = s"${vocab(rng.nextInt(vocab.length)).capitalize} ${sharedFiller(rng.nextInt(sharedFiller.length))} $i"
    val content = sentences.mkString(" . ")
    // P3 batch assembly: always ". " (reference db_io.py:88)
    val text = title + ". " + content
    val html = renderHtml(title, text, i)

    GenPage(url, new Timestamp(Epoch + i * 37000L), html, text, lang, topic,
      truth.result())
  }

  /** Boilerplate wrapper; `HtmlStripper.strip(renderHtml(_, text, _))`
    * must return `text` byte-identically (the input_hint invariant).
    */
  def renderHtml(title: String, text: String, i: Long): Array[Byte] = {
    val esc = escape(text)
    val s = s"""<html><head><title>${escape(title)}</title>
<style>body { font: 14px serif; } nav a { color: #357; }</style>
<script type="text/javascript">var trk = ${i % 1000}; track(trk);</script>
</head><body>
<nav><a href="/home">Home</a> | <a href="/news">News</a> | <a href="/about">About</a></nav>
<!-- rendered by fixture generator, page $i -->
<div class="ad">SUBSCRIBE NOW &amp; save</div>
<p>$esc</p>
<footer>&copy; site${i % 97}.example &middot; syndication id $i</footer>
</body></html>"""
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  def escape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** Distributed generation of the seed-42 corpus: narrow map over
    * spark.range — scales linearly, no shuffle, identical output at any
    * parallelism.
    */
  def genPages(spark: SparkSession, n: Long): Dataset[GenPage] = {
    import spark.implicits._
    spark.range(0L, n).mapPartitions(_.map(i => generate(i)))
  }

  def pages(spark: SparkSession, n: Long): Dataset[Page] = {
    import spark.implicits._
    genPages(spark, n).map(g => Page(g.url, g.warc_ts, g.html, g.text, g.lang))
  }
}
