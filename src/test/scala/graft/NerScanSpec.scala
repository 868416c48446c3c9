package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.util.{Locale, Random}

import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.PageGen
import graft.functions.{CleanTextImpl, HtmlStripper}
import graft.ner.{FixtureGazetteer, GazEntry, NerExtractor, TokenTrie}
import graft.schema.SurfaceCount

/** The char-range trie scan against the token-array reference
  * ([[NerReference]]): identical (entity_text, entity_text_norm,
  * entity_type, begin_char, end_char) sequences on the fixture pages and on
  * seeded fuzz text, and the fused pass's surface counts in the order the
  * reference's tuple-keyed counting sorted them.
  */
class NerScanSpec extends AnyFunSuite {

  private type Hit = (String, String, String, Int, Int)

  private def scanned(trie: TokenTrie, text: String, keep: Option[Set[String]]): Seq[Hit] =
    NerExtractor.detect(trie, "u", text, keep).map(m =>
      (m.entity_text, m.entity_text_norm, m.entity_type, m.begin_char, m.end_char)).toSeq

  /** What the fused pass counted before: a (norm, type, surface) keyed map,
    * sorted by that key.
    */
  private def referenceCounts(hits: Seq[Hit]): Seq[SurfaceCount] =
    hits.groupBy { case (surf, norm, tpe, _, _) => (norm, tpe, surf) }.toSeq
      .map { case ((norm, tpe, surf), hs) => SurfaceCount(norm, tpe, surf, hs.size.toLong) }
      .sortBy(s => (s.entity_text_norm, s.entity_type, s.entity_text))

  private def escaped(s: String): String =
    s.flatMap(c => if (c < 0x20 || c > 0x7e) f"\\u${c.toInt}%04x" else c.toString)

  /** Scan ≡ reference on every text, with and without a type filter. */
  private def assertSame(trie: TokenTrie, ref: NerReference.Trie, texts: Seq[String],
      keep: Set[String]): Int = {
    texts.map { text =>
      val want = ref.detect(text)
      assert(scanned(trie, text, None) === want, escaped(text))
      assert(scanned(trie, text, Some(keep)) === want.filter(h => keep(h._3)), escaped(text))
      assert(NerExtractor.surfaceCounts(trie, text, None) === referenceCounts(want), escaped(text))
      want.size
    }.sum
  }

  private def withLocale[A](tag: String)(body: => A): A = {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.forLanguageTag(tag))
    try body finally Locale.setDefault(saved)
  }

  private lazy val pageTexts: Seq[String] = (0L until 2000L).flatMap { i =>
    val g = PageGen.generate(i)
    Seq(CleanTextImpl.cleanString(HtmlStripper.strip(new String(g.html, UTF_8))),
      CleanTextImpl.cleanString(g.text))
  }

  test("char-range scan equals the token reference on PageGen pages 0-1999") {
    val n = assertSame(FixtureGazetteer.trie, new NerReference.Trie(FixtureGazetteer.all),
      pageTexts, Set("GPE", "LOC"))
    assert(n > 10000, s"only $n mentions")
  }

  /** Nested phrases, a phrase with two types, control chars and non-Latin
    * tokens, an unpaired surrogate, and case forms whose lowering depends
    * on the locale (`I`, `İ`, final sigma).
    */
  private val fuzzGaz: Seq[GazEntry] = FixtureGazetteer.all ++ Seq(
    GazEntry("joe biden jr", "PERSON"),
    GazEntry("new york", "GPE"), GazEntry("york", "LOC"), GazEntry("new york city", "GPE"),
    GazEntry("paris", "GPE"), GazEntry("paris", "PERSON"),
    GazEntry("\u0001acme corp\u0002", "ORG"), GazEntry("a\tb\u001fc", "ORG"),
    GazEntry("東京 タワー", "LOC"), GazEntry("München", "GPE"), GazEntry("İstanbul", "GPE"),
    GazEntry("IRAK", "GPE"), GazEntry("ΟΔΥΣΣΕΥΣ", "PERSON"), GazEntry("x\uD800y", "ORG"))

  private val pieces: Array[String] = Array(
    "joe", "biden", "jr", "new", "york", "city", "paris", "acme", "corp", "\u0001acme", "corp\u0002",
    "a", "b", "c", "東京", "タワー", "münchen", "München", "istanbul", "i̇stanbul", "İstanbul",
    "ıstanbul", "irak", "IRAK", "ırak", "οδυσσευς", "ΟΔΥΣΣΕΥΣ", "x\uD800y", "\uD800", "\uDC00",
    "😀", "u.s.", "senate", "acme corp", "the", "of", "ß", "Σ", "ς")

  private val glue: Array[String] = Array(
    " ", " ", " ", " ", "  ", "   ", "\t", "\u0000", "\u001f", "\r\n", "", " ")

  private def fuzzTexts(seed: Long, n: Int): Seq[String] = {
    val rng = new Random(seed)
    (0 until n).map { _ =>
      val sb = new StringBuilder
      if (rng.nextInt(4) == 0) sb.append("  ")
      (0 until rng.nextInt(40)).foreach { _ =>
        sb.append(pieces(rng.nextInt(pieces.length)))
        sb.append(glue(rng.nextInt(glue.length)))
      }
      sb.toString
    }
  }

  test("char-range scan equals the token reference on fuzz text, en and tr locales") {
    val raw = fuzzTexts(20261021L, 1500)
    def texts = raw ++ raw.map(CleanTextImpl.cleanString)
    Seq("en", "tr").foreach { tag =>
      withLocale(tag) {
        val n = assertSame(TokenTrie(fuzzGaz), new NerReference.Trie(fuzzGaz), texts, Set("ORG"))
        assert(n > 5000, s"$tag: only $n mentions")
      }
    }
    // built on one locale's driver, scanned under another: the entry's norm
    // equals the per-hit lowering under the scanning locale
    val (trie, ref) = withLocale("en")((TokenTrie(fuzzGaz), new NerReference.Trie(fuzzGaz)))
    withLocale("tr")(assertSame(trie, ref, texts, Set("GPE")))
  }

  test("threads sharing one trie each scan into their own buffers") {
    val trie = FixtureGazetteer.trie
    val want = pageTexts.map(scanned(trie, _, None))
    val got = Array.fill(4)(Seq.empty[Seq[Hit]])
    val threads = (0 until 4).map { t =>
      new Thread(() => got(t) = (0 until 3).flatMap(_ => pageTexts.map(scanned(trie, _, None))))
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    got.foreach(g => assert(g === want ++ want ++ want))
  }
}
