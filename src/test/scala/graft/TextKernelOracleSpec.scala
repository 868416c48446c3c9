package graft

import org.apache.spark.ml.feature.RegexTokenizer
import org.apache.spark.sql.functions._

import graft.fixtures.PageGen
import graft.functions.Text
import graft.topics.{TopicModelParams, TopicScorer}

/** Differential specs for the hand-written text kernels: the clean scanner
  * with raw spans ([[Text.cleanTextWithOffsets]], [[Text.cleanTextScala]])
  * and the word-id TF-IDF scan ([[TopicScorer.tfidfVector]],
  * [[TopicScorer.tokenize]]) against regex-pass oracles, on ≥ 100k seeded
  * fuzz strings plus 3,000 PageGen pages. Equality is exact: the same
  * strings, the same span arrays, the same indices and the same raw bits
  * of every double.
  */
class TextKernelOracleSpec extends SparkSpec {

  /** The regex formulation of the clean and the TF-IDF transform. */
  private object Oracle {
    private val PyWs = "[\\s\\x1c-\\x1f]"
    private val PyNonWs = "[^\\s\\x1c-\\x1f]"
    private val WsPattern = java.util.regex.Pattern.compile(s"(?U)$PyWs+")
    private val UrlPattern = java.util.regex.Pattern.compile(s"(?U)http$PyNonWs+")
    private val TokenPattern = java.util.regex.Pattern.compile("[\\p{L}\\p{N}_]{2,}")

    private def trimSpaces(t: String): (Int, Int) = {
      var lo = 0
      var hi = t.length
      while (lo < hi && t.charAt(lo) == ' ') lo += 1
      while (hi > lo && t.charAt(hi - 1) == ' ') hi -= 1
      (lo, hi)
    }

    def clean(text: String): String = {
      if (text == null) return ""
      var t = text.toLowerCase
      t = WsPattern.matcher(t).replaceAll(" ")
      t = UrlPattern.matcher(t).replaceAll("")
      val (lo, hi) = trimSpaces(t)
      t.substring(lo, hi)
    }

    def cleanWithOffsets(text: String): (String, Array[Int], Array[Int]) = {
      if (text == null) return ("", Array.emptyIntArray, Array.emptyIntArray)
      val lowered = text.toLowerCase
      val (s1, b1, e1) =
        if (lowered.length == text.length)
          (lowered, Array.tabulate(text.length)(identity),
            Array.tabulate(text.length)(_ + 1))
        else {
          val sb = new java.lang.StringBuilder(lowered.length)
          val bs = Array.newBuilder[Int]; val es = Array.newBuilder[Int]
          var i = 0; var o = 0
          while (i < text.length) {
            val cp = text.codePointAt(i)
            val n = Character.charCount(cp)
            val lcLen = new String(Character.toChars(cp)).toLowerCase.length
            val take = math.min(lcLen, lowered.length - o)
            var j = 0
            while (j < take) { sb.append(lowered.charAt(o + j)); bs += i; es += i + n; j += 1 }
            o += take; i += n
          }
          (sb.toString, bs.result(), es.result())
        }
      def regexPass(s: String, bs: Array[Int], es: Array[Int],
          p: java.util.regex.Pattern, keepSpace: Boolean)
          : (String, Array[Int], Array[Int]) = {
        val m = p.matcher(s)
        val sb = new java.lang.StringBuilder(s.length)
        val ob = Array.newBuilder[Int]; val oe = Array.newBuilder[Int]
        var last = 0
        while (m.find()) {
          var i = last
          while (i < m.start) { sb.append(s.charAt(i)); ob += bs(i); oe += es(i); i += 1 }
          if (keepSpace && m.end > m.start) {
            sb.append(' '); ob += bs(m.start); oe += es(m.end - 1)
          }
          last = m.end
        }
        var i = last
        while (i < s.length) { sb.append(s.charAt(i)); ob += bs(i); oe += es(i); i += 1 }
        (sb.toString, ob.result(), oe.result())
      }
      val (s2, b2, e2) = regexPass(s1, b1, e1, WsPattern, keepSpace = true)
      val (s3, b3, e3) = regexPass(s2, b2, e2, UrlPattern, keepSpace = false)
      val (lo, hi) = trimSpaces(s3)
      (s3.substring(lo, hi), b3.slice(lo, hi), e3.slice(lo, hi))
    }

    def tokenize(text: String): Array[String] = {
      val m = TokenPattern.matcher(text)
      val out = Array.newBuilder[String]
      while (m.find()) out += m.group()
      out.result()
    }

    /** `String → index` (the last index of a duplicate entry wins). */
    def vocabIndex(params: TopicModelParams): java.util.HashMap[String, Integer] = {
      val idx = new java.util.HashMap[String, Integer]()
      params.vocab.indices.foreach(i => idx.put(params.vocab(i), i))
      idx
    }

    /** Consecutive-token pairing over [[vocabIndex]], counts in a boxed
      * map, values in sorted index order.
      */
    def tfidfVector(params: TopicModelParams, idx: java.util.HashMap[String, Integer],
        text: String): (Array[Int], Array[Double]) = {
      val toks = tokenize(text)
      val counts = new java.util.HashMap[Integer, Integer]()
      var i = 0
      while (i < toks.length) {
        val t1 = idx.get(toks(i))
        if (t1 != null) counts.merge(t1, 1, (a, b) => a + b)
        if (params.ngramMax >= 2 && i + 1 < toks.length) {
          val t2 = idx.get(toks(i) + " " + toks(i + 1))
          if (t2 != null) counts.merge(t2, 1, (a, b) => a + b)
        }
        i += 1
      }
      val indices = new Array[Int](counts.size())
      val it = counts.keySet().iterator()
      var p = 0
      while (it.hasNext) { indices(p) = it.next(); p += 1 }
      java.util.Arrays.sort(indices)
      val values = new Array[Double](indices.length)
      var norm = 0.0
      p = 0
      while (p < indices.length) {
        val v = counts.get(indices(p)).toDouble * params.idf(indices(p))
        values(p) = v
        norm += v * v
        p += 1
      }
      if (norm > 0) {
        val inv = 1.0 / math.sqrt(norm)
        p = 0
        while (p < values.length) { values(p) *= inv; p += 1 }
      }
      (indices, values)
    }
  }

  private val pyWs: Seq[String] =
    ((0x09 to 0x0d) ++ Seq(0x20) ++ (0x1c to 0x1f) ++ Seq(0x85, 0xa0, 0x1680) ++
      (0x2000 to 0x200a) ++ Seq(0x2028, 0x2029, 0x202f, 0x205f, 0x3000))
      .map(c => c.toChar.toString)

  /** Everything the two scans branch on: every Python-`\s` char, the other
    * C0 controls, surrogate pairs (letter, digit, symbol), unpaired
    * surrogates, length-changing and context-sensitive lowercase, `http`
    * fragments, and letters/numbers of every token class.
    */
  private val atoms: Seq[String] = pyWs ++
    ((0x00 to 0x08) ++ (0x0e to 0x1b) ++ Seq(0x7f)).map(c => c.toChar.toString) ++
    Seq("a", "b", "e", "h", "p", "t", "x", "Z", "I", "0", "7", "_", ".", "-", ":", "/", "'",
      "http", "https://", "http://u.io/x", "HTTP", "htt", "ttp",
      "\u0130", "\u03a3", "\u03c3", "\u03c2", "\u03a3\u0391", // İ Σ σ ς ΣΑ
      "\u00e9", "e\u0301", "\u0301", // é precomposed, e + COMBINING ACUTE, the mark alone
      "\u00bd", "\u216b", "\u01c5", "\u02b0", "\u4e2d", "\u0663", // ½ (No) Ⅻ (Nl) ǅ (Lt) ʰ (Lm) 中 (Lo) ٣ (Nd)
      "\ud835\udc9c", // MATHEMATICAL SCRIPT CAPITAL A (Lu, supplementary)
      "\ud835\udfce", // MATHEMATICAL BOLD DIGIT ZERO (Nd, supplementary)
      "\ud83c\udf89", // PARTY POPPER (So, supplementary)
      "\ud800", "\udc00", // unpaired high / low surrogate
      "ab", "cd", "ab cd", "x y z", "erik larsen", "Iceland", "INITECH")

  private def fuzz(n: Int, seed: Long, extra: Seq[String] = Nil): Seq[String] = {
    val rng = new scala.util.Random(seed)
    val pool = (atoms ++ extra).toIndexedSeq
    Seq.fill(n) {
      val sb = new StringBuilder
      var k = rng.nextInt(48)
      while (k > 0) { sb ++= pool(rng.nextInt(pool.length)); k -= 1 }
      sb.result()
    }
  }

  private lazy val pages: Seq[String] = (0L until 3000L).map(i => PageGen.generate(i).text)

  test("clean scanner: strings and raw spans equal the regex passes (fuzz + PageGen)") {
    val corpus = fuzz(100000, 11L) ++ pages
    corpus.foreach { s =>
      val (c, bs, es) = Text.cleanTextWithOffsets(s)
      val (oc, obs, oes) = Oracle.cleanWithOffsets(s)
      assert(c == oc, s"clean of <$s>")
      assert(java.util.Arrays.equals(bs, obs) && java.util.Arrays.equals(es, oes), s"spans of <$s>")
      assert(Text.cleanTextScala(s) == Oracle.clean(s), s"cleanTextScala of <$s>")
    }
    assert(Text.cleanTextWithOffsets(null)._1 === "" && Text.cleanTextScala(null) === "")
  }

  /** Duplicates (the last index wins), entries no token pair can spell,
    * supplementary-plane tokens, No numerics, a combining mark and '_'.
    */
  private val edgeVocab = Array(
    "ab", "cd", "ab cd", "ab", "ab cd", "cd ab", "ab ab", "x y z", " q", "q ", "q",
    "\ud835\udc9c\ud835\udc9c", "ab \ud835\udc9c\ud835\udc9c", // 𝒜𝒜
    "\u00bd\u00bd", "7\u00bd", "e\u0301", "e\u0301x", "\u00e9x",
    "_", "__", "ab __", "\u01c5\u02b0", "\u4e2d\u4e2d", "http", "\u216b\u216b", "ab cd",
    "0\ud835\udfce")

  private def bits(v: Array[Double]): Seq[Long] = v.toSeq.map(java.lang.Double.doubleToRawLongBits)

  private def assertTfidfEqual(params: TopicModelParams, corpus: Seq[String]): Unit = {
    val idx = Oracle.vocabIndex(params)
    corpus.foreach { s =>
      val (i, v) = TopicScorer.tfidfVector(params, s)
      val (oi, ov) = Oracle.tfidfVector(params, idx, s)
      assert(i.toSeq == oi.toSeq, s"indices of <$s>")
      assert(bits(v) == bits(ov), s"values of <$s>")
    }
  }

  test("word-id TF-IDF scan: indices and raw double bits equal the regex path") {
    val fixture = SparkEntry.fixtureModel
    val fixtureWords = fixture.vocab.toSeq.flatMap(_.split(' '))
    val raw = fuzz(100000, 23L, fixtureWords) ++ pages
    assertTfidfEqual(fixture, raw ++ raw.take(20000).map(Text.cleanTextScala))
    val rng = new scala.util.Random(5)
    val edge = TopicModelParams(edgeVocab, Array.fill(edgeVocab.length)(1.0 + rng.nextDouble() * 3),
      Array.fill(edgeVocab.length)(Array(1.0)), Array(Array(0.0)))
    val edgeWords = edgeVocab.toSeq.flatMap(_.split(' ')) :+ " "
    assertTfidfEqual(edge, fuzz(100000, 29L, edgeWords))
    assertTfidfEqual(edge.copy(ngramMax = 1), fuzz(5000, 31L, edgeWords))
  }

  test("a TF-IDF scan that throws leaves no counts behind for the next text") {
    // idf shorter than vocab: scoring "zz" reads past it and throws
    val broken = TopicModelParams(Array("ab", "zz"), Array(1.0),
      Array(Array(1.0), Array(1.0)), Array(Array(0.0)))
    intercept[ArrayIndexOutOfBoundsException](TopicScorer.tfidfVector(broken, "ab zz"))
    val (i, v) = TopicScorer.tfidfVector(broken, "ab")
    assert(i.toSeq === Seq(0) && v.toSeq === Seq(1.0))
  }

  test("tokenize splits like Text.sklearnTokens and the trainer's RegexTokenizer") {
    import spark.implicits._
    // a Spark string column holds UTF-8: an unpaired surrogate arrives as
    // '?', which like the surrogate itself is no token char
    val corpus = fuzz(100000, 37L) ++ pages
    val expected = corpus.map(s => TopicScorer.tokenize(s).toSeq)
    corpus.zip(expected).foreach { case (s, want) =>
      assert(Oracle.tokenize(s).toSeq == want, s"regex tokens of <$s>")
    }
    val tok = new RegexTokenizer()
      .setInputCol("text").setOutputCol("ml")
      .setPattern("[\\p{L}\\p{N}_]{2,}").setGaps(false).setToLowercase(false)
    val got = tok.transform(corpus.zipWithIndex.toDF("text", "i"))
      .select($"i", Text.sklearnTokens($"text"), $"ml")
      .as[(Int, Seq[String], Seq[String])].collect().sortBy(_._1)
    assert(got.map(_._2).toSeq == expected, "Text.sklearnTokens")
    assert(got.map(_._3).toSeq == expected, "RegexTokenizer")
  }
}
