package graft

import org.apache.spark.sql.functions._
import graft.functions.Text
import graft.util.Hashing

/** Golden-byte fixtures for the scalar text transforms (FIXTURES.md §2).
  * Expected values were produced by executing the reference functions
  * (`src/news_nlp/preprocessing/text_cleaning.py:25-35`,
  * `src/news_nlp/ner_extractor/tables.py:8-18`) during the survey.
  */
class TextFunctionsSpec extends SparkSpec {

  /** (raw, expected) — the clean_text contract, including the ordering
    * traps: whitespace collapse runs BEFORE URL removal (double space
    * survives), Python `\s` is Unicode-aware (NBSP collapses).
    */
  val golden: Seq[(String, String)] = Seq(
    "A  B\tC" -> "a b c",
    "a\nb" -> "a b",
    "see http://x.com/a?b=1 now" -> "see  now",
    "A. http://u.rl B" -> "a.  b",
    "end http://x.com" -> "end",
    "https://a.b c" -> "c",
    "x y" -> "x y",
    "x y z" -> "x y z", // EM space + NBSP
    "xy" -> "x y",          // FS control: Python \s matches, (?U)\s alone does NOT
    "   " -> "",
    "" -> "",
    "MiXeD CaSe" -> "mixed case",
    " plain  text\r\nwith lines " -> "plain text with lines",
    "twohttp://a.b end" -> "two end")

  test("cleanTextScala matches the reference golden bytes") {
    golden.foreach { case (raw, expected) =>
      assert(Text.cleanTextScala(raw) === expected, s"input=${raw.getBytes.toSeq}")
    }
    assert(Text.cleanTextScala(null) === "")
  }

  test("cleanText Column is byte-identical to the scalar twin") {
    import spark.implicits._
    val raws = golden.map(_._1) :+ null
    val got = raws.toDF("raw")
      .select(Text.cleanText(col("raw"))).as[String].collect()
    val expected = golden.map(_._2) :+ ""
    assert(got.toSeq === expected)
  }

  test("batch assembly (P3) always inserts '. '; API assembly (P9) is conditional") {
    import spark.implicits._
    val rows = Seq(
      (Some("t"), Some("c")),
      (None, Some("c")),
      (Some(""), Some("c")),
      (Some("t"), None)).toDF("title", "content")
    val got = rows.select(
      Text.assembleText(col("title"), col("content")),
      Text.assembleTextApi(col("title"), col("content")))
      .as[(String, Option[String])].collect().toSeq
    assert(got === Seq(
      ("t. c", Some("t. c")),
      (". c", Some("c")),
      (". c", Some("c")),
      ("t. ", Some("t. ")))) // null content null-fills (scalar-twin parity)
  }

  test("scalar xxhash64 equals the Catalyst expression bit-for-bit") {
    import spark.implicits._
    val inputs = Seq("", "a", "hello world", "u.s.|GPE", "https://x/y?z")
    val fromSpark = inputs.toDF("s")
      .select(xxhash64(col("s"))).as[Long].collect()
    assert(fromSpark.toSeq === inputs.map(Hashing.xxhash64(_)))
    // two-arg chained-seed parity (entity ids)
    val two = Seq(("biden", "PERSON"), ("u.s.", "GPE")).toDF("a", "b")
      .select(xxhash64(col("a"), col("b"))).as[Long].collect()
    assert(two.toSeq === Seq(
      Hashing.xxhash64("biden", "PERSON"), Hashing.xxhash64("u.s.", "GPE")))
  }

  test("clean_text_fast codegen Expression is byte-identical to the regex chain") {
    import spark.implicits._
    graft.functions.Registry.ensure(spark)
    // golden cases + deterministic fuzz over a hostile palette
    val palette = "ab h t p : / . ? & % \t\n\r       　 http https HTTP xhttp МОСКВА École 中文 😀".toCharArray
    val rng = new java.util.Random(99)
    val fuzz = (0 until 800).map { _ =>
      val len = rng.nextInt(60)
      new String(Array.fill(len)(palette(rng.nextInt(palette.length))))
    }
    val raws = golden.map(_._1) ++ fuzz
    val rows = raws.toDF("raw").select(
      graft.functions.Text.cleanText(col("raw")).as("slow"),
      graft.functions.Registry.cleanTextFast(col("raw")).as("fast"))
    val mismatch = rows.filter(col("slow") =!= col("fast")).collect()
    assert(mismatch.isEmpty, mismatch.take(5).mkString("\n"))
    // null handling matches the coalesce contract
    val n = Seq(Option.empty[String]).toDF("raw")
      .select(graft.functions.Registry.cleanTextFast(col("raw"))).as[String].head()
    assert(n === "")
  }

  test("normalizeUrl: canonical form (case, ports, fragment, query order, slashes)") {
    import spark.implicits._
    val cases = Seq(
      ("HTTPS://A.Example.COM:443/x//?b=2&a=1#f", "https://a.example.com/x?a=1&b=2"),
      ("http://b.example.com:80/",                "http://b.example.com"),
      ("http://b.example.com:8080/p",             "http://b.example.com:8080/p"),
      ("https://c.example.com/path/",             "https://c.example.com/path"),
      ("https://d.example.com/p?one=1",           "https://d.example.com/p?one=1"),
      ("ftp://E.Example.com:443/z",               "ftp://e.example.com:443/z"),
      // a '?' INSIDE the fragment must not resurrect as a query string
      ("http://a.example.com/page#sec?x=1",       "http://a.example.com/page"),
      ("http://a.example.com/p?b=2&a=1#frag?z=9", "http://a.example.com/p?a=1&b=2"),
      // scheme-less / malformed URLs pass through UNCHANGED — collapsing
      // them all to "://" would merge unrelated docs under one dedup key
      ("example.com/path?b=2&a=1",                "example.com/path?b=2&a=1"),
      ("not a url at all",                        "not a url at all"),
      ("//protocol-relative.example.com/x",       "//protocol-relative.example.com/x"))
    val got = cases.map(_._1).toDF("url")
      .select(graft.ops.TextAnalysis.normalizeUrl(org.apache.spark.sql.functions.col("url")))
      .as[String].collect().toSeq
    assert(got === cases.map(_._2))
  }

  test("trim parity: non-whitespace C0 controls at edges are KEPT by every path") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // Python strip() keeps  (not isspace); String.trim would eat it —
    // scalar, offsets and Column paths must all agree on keeping it
    val cases = Seq("\u0001 biden wins", "x \u0007", "\u0001\u0007", "ok")
    val viaColumn = cases.toDF("t")
      .select(graft.functions.Text.cleanText(col("t"))).as[String].collect().toSeq
    val viaScalar = cases.map(graft.functions.Text.cleanTextScala)
    val viaOffsets = cases.map(s => graft.functions.Text.cleanTextWithOffsets(s)._1)
    assert(viaColumn === viaScalar)
    assert(viaOffsets === viaScalar)
    assert(viaScalar === Seq("\u0001 biden wins", "x \u0007", "\u0001\u0007", "ok"))
  }

  test("assembleTextApi: null text with a non-empty title yields 'title. ', not NULL") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val got = Seq(("Foo", null.asInstanceOf[String]), ("Foo", "bar"), (null, "bar"))
      .toDF("title", "text")
      .select(graft.functions.Text.assembleTextApi(col("title"), col("text")))
      .as[String].collect().toSeq
    assert(got === Seq("Foo. ", "Foo. bar", "bar"))
  }

  test("langId: NULL/empty text takes the documented tie default 'en', not 'es'") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val got = Seq(Some("el la de los"), Some("the cat"), Some(""), None)
      .toDF("text")
      .select(graft.ops.TextAnalysis.langId(col("text")))
      .as[String].collect().toSeq
    assert(got === Seq("es", "en", "en", "en"))
  }

  test("langScores/qualityColumns: NULL text scores as the empty text, never NULL metrics") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq(Option("the cat the"), Some(""), None).toDF("text")
    val (en, es) = graft.ops.TextAnalysis.langScores(col("text"))
    val scores = df.select(en.as("en"), es.as("es"))
      .as[(Int, Int)].collect().toSeq
    assert(scores === Seq((2, 0), (0, 0), (0, 0)),
      "null text must score (0,0) like langId's tie default, not (NULL,NULL)")
    val q = df.select(graft.ops.TextAnalysis.qualityColumns(col("text"))
      .map { case (n, c) => c.as(n) }: _*).collect()
    // null ≡ "": split gives one empty token (Python ''.split(' ') parity)
    for (r <- Seq(q(1), q(2))) {
      assert(!(0 until r.length).exists(r.isNullAt), s"no NULL metric in $r")
      assert(r.getLong(0) === 0L && r.getLong(1) === 1L)
    }
  }

  test("regexTokenCount spells the token class [\\p{L}\\p{N}_] (not Java (?U)\\w)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // "aé" counts (2 Unicode letters); "x" is too short; "b12"
    // mixes L and N. "n\u0301o" is DECOMPOSED n + COMBINING ACUTE (Mn)
    // + o: Java (?U)\w matches Mn and would see one 3-char token
    // (count 1); the contract class breaks the run at the mark — "n"
    // and "o" are each too short, count 0 (Python re and RE2 agree).
    val got = Seq("aé x b12", "n\u0301o", "__ ok", "")
      .toDF("text")
      .select(graft.ops.TextAnalysis.regexTokenCount(col("text")))
      .as[Int].collect().toSeq
    assert(got === Seq(2, 0, 2, 0))
  }
}
