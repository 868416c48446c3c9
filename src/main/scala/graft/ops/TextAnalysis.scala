package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation — all pure Catalyst
  * expression chains (codegen'd, no UDFs), designed to run inside the
  * parquet scan stage at 100 TB (narrow, pushdown-friendly).
  */
object TextAnalysis {

  /** Tiny per-language stopword profiles for the n-gram/stopword-ratio
    * language-ID heuristic. Deterministic and SQL-expressible (the oracle
    * re-states it in DuckDB SQL).
    */
  val enStops: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")
  val esStops: Seq[String] = Seq("el", "la", "de", "y", "en", "que", "los")

  private def hitCount(tokens: Column, stops: Seq[String]): Column =
    size(filter(tokens, t => t.isin(stops: _*)))

  /** Language ID: stopword-hit vote between profiles; ties → "en".
    * NULL text null-fills first: with a raw null, `en >= es` evaluates
    * NULL and the otherwise-branch would mislabel every missing document
    * "es" instead of the documented tie default.
    */
  def langId(text: Column): Column = {
    val toks = split(lower(coalesce(text.cast("string"), lit(""))), " ")
    val en = hitCount(toks, enStops)
    val es = hitCount(toks, esStops)
    when(en >= es, lit("en")).otherwise(lit("es"))
  }

  def langScores(text: Column): (Column, Column) = {
    // same null-fill as langId: a raw null text would emit NULL hit
    // counts (size(filter(null)) = NULL) where the scorer's contract —
    // and the q17 oracle, whose token CTE coalesces identically — says
    // a missing document scores (0, 0)
    val toks = split(lower(coalesce(text.cast("string"), lit(""))), " ")
    (hitCount(toks, enStops), hitCount(toks, esStops))
  }

  /** Whitespace token count. */
  def wsTokenCount(text: Column): Column =
    size(split(text, " "))

  /** BPE-ish subword-ish token count: runs of word chars of length ≥ 2
    * (the sklearn/reference token pattern) — a cheap proxy for tokenizer
    * budget accounting. The word class is spelled `[\p{L}\p{N}_]`
    * explicitly (the repo-wide token contract — TopicScorer,
    * sklearnTokens): Java's `(?U)\w` additionally
    * matches Mn/No chars that neither Python `re` nor the DuckDB
    * oracle's RE2 counts, and RE2's bare `\w` is ASCII-only — both
    * diverge from this spelling on non-ASCII text. Greedy maximal runs
    * of the class make the sklearn `\b` anchors redundant.
    */
  def regexTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[\\p{L}\\p{N}_]{2,}"), lit(0)))

  /** Quality metrics bundle: length, token counts, type/token ratio,
    * stopword ratio, mean token length — each rounded to 4 decimals so the
    * DuckDB oracle hash-matches despite engine-side double formatting.
    */
  def qualityColumns(text: Column): Seq[(String, Column)] = {
    // null ≡ empty text (same contract as langId/langScores): a raw null
    // would emit NULL for every metric while the q18 oracle coalesces
    // identically — and a quality scorer that answers NULL on missing
    // text pushes the null-handling onto every downstream filter
    val t = coalesce(text.cast("string"), lit(""))
    val toks = split(t, " ")
    val n = size(toks).cast("double")
    val sw = hitCount(split(lower(t), " "), enStops).cast("double")
    Seq(
      "n_chars" -> length(t).cast("long"),
      "n_tokens" -> size(toks).cast("long"),
      "distinct_ratio" -> round(size(array_distinct(toks)) / n, 4),
      "stopword_ratio" -> round(sw / n, 4),
      "mean_token_len" -> round(
        aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") / n, 4))
  }

  /** Canonical URL normalization — the key for URL-level dedup of a
    * crawl (every Common-Crawl-style pipeline dedups on canonical URL
    * before content dedup). Pure Catalyst (codegen'd, SQL-restatable):
    *   - scheme and host lowercased
    *   - default ports stripped (http:80, https:443)
    *   - fragment removed
    *   - query parameters sorted lexicographically (empty query dropped)
    *   - trailing slashes stripped from the path
    */
  def normalizeUrl(url: Column): Column = {
    // drop the fragment FIRST: a '?' inside the fragment (page#sec?x=1)
    // must not resurrect as a query string on the canonical key
    val noFrag = regexp_replace(url, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostport = lower(regexp_extract(noFrag, "^[^:]+://([^/?#]*)", 1))
    val host = when(scheme === "http", regexp_replace(hostport, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostport, ":443$", ""))
      .otherwise(hostport)
    val path = regexp_replace(
      regexp_extract(noFrag, "^[^:]+://[^/?#]*([^?#]*)", 1), "/+$", "")
    val query = regexp_extract(noFrag, "\\?([^#]*)", 1)
    val sortedQuery = array_join(sort_array(split(query, "&")), "&")
    val normalized = concat(scheme, lit("://"), host, path,
      when(length(query) > 0, concat(lit("?"), sortedQuery)).otherwise(lit("")))
    // scheme-less / malformed URLs (every '://'-anchored regex misses)
    // would all collapse to "://..." and merge unrelated documents under
    // one crawl-dedup key — pass them through unchanged instead
    when(scheme === "", url).otherwise(normalized)
  }

  /** Document fingerprint: order-sensitive rolling (Horner) hash of token
    * hashes modulo a 31-bit prime — modular reduction at every step keeps
    * the accumulator ANSI-overflow-safe (Spark 4 defaults to
    * spark.sql.ansi.enabled=true, where a plain `acc * 31 + h` throws).
    */
  def fingerprint(text: Column): Column = {
    val p = lit(2147483629L) // prime < 2^31: acc*31 + h stays < 2^63
    aggregate(split(text, " "), lit(1125899906842597L % 2147483629L),
      (acc, t) => pmod(acc * lit(31L) + pmod(xxhash64(t), p), p))
  }
}
