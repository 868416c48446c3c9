package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level text transforms of the reference's scalar functions.
  *
  * All of these are pure Catalyst expression chains (no UDFs) so they stay
  * inside whole-stage codegen and are pushable/foldable by the optimizer.
  *
  * Reference semantics ported:
  *   - clean_text: reference `src/news_nlp/preprocessing/text_cleaning.py:25-35`
  *   - normalize_entity_text: reference `src/news_nlp/ner_extractor/tables.py:8-18`
  *   - text assembly (batch): reference `src/news_nlp/ingestion/db_io.py:86-88`
  *   - text assembly (api): reference `src/news_nlp/api/app.py:67,89,111`
  */
object Text {

  /** Python `re` `\s` is Unicode-aware AND additionally matches the ASCII
    * separator controls 0x1C..0x1F (which the Unicode White_Space property —
    * what Java's `(?U)\s` maps to — excludes). This class reproduces the
    * exact Python-`re` whitespace set on the JVM.
    */
  private val PyWs = "[\\s\\x1c-\\x1f]"
  private val PyNonWs = "[^\\s\\x1c-\\x1f]"

  /** Byte-identical port of the reference `clean_text`
    * (`text_cleaning.py:25-35`). Order matters and is part of the contract:
    *   1. lowercase
    *   2. collapse any whitespace run to a single ASCII space  (`\s+` -> " ")
    *   3. (`\n` -> " " in the reference is a provable no-op after step 2 —
    *      elided here, pinned by golden-byte tests)
    *   4. strip URLs: `http\S+` -> ""   (leaves the double space the
    *      reference leaves, because collapse ran FIRST)
    *   5. strip leading/trailing whitespace
    *   6. null -> ""
    */
  def cleanText(c: Column): Column = {
    val lowered = lower(c.cast("string"))
    val collapsed = regexp_replace(lowered, s"(?U)$PyWs+", " ")
    val noUrls = regexp_replace(collapsed, s"(?U)http$PyNonWs+", "")
    // After step 2 every whitespace char is an ASCII space, so plain trim
    // reproduces Python's Unicode-aware strip().
    coalesce(trim(noUrls), lit(""))
  }

  /** Batch text assembly (P3): ALWAYS inserts ". ", even for empty title
    * (`db_io.py:88`), after null-filling both sides (`db_io.py:86-87`).
    */
  def assembleText(title: Column, content: Column): Column =
    concat(coalesce(title, lit("")), lit(". "), coalesce(content, lit("")))

  /** API text assembly (P9): skips the separator when title is null/empty
    * (`app.py:111` — `f"{title}. {text}" if title else text`).
    */
  def assembleTextApi(title: Column, text: Column): Column =
    when(title.isNotNull && length(title) > 0,
      // null text must not null the whole concat (scalar twin Api.assemble
      // null-fills the same way)
      concat(title, lit(". "), coalesce(text, lit("")))).otherwise(text)

  /** Deterministic content-addressed entity id replacing the reference's
    * BIGSERIAL surrogate (SURVEY.md §1.4, §2.9 fix #1). Stable across
    * executors, batches and re-runs — the property incremental resume
    * depends on.
    */
  def entityId(norm: Column, entityType: Column): Column =
    xxhash64(norm, entityType)

  /** Driver/executor-scalar twin of [[cleanText]]: the one scanner
    * [[CleanTextImpl.cleanString]], with null → "". Golden-byte tests and
    * the Column ≡ scalar specs compare both against the same fixtures.
    * Used where a plain String is in hand (fixture trainer, specs).
    */
  def cleanTextScala(text: String): String =
    if (text == null) "" else CleanTextImpl.cleanString(text)

  /** [[cleanTextScala]] plus an offset map back into the raw input: for
    * every char of the cleaned string, the `[begin, end)` raw-char span it
    * came from. This is what lets the API report entity offsets into the
    * text the CALLER sent (reference `api/app.py:119` — spaCy runs on the
    * raw assembled full_text) while detection itself runs on the cleaned
    * text the batch pipeline uses.
    *
    * The same scan as [[cleanTextScala]] ([[CleanTextImpl.cleanWithSpans]])
    * builds the cleaned string, so the two are equal under any default
    * locale — including Java's context-sensitive final sigma and
    * length-changing lowercase (fuzz-pinned in ApiSpec over mixed İ/Σ
    * inputs, and against a regex-pass oracle in TextKernelOracleSpec).
    *
    * A collapsed whitespace RUN maps to the full raw span of the run and a
    * removed URL to nothing; entities begin and end on non-whitespace, so
    * their mapped spans are always exact raw surfaces.
    */
  def cleanTextWithOffsets(text: String): (String, Array[Int], Array[Int]) =
    if (text == null) ("", Array.emptyIntArray, Array.emptyIntArray)
    else CleanTextImpl.cleanWithSpans(text)

  /** sklearn's default TfidfVectorizer token pattern `(?u)\b\w\w+\b`
    * (reference `topics_detector/model.py:96-102`), as a Column producing
    * the token array of an (already cleaned, lowercased) text.
    *
    * The \w class is spelled `[\p{L}\p{N}_]`: Java's `(?U)\w` includes
    * combining marks (Mn/Mc) and join controls that Python `re`'s \w
    * (str.isalnum-based) excludes, and excludes No numerics ('½') that
    * Python includes — the explicit class matches Python AND the DuckDB
    * oracle dialect (RE2) exactly. A maximal run of class chars of
    * length ≥ 2 ≡ `\b\w\w+\b` under greedy matching.
    */
  def sklearnTokens(c: Column): Column =
    regexp_extract_all(c, lit("[\\p{L}\\p{N}_]{2,}"), lit(0))
}
