package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The one scalar `clean_text` (P1): byte-identical to the regex chain in
  * [[Text.cleanText]] (pinned by golden tests, the DuckDB oracle and a
  * differential spec against the regex passes), as one scan over a char
  * buffer instead of three `regexp_replace` passes with three
  * intermediate strings. On the 100 TB hot path this halves the
  * allocation rate of the extract stage, which is what gates thread
  * scaling (the work is memory-bound, not ALU-bound).
  *
  * Callers: the [[CleanText]] expression ([[clean]]), the fused analyzer
  * [[graft.pipeline.KgPipeline.analyze]] ([[cleanString]]), the scalar
  * twin [[Text.cleanTextScala]] (fixture trainer, specs) and, with raw
  * spans, [[Text.cleanTextWithOffsets]] (single-text analyze,
  * [[graft.api.Api]]).
  *
  * Reference semantics (`text_cleaning.py:25-35`):
  *   lower → collapse Python-`\s` runs (Unicode White_Space ∪ 0x1C..0x1F)
  *   to one ASCII space → delete `http\S+` → strip.
  */
object CleanTextImpl {

  /** Python-`re` `\s` under a lowered string: the Unicode White_Space set
    * plus the ASCII separator controls 0x1C–0x1F (Java's `(?U)\s` includes
    * them via \p{IsWhite_Space}? No — Python includes them explicitly;
    * Java (?U)\s resolves to White_Space which EXCLUDES them, so the regex
    * twin lists them in its char class too).
    */
  def isPyWs(c: Char): Boolean =
    if (c < 0x80) {
      (c >= 0x09 && c <= 0x0d) || c == 0x20 || (c >= 0x1c && c <= 0x1f)
    } else {
      c == 0x85 || c == 0xa0 || c == 0x1680 ||
        (c >= 0x2000 && c <= 0x200a) ||
        c == 0x2028 || c == 0x2029 || c == 0x202f ||
        c == 0x205f || c == 0x3000
    }

  /** Entry point referenced from generated code. Null-in → handled by the
    * expression wrapper; empty-in → empty-out. Delegates to the String
    * twin — one decode here, one encode at the end; the char passes are
    * shared with the scalar hot path.
    */
  def clean(u: UTF8String): UTF8String =
    UTF8String.fromString(cleanString(u.toString))

  /** Replicates `UTF8String.toLowerCase` EXACTLY on a String: full-ASCII
    * inputs lower bytewise A-Z (locale-independent — under e.g. a
    * Turkish default locale `String.toLowerCase` would map ASCII 'I' to
    * dotless 'ı' while the UTF8String ASCII fast path gives 'i');
    * anything non-ASCII takes the same `String.toLowerCase()` the
    * UTF8String slow path takes. Keeping this bit-identical is what lets
    * the scalar hot path skip the UTF8String container without breaking
    * Column ≡ scalar parity (fuzz-pinned).
    */
  private def lowerLikeUtf8(s: String): String = {
    var i = 0
    var ascii = true
    while (i < s.length && ascii) {
      if (s.charAt(i) >= 0x80) ascii = false
      i += 1
    }
    if (!ascii) s.toLowerCase()
    else {
      val buf = new Array[Char](s.length)
      var j = 0
      while (j < s.length) {
        val c = s.charAt(j)
        buf(j) = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
        j += 1
      }
      new String(buf)
    }
  }

  /** `[begin, end)` raw-input span of every char of a string derived
    * from the raw input.
    */
  private final class Spans(val begin: Array[Int], val end: Array[Int])

  /** Raw spans of a length-changing lowercase (e.g. 'İ' → "i̇").
    * Context-sensitive mappings (final sigma) are length-PRESERVING, so
    * per-code-point lowercase lengths partition the full-context `lowered`
    * exactly: each segment maps to its source code point's raw span while
    * `lowered` keeps its own chars (and so its sigma context).
    */
  private def lowerSpans(raw: String, lowered: String): Spans = {
    val bs = new Array[Int](lowered.length)
    val es = new Array[Int](lowered.length)
    var i = 0; var o = 0
    while (i < raw.length) {
      val cp = raw.codePointAt(i)
      val n = Character.charCount(cp)
      val lcLen = new String(Character.toChars(cp)).toLowerCase.length
      val end = math.min(o + lcLen, lowered.length)
      while (o < end) { bs(o) = i; es(o) = i + n; o += 1 }
      i += n
    }
    new Spans(bs, es)
  }

  /** String→String clean used by the fused analyzer
    * ([[graft.pipeline.KgPipeline.analyze]]) — skips the two UTF-8
    * encode/decode round trips the UTF8String container cost on a path
    * whose input and consumers (trie NER, topic scoring) are Strings.
    * Char-identical to [[clean]] by construction (clean delegates here).
    */
  def cleanString(s: String): String = scan(s, withSpans = false)._1

  /** [[cleanString]] plus, for every char of the cleaned string, the
    * `[begin, end)` span of the raw input it came from. A collapsed
    * whitespace RUN maps to the raw span of the whole run and a deleted
    * URL to nothing; a 1:1 lowercase maps char i to `[i, i + 1)` without
    * building identity arrays.
    */
  def cleanWithSpans(s: String): (String, Array[Int], Array[Int]) = scan(s, withSpans = true)

  private def scan(s: String, withSpans: Boolean): (String, Array[Int], Array[Int]) = {
    val lowered = lowerLikeUtf8(s)
    val n = lowered.length
    // null: char i of `lowered` came from raw char i
    val ls = if (!withSpans || n == s.length) null else lowerSpans(s, lowered)
    val buf = new Array[Char](n)
    val ob = if (withSpans) new Array[Int](n) else null
    val oe = if (withSpans) new Array[Int](n) else null
    // pass 1: collapse whitespace runs to single ASCII space
    var o = 0
    var i = 0
    while (i < n) {
      val c = lowered.charAt(i)
      var j = i + 1
      if (isPyWs(c)) {
        while (j < n && isPyWs(lowered.charAt(j))) j += 1
        buf(o) = ' '
      } else buf(o) = c
      if (withSpans) {
        ob(o) = if (ls == null) i else ls.begin(i)
        oe(o) = if (ls == null) j else ls.end(j - 1)
      }
      o += 1
      i = j
    }
    // pass 2 (same buffers): delete http\S+ = "http" followed by ≥1
    // non-space (after collapse the only whitespace char is ' ')
    var q = 0
    var p = 0
    while (p < o) {
      if (buf(p) == 'h' && p + 4 < o &&
          buf(p + 1) == 't' && buf(p + 2) == 't' && buf(p + 3) == 'p' &&
          buf(p + 4) != ' ') {
        p += 4
        while (p < o && buf(p) != ' ') p += 1
      } else {
        buf(q) = buf(p)
        if (withSpans) { ob(q) = ob(p); oe(q) = oe(p) }
        q += 1; p += 1
      }
    }
    // strip (only ' ' can remain at the edges; non-whitespace C0 controls
    // stay, as Python strip() and the Column path's trim() keep them)
    var st = 0
    var e = q
    while (st < e && buf(st) == ' ') st += 1
    while (e > st && buf(e - 1) == ' ') e -= 1
    val out = new String(buf, st, e - st)
    if (!withSpans) (out, null, null)
    else (out, java.util.Arrays.copyOfRange(ob, st, e), java.util.Arrays.copyOfRange(oe, st, e))
  }
}

/** Codegen wrapper; null → "" (the reference's None → "" contract), so the
  * expression is non-nullable and downstream predicates simplify.
  */
case class CleanText(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) UTF8String.EMPTY_UTF8
    else CleanTextImpl.clean(v.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val childGen = child.genCode(ctx)
    val resultCode =
      code"""
        ${childGen.code}
        UTF8String ${ev.value} = ${childGen.isNull}
          ? UTF8String.EMPTY_UTF8
          : graft.functions.CleanTextImpl.clean(${childGen.value});
      """
    ev.copy(code = resultCode, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): CleanText =
    copy(child = newChild)

  override def prettyName: String = "clean_text_fast"
}
