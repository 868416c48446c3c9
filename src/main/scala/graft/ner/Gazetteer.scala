package graft.ner

import scala.collection.mutable

import graft.util.{PairTable, WordIds}

/** One gazetteer entry: a normalized (lowercase, single-spaced) phrase and
  * its entity type. Phrases are matched on whitespace-token boundaries of
  * already-cleaned text (the reference runs NER on the cleaned `text`
  * column too — `src/news_nlp/pipelines/jobs/full_inference_job.py`).
  */
final case class GazEntry(phrase: String, entityType: String)

/** Immutable token-level trie for batched mention detection (M4).
  *
  * Matching semantics: scan the token stream left→right; at each position
  * take the LONGEST gazetteer phrase starting there (all entity types
  * registered for that phrase are emitted), then continue after it —
  * i.e. non-overlapping longest-match, mirroring spaCy's non-overlapping
  * entity spans (reference `src/news_nlp/ner_extractor/model.py:121-143`).
  * Tokens are the runs of non-' ' chars; every other char, tabs and
  * control chars included, is part of a token.
  *
  * Layout: the distinct phrase tokens are a [[WordIds]] table, looked up
  * by the char range of a text token; transitions are a [[PairTable]]
  * keyed by (node, word id); node 0 is the root. Each (node, type) is an
  * entry holding what a hit reports, computed once here: the type, the
  * surface (the path's tokens joined by one space — the matched text
  * tokens, since a walk only matches equal tokens) and the norm
  * (`surface.trim.toLowerCase`). So a scan allocates nothing per token or
  * per hit. Entry ids follow the (norm, type, surface) order in which the
  * fused pass emits surfaces.
  *
  * The trie is built once on the driver and broadcast; API threads and
  * task threads share one instance, each scanning into its own buffers.
  */
final class TokenTrie private (
    words: WordIds,
    children: PairTable,
    nodeEntries: Array[Array[Int]],
    surfaces: Array[String],
    norms: Array[String],
    entityTypes: Array[String]) extends Serializable {

  /** Entry ids of a hit ending at `node`, in type order; none for a node
    * no phrase ends at.
    */
  private[graft] def entries(node: Int): Array[Int] = nodeEntries(node)
  private[graft] def surface(entry: Int): String = surfaces(entry)
  private[graft] def norm(entry: Int): String = norms(entry)
  private[graft] def entityType(entry: Int): String = entityTypes(entry)

  @transient private lazy val buffers: ThreadLocal[TrieHits] =
    ThreadLocal.withInitial(() => new TrieHits)

  /** The hits in `text`, in text order. One pass over its chars splits
    * the tokens and hashes each as it goes; only tokens that are trie
    * words are kept, with their token ordinal, so a walk stops where the
    * next kept token does not follow its predecessor. The result is this
    * thread's buffer, valid until its next scan: code that reads the hits
    * (a callback passed to [[NerExtractor.foreachKept]] included) must not
    * scan again on the same thread.
    */
  private[graft] def scan(text: String): TrieHits = {
    val h = buffers.get()
    h.nWords = 0
    h.nHits = 0
    val len = text.length
    var ordinal = 0
    var i = 0
    while (i < len) {
      var c = text.charAt(i)
      if (c == ' ') i += 1
      else {
        val from = i
        var hash = 0
        while (c != ' ') {
          hash = 31 * hash + c
          i += 1
          c = if (i < len) text.charAt(i) else ' '
        }
        val id = words.id(text, from, i, hash)
        if (id >= 0) h.addWord(from, i, id, ordinal)
        ordinal += 1
      }
    }
    var t = 0
    while (t < h.nWords) {
      var node = children(0, h.wordIds(t))
      var j = t
      var bestEnd = -1
      var bestNode = 0
      while (node >= 0) {
        j += 1
        if (nodeEntries(node).length > 0) { bestEnd = j; bestNode = node }
        node =
          if (j < h.nWords && h.wordOrdinals(j) == h.wordOrdinals(j - 1) + 1)
            children(node, h.wordIds(j))
          else -1
      }
      if (bestEnd > 0) {
        h.addHit(bestNode, h.wordBegins(t), h.wordEnds(bestEnd - 1))
        t = bestEnd
      } else t += 1
    }
    h
  }
}

/** One thread's scan buffers: the trie words of the last scanned text
  * (char range, word id, token ordinal) and its hits as
  * (node, begin char, end char exclusive).
  */
private[graft] final class TrieHits {
  private[ner] var wordBegins = new Array[Int](64)
  private[ner] var wordEnds = new Array[Int](64)
  private[ner] var wordIds = new Array[Int](64)
  private[ner] var wordOrdinals = new Array[Int](64)
  private[ner] var nWords = 0
  private var nodes = new Array[Int](16)
  private var begins = new Array[Int](16)
  private var ends = new Array[Int](16)
  private[ner] var nHits = 0

  /** Number of hits. */
  def size: Int = nHits
  def node(k: Int): Int = nodes(k)
  def begin(k: Int): Int = begins(k)
  def end(k: Int): Int = ends(k)

  private[ner] def addWord(from: Int, until: Int, id: Int, ordinal: Int): Unit = {
    if (nWords == wordIds.length) {
      wordBegins = java.util.Arrays.copyOf(wordBegins, nWords * 2)
      wordEnds = java.util.Arrays.copyOf(wordEnds, nWords * 2)
      wordIds = java.util.Arrays.copyOf(wordIds, nWords * 2)
      wordOrdinals = java.util.Arrays.copyOf(wordOrdinals, nWords * 2)
    }
    wordBegins(nWords) = from
    wordEnds(nWords) = until
    wordIds(nWords) = id
    wordOrdinals(nWords) = ordinal
    nWords += 1
  }

  private[ner] def addHit(node: Int, from: Int, until: Int): Unit = {
    if (nHits == nodes.length) {
      nodes = java.util.Arrays.copyOf(nodes, nHits * 2)
      begins = java.util.Arrays.copyOf(begins, nHits * 2)
      ends = java.util.Arrays.copyOf(ends, nHits * 2)
    }
    nodes(nHits) = node
    begins(nHits) = from
    ends(nHits) = until
    nHits += 1
  }
}

object TokenTrie {

  def apply(entries: Iterable[GazEntry]): TokenTrie = {
    val wordIds = new java.util.HashMap[String, Integer]()
    val words = mutable.ArrayBuffer.empty[String]
    val children = new java.util.HashMap[java.lang.Long, Integer]()
    val surfaces = mutable.ArrayBuffer("")
    val types = mutable.ArrayBuffer(List.empty[String])
    entries.foreach { e =>
      // keyed by the scanner that cleans the text the trie is matched
      // against: locale-free lowering, whitespace runs to one space
      val toks = graft.functions.CleanTextImpl.cleanString(e.phrase)
        .split(' ').filter(_.nonEmpty)
      if (toks.nonEmpty) {
        var node = 0
        toks.foreach { t =>
          val known = wordIds.get(t)
          val w =
            if (known != null) known.intValue
            else { wordIds.put(t, words.length); words += t; words.length - 1 }
          val key = PairTable.key(node, w)
          val next = children.get(key)
          node =
            if (next != null) next.intValue
            else {
              children.put(key, surfaces.length)
              surfaces += (if (node == 0) t else s"${surfaces(node)} $t")
              types += Nil
              surfaces.length - 1
            }
        }
        // deterministic emission order: types sorted
        if (!types(node).contains(e.entityType))
          types(node) = (e.entityType :: types(node)).sorted
      }
    }
    // a cleaned token lowers to itself in every locale (clean lowered it),
    // so the root locale gives the norm the default locale would
    val norms = surfaces.map(_.trim.toLowerCase(java.util.Locale.ROOT))
    val order = surfaces.indices
      .flatMap(node => types(node).map(tpe => (node, tpe)))
      .sortBy { case (node, tpe) => (norms(node), tpe, surfaces(node)) }
    val entryOf = order.zipWithIndex.toMap
    new TokenTrie(
      new WordIds(words.toArray, slotsPerWord = 4),
      PairTable(children),
      surfaces.indices.map(node => types(node).map(tpe => entryOf((node, tpe))).toArray).toArray,
      order.map { case (node, _) => surfaces(node) }.toArray,
      order.map { case (node, _) => norms(node) }.toArray,
      order.map { case (_, tpe) => tpe }.toArray)
  }
}

/** The default fixture gazetteer (FIXTURES.md §3): ~60 entries over
  * PERSON/ORG/GPE/LOC with deliberate head skew ("u.s.", "biden",
  * "senate" — mirroring the reference's own top entities,
  * `notebooks/03_ner.ipynb` cell 15).
  *
  * Invariants relied on by tests and by the fixture generator:
  *   - multi-word phrases are pairwise token-disjoint,
  *   - no single-word entry is a token of a multi-word entry,
  *  so longest-match non-overlapping detection coincides with independent
  *  per-phrase occurrence counting (what a SQL oracle can express).
  */
object FixtureGazetteer {
  val heads: Seq[GazEntry] = Seq(
    GazEntry("u.s.", "GPE"),
    GazEntry("biden", "PERSON"),
    GazEntry("senate", "ORG"))

  val tail: Seq[GazEntry] = Seq(
    // PERSON
    "maria delgado", "chen wei", "amara okafor", "lucas meyer",
    "sofia rossi", "yuki tanaka", "omar haddad", "priya nair",
    "erik larsen", "fatima zahra", "david cohen", "elena petrova",
    "carlos mendez", "grace kim", "tomas novak"
  ).map(GazEntry(_, "PERSON")) ++ Seq(
    // ORG
    "acme corp", "globex industries", "initech", "umbrella group",
    "wayne enterprises", "stark labs", "cyberdyne systems",
    "tyrell holdings", "aperture science", "hooli", "pied piper",
    "soylent foods", "oscorp", "nakatomi trading", "wonka factory"
  ).map(GazEntry(_, "ORG")) ++ Seq(
    // GPE
    "france", "germany", "japan", "brazil", "kenya", "norway",
    "portugal", "vietnam", "chile", "morocco", "iceland", "austria",
    "uruguay", "latvia", "nepal"
  ).map(GazEntry(_, "GPE")) ++ Seq(
    // LOC
    "rhine valley", "atacama desert", "mount kenobi", "lake vostok",
    "coral basin", "ironwood forest", "crystal caverns",
    "amber coast", "frozen steppe", "sapphire bay", "thunder plateau",
    "misty fjord", "golden dunes", "verdant highlands", "obsidian cliffs"
  ).map(GazEntry(_, "LOC")) ++ Seq(
    // alias surface forms (feed the sameAs/connected-components path).
    // NOTE: "joe biden" nests "biden" — longest-match handles it: an
    // embedded "joe biden" yields exactly one mention (joe biden), an
    // embedded bare "biden" yields (biden); "joe" alone is never filler,
    // so generation-time truth stays exact.
    GazEntry("united states", "GPE"),
    GazEntry("joe biden", "PERSON"),
    GazEntry("acme corporation", "ORG"))

  /** sameAs alias pairs (norm_a, norm_b, entity_type) — ground truth for
    * the canonicalization stage; canonical = min entity id in component.
    */
  val aliasPairs: Seq[(String, String, String)] = Seq(
    ("united states", "u.s.", "GPE"),
    ("joe biden", "biden", "PERSON"),
    ("acme corporation", "acme corp", "ORG"))

  val all: Seq[GazEntry] = heads ++ tail

  /** Labels the reference keeps (`jobs/ner_extractor_inference_job.py:49-51`). */
  val keepLabels: Set[String] = Set("PERSON", "ORG", "GPE", "LOC")

  lazy val trie: TokenTrie = TokenTrie(all)
}
