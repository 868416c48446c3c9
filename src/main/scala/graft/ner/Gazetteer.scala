package graft.ner

import scala.collection.mutable

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
  *
  * The trie is built once on the driver and broadcast; per-token lookup is
  * a hash-map hop, so a partition scan is O(tokens).
  */
final class TokenTrie private (
    root: TokenTrie.Node,
    val size: Int) extends Serializable {

  /** Detected mention: (surface, entityType, beginTokenIdx, endTokenIdxExclusive). */
  def findMentions(tokens: Array[String]): List[(String, String, Int, Int)] = {
    var out = List.empty[(String, String, Int, Int)]
    var i = 0
    val n = tokens.length
    while (i < n) {
      var node = root
      var j = i
      var bestEnd = -1
      var bestTypes: List[String] = Nil
      var continue = true
      while (continue && j < n) {
        val next = node.children.get(tokens(j))
        if (next == null) continue = false
        else {
          node = next
          j += 1
          if (node.types.nonEmpty) { bestEnd = j; bestTypes = node.types }
        }
      }
      if (bestEnd > 0) {
        val surface = tokens.slice(i, bestEnd).mkString(" ")
        bestTypes.foreach { t => out = (surface, t, i, bestEnd) :: out }
        i = bestEnd
      } else i += 1
    }
    out.reverse
  }
}

object TokenTrie {
  private[ner] final class Node extends Serializable {
    val children = new java.util.HashMap[String, Node]()
    var types: List[String] = Nil
  }

  def apply(entries: Iterable[GazEntry]): TokenTrie = {
    val root = new Node
    var n = 0
    entries.foreach { e =>
      // keyed by the scanner that cleans the text the trie is matched
      // against: locale-free lowering, whitespace runs to one space
      val toks = graft.functions.CleanTextImpl.cleanString(e.phrase)
        .split(' ').filter(_.nonEmpty)
      if (toks.nonEmpty) {
        var node = root
        toks.foreach { t =>
          var next = node.children.get(t)
          if (next == null) { next = new Node; node.children.put(t, next) }
          node = next
        }
        if (!node.types.contains(e.entityType)) {
          // deterministic emission order: types sorted
          node.types = (e.entityType :: node.types).sorted
          n += 1
        }
      }
    }
    new TokenTrie(root, n)
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
