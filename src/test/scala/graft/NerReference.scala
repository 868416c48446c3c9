package graft

import graft.ner.{GazEntry, TokenTrie}

/** The token-array NER the char-range scan replaced, kept as the reference
  * the differential spec compares the scan against: whitespace tokens as
  * strings with their offsets, a `HashMap[String, Node]` trie walked per
  * token, and each hit's surface joined from the matched tokens and lowered
  * per hit.
  */
object NerReference {

  /** Whitespace tokenization with char offsets; empty tokens (e.g. the
    * double space clean_text leaves after URL removal) are skipped.
    */
  def tokenizeWithOffsets(text: String): (Array[String], Array[Int]) = {
    val tokens = Array.newBuilder[String]
    val offsets = Array.newBuilder[Int]
    var i = 0
    val n = text.length
    while (i < n) {
      while (i < n && text.charAt(i) == ' ') i += 1
      if (i < n) {
        val start = i
        while (i < n && text.charAt(i) != ' ') i += 1
        tokens += text.substring(start, i)
        offsets += start
      }
    }
    (tokens.result(), offsets.result())
  }

  private final class Node {
    val children = new java.util.HashMap[String, Node]()
    var types: List[String] = Nil
  }

  /** Longest-match, non-overlapping token trie (same semantics as
    * [[graft.ner.TokenTrie]]).
    */
  final class Trie(entries: Iterable[GazEntry]) {
    private val root = new Node
    entries.foreach { e =>
      val toks = graft.functions.CleanTextImpl.cleanString(e.phrase)
        .split(' ').filter(_.nonEmpty)
      if (toks.nonEmpty) {
        var node = root
        toks.foreach { t =>
          var next = node.children.get(t)
          if (next == null) { next = new Node; node.children.put(t, next) }
          node = next
        }
        if (!node.types.contains(e.entityType))
          node.types = (e.entityType :: node.types).sorted
      }
    }

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

    /** (entity_text, entity_text_norm, entity_type, begin_char, end_char)
      * of every mention in `text`, as the token-array `detect` made them.
      */
    def detect(text: String): Seq[(String, String, String, Int, Int)] = {
      val (tokens, offsets) = tokenizeWithOffsets(text)
      findMentions(tokens).map { case (surface, tpe, b, e) =>
        (surface, surface.trim.toLowerCase, tpe,
          offsets(b), offsets(e - 1) + tokens(e - 1).length)
      }
    }
  }

  /** [[TokenTrie]]'s hits in `tokens` joined by one space, as
    * (surface, entityType, beginTokenIdx, endTokenIdxExclusive): the
    * shape of [[Trie.findMentions]], for tokens with no space.
    */
  def findMentions(trie: TokenTrie, tokens: Array[String]): List[(String, String, Int, Int)] = {
    val starts = tokens.scanLeft(0)(_ + _.length + 1)
    val hits = trie.scan(tokens.mkString(" "))
    (0 until hits.size).toList.flatMap { k =>
      trie.entries(hits.node(k)).toList.map(e => (trie.surface(e), trie.entityType(e),
        starts.indexOf(hits.begin(k)), starts.indexOf(hits.end(k) + 1)))
    }
  }
}
