package graft.util

/** Distinct words as dense ids (their index in `words`), looked up by a
  * char range of a text with no substring: open addressing over
  * `String.hashCode`, confirmed with `regionMatches`. The topic scorer's
  * vocabulary and the NER trie's token table are both this table.
  *
  * `slotsPerWord` (2 or 4) sets how sparse the table is: at most half or a
  * quarter full. A lookup that misses ends on the first empty slot, so a
  * table most of whose lookups miss is kept a quarter full: on the
  * `api_analyze` request sample, 90% of the text tokens the NER trie looks
  * up are not trie words, against 4% for the topic vocabulary, which is
  * kept half full.
  */
final class WordIds(words: Array[String], slotsPerWord: Int) extends Serializable {

  private val slots = new Array[Int](WordIds.capacity(slotsPerWord / 2 * words.length))
  words.indices.foreach { w =>
    var slot = WordIds.spread(words(w).hashCode) & (slots.length - 1)
    while (slots(slot) != 0) slot = (slot + 1) & (slots.length - 1)
    slots(slot) = w + 1
  }

  /** Id of the word `text[from, until)`, or -1. */
  def id(text: String, from: Int, until: Int): Int =
    id(text, from, until, WordIds.hashRange(text, from, until))

  /** Id of the word `text[from, until)` whose `String.hashCode` the
    * caller computed while scanning it, or -1.
    */
  def id(text: String, from: Int, until: Int, hash: Int): Int = {
    val len = until - from
    val mask = slots.length - 1
    var slot = WordIds.spread(hash) & mask
    var s = slots(slot)
    while (s != 0) {
      if (words(s - 1).length == len && text.regionMatches(from, words(s - 1), 0, len)) return s - 1
      slot = (slot + 1) & mask
      s = slots(slot)
    }
    -1
  }
}

object WordIds {

  /** Open-addressing table size: a power of two, at most half full. */
  private[util] def capacity(n: Int): Int = {
    var c = 2
    while (c < 2 * n) c <<= 1
    c
  }

  /** `String.hashCode` of `text[from, until)`. */
  private def hashRange(text: String, from: Int, until: Int): Int = {
    var h = 0
    var i = from
    while (i < until) { h = 31 * h + text.charAt(i); i += 1 }
    h
  }

  private def spread(h: Int): Int = h ^ (h >>> 16)
}

/** Int values keyed by a pair of non-negative ints (word ids, or a trie
  * node and a word id), open addressing over one `Long` key per pair.
  */
final class PairTable private (keys: Array[Long], values: Array[Int]) extends Serializable {

  /** The value of (`first`, `second`), or -1. */
  def apply(first: Int, second: Int): Int = {
    val key = PairTable.key(first, second)
    val mask = keys.length - 1
    var slot = PairTable.mix(key) & mask
    while (keys(slot) != key && keys(slot) != -1L) slot = (slot + 1) & mask
    if (keys(slot) == key) values(slot) else -1
  }
}

object PairTable {

  /** Both halves are ≥ 0, so a key is never the empty slot's -1. */
  def key(first: Int, second: Int): Long = (first.toLong << 32) | second

  def apply(entries: java.util.Map[java.lang.Long, Integer]): PairTable = {
    val keys = Array.fill(WordIds.capacity(entries.size))(-1L)
    val values = new Array[Int](keys.length)
    entries.forEach { (key, v) =>
      var slot = mix(key) & (keys.length - 1)
      while (keys(slot) != -1L) slot = (slot + 1) & (keys.length - 1)
      keys(slot) = key
      values(slot) = v
    }
    new PairTable(keys, values)
  }

  private def mix(key: Long): Int = {
    val h = key * 0x9e3779b97f4a7c15L
    (h ^ (h >>> 32)).toInt
  }
}
