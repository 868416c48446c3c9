package graft

import org.apache.spark.sql.functions._
import graft.link.EntityLink
import graft.schema.Mention
import graft.util.Hashing

/** Dictionary aggregation (A1/A2) and the link join (J4) — including the
  * contract that the salted skew variant is ROW-IDENTICAL to the broadcast
  * join.
  */
class EntityLinkSpec extends SparkSpec {

  private def m(url: String, surface: String, tpe: String = "PERSON"): Mention =
    Mention(url, surface,
      surface.trim.toLowerCase, tpe, 0, surface.length)

  test("A1/A2: modal surface form with deterministic tie-break (count DESC, text ASC)") {
    import spark.implicits._
    val mentions = Seq(
      m("u1", "Biden"), m("u1", "Biden"), m("u1", "biden"),
      m("u2", "biden"), m("u2", "BIDEN"), m("u2", "Biden"),
      m("u3", "acme corp", "ORG")).toDS()
    val dict = EntityLink.dictFromSurfaceRows(mentions.withColumn("n", lit(1L))).collect()
      .sortBy(_.entity_text_norm)
    val biden = dict.find(_.entity_text_norm == "biden").get
    // counts: Biden=3, biden=2, BIDEN=1 → modal "Biden"
    assert(biden.entity_text === "Biden")
    assert(biden.entity_mentions_count === 6L)
    assert(biden.news_count === 2L)
    assert(biden.id_entity === Hashing.xxhash64("biden", "PERSON"))
  }

  test("A2 tie-break within one norm: count tie → entity_text ASC") {
    import spark.implicits._
    // same norm "biden", surfaces "BIDEN" and "Biden" once each:
    // ASCII order "BIDEN" < "Biden" → modal is "BIDEN"
    val mentions = Seq(m("u1", "BIDEN"), m("u2", "Biden")).toDS()
    val dict = EntityLink.dictFromSurfaceRows(mentions.withColumn("n", lit(1L))).collect()
    assert(dict.head.entity_text === "BIDEN")
  }

  test("salted link join is row-identical to the broadcast join") {
    import spark.implicits._
    // skewed: "hot" appears in 40 articles, tail entities once each
    val mentions = ((1 to 40).map(i => m(s"u$i", "hot")) ++
      (1 to 10).map(i => m(s"u$i", s"tail$i"))).toDS()
    val dict = EntityLink.dictFromSurfaceRows(mentions.withColumn("n", lit(1L))).toDF()
      .select($"entity_text_norm", $"entity_type", $"id_entity", $"news_count")
    val perDoc = mentions.groupBy($"url", $"entity_text_norm", $"entity_type")
      .agg(count(lit(1)).as("n_mentions"))
    val cols = Seq("url", "entity_text_norm", "entity_type", "id_entity", "news_count")
    val broad = EntityLink.linkBroadcast(perDoc, dict)
      .select(cols.head, cols.tail: _*).collect().map(_.toSeq).sortBy(_.toString)
    val salted = EntityLink.linkSalted(perDoc, dict, saltFactor = 4, hotThreshold = 5)
      .select(cols.head, cols.tail: _*).collect().map(_.toSeq).sortBy(_.toString)
    assert(salted.length === broad.length)
    assert(salted.toSeq === broad.toSeq)
    // supplied hot keys (the dict's own news_count stat — VERDICT r04 #1:
    // no re-aggregation of the mention side) give the identical result
    val hotFromDict = dict.filter($"news_count" > 5)
      .select($"entity_text_norm", $"entity_type")
    val saltedPre = EntityLink.linkSalted(perDoc, dict, saltFactor = 4,
        hotThreshold = 5, hotKeys = Some(hotFromDict))
      .select(cols.head, cols.tail: _*).collect().map(_.toSeq).sortBy(_.toString)
    assert(saltedPre.toSeq === broad.toSeq)
    // and so does a deliberately WRONG hot set (salting is value-neutral)
    val coldOnly = dict.filter($"news_count" <= 5)
      .select($"entity_text_norm", $"entity_type")
    val saltedCold = EntityLink.linkSalted(perDoc, dict, saltFactor = 4,
        hotThreshold = 5, hotKeys = Some(coldOnly))
      .select(cols.head, cols.tail: _*).collect().map(_.toSeq).sortBy(_.toString)
    assert(saltedCold.toSeq === broad.toSeq)
    // and a DUPLICATED supplied hot set: without the internal distinct,
    // each duplicate (norm, type) row would multiply every matching
    // mention through the two hot joins — a silent break of the
    // row-identical contract from a public default-arg API
    val dupHot = hotFromDict.unionByName(hotFromDict)
    val saltedDup = EntityLink.linkSalted(perDoc, dict, saltFactor = 4,
        hotThreshold = 5, hotKeys = Some(dupHot))
      .select(cols.head, cols.tail: _*).collect().map(_.toSeq).sortBy(_.toString)
    assert(saltedDup.toSeq === broad.toSeq)
  }
}
