package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.PageGen
import graft.functions.Text
import graft.topics.TopicScorer
import graft.util.Json

/** Freezes the fixture topic model ([[SparkEntry.fixtureModel]], fit on
  * 240 PageGen texts): the 48 queries and perfbench score with it, so a
  * change to it must be a decision, not an accident. The golden
  * `fixture_model.json` holds doubles as raw IEEE-754 bits in hex and
  * the topics of PageGen pages 0-1999 as one digit per page.
  */
class FixtureModelSpec extends AnyFunSuite {

  private lazy val golden = {
    val in = getClass.getResourceAsStream("fixture_model.json")
    try Json.mapper.readTree(in) finally in.close()
  }

  private def bits(node: com.fasterxml.jackson.databind.JsonNode): Array[Double] =
    node.elements().asScala.map(h =>
      java.lang.Double.longBitsToDouble(java.lang.Long.parseUnsignedLong(h.asText, 16))).toArray

  private def rows(name: String): Array[Array[Double]] =
    golden.get(name).elements().asScala.map(bits).toArray

  test("fixture model frozen: vocab, idf, components, centroids, 2000 topics") {
    val m = SparkEntry.fixtureModel
    assert(m.vocab.toSeq === golden.get("vocab").elements().asScala.map(_.asText).toSeq)
    assert(m.idf.map(java.lang.Double.doubleToRawLongBits).toSeq ===
      bits(golden.get("idf")).map(java.lang.Double.doubleToRawLongBits).toSeq)
    val comps = rows("components")
    assert(m.components.length === comps.length)
    m.components.zip(comps).foreach { case (got, want) =>
      assert(got.map(java.lang.Double.doubleToRawLongBits).toSeq ===
        want.map(java.lang.Double.doubleToRawLongBits).toSeq)
    }
    val cents = rows("centroids")
    assert(m.centroids.length === cents.length)
    m.centroids.zip(cents).foreach { case (got, want) =>
      assert(got.length === want.length)
      got.zip(want).foreach { case (g, w) => assert(math.abs(g - w) <= 1e-12, s"$g vs $w") }
    }
    val topics = (0L until 2000L).map { i =>
      val g = PageGen.generate(i)
      TopicScorer.score(m, g.url, Text.cleanTextScala(g.text)).id_topic
    }.mkString
    assert(topics === golden.get("topics").asText)
  }
}
