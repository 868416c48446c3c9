package graft.topics

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.node.ObjectNode

import graft.util.Json

/** Injected LLM transport — the seam where the reference calls OpenAI
  * (`topics_detector/topics_naming.py:25-38`, `infer_llm`). Production
  * wires an HTTP client here; tests wire deterministic fakes. Keeping the
  * transport OUT of the naming logic makes the prompt assembly, response
  * parsing and fallback chain testable without a network.
  */
trait LlmTransport {
  /** Return the model's raw text response for (system, user) prompts. */
  def complete(systemPrompt: String, userPrompt: String): String
}

/** Reference-shaped LLM topic namer (`topics_naming.py:41-125` +
  * `config/prompts.yaml` `topics_namer_2`):
  *
  *   - user prompt: a JSON object keyed by the topic id, carrying the
  *     topic's top `terms` and its top-3 truncated representative
  *     `news_texts` (`topics_naming.py:87-95`; truncation is applied
  *     upstream by [[TopicTerms.representativeTexts]]);
  *   - response contract: a bare JSON object `{"<id>": "<label>"}` —
  *     parsed strictly;
  *   - on a malformed response (reference: `json.JSONDecodeError`) the
  *     namer falls back to the on-disk name CACHE
  *     (`notebooks/data/topic_names.json` analogue) — the last
  *     successfully generated names survive an API regression;
  *   - on a transport FAILURE the same cache fallback applies (the
  *     reference would crash here; a batch engine degrades instead);
  *   - cache miss bottoms out at the deterministic `Topic <id>`
  *     (`tables.py:59`);
  *   - every successful naming is merged back into the cache file
  *     atomically (`topics_naming.py:113-115`).
  *
  * `cachePath` is a deployment setting: where the name cache lives, or
  * None for no cache.
  */
final class LlmTopicNamer(
    transport: LlmTransport,
    cachePath: Option[Path] = None) extends TopicNamer {

  import LlmTopicNamer._

  override def needsTexts: Boolean = true

  override def name(idTopic: Int, topTerms: Seq[String],
      representativeTexts: Seq[String]): String = {
    val user = userPrompt(idTopic, topTerms, representativeTexts)
    val parsed =
      try parseFlatStringObject(transport.complete(SystemPrompt, user))
      catch { case NonFatal(_) => None }
    parsed match {
      case Some(names) =>
        updateCache(names)
        // a well-formed response that doesn't name THIS topic degrades
        // through the same chain as a malformed one: cache, then Topic N
        names.get(idTopic.toString)
          .orElse(readCache().get(idTopic.toString))
          .getOrElse(s"Topic $idTopic")
      case None =>
        readCache().get(idTopic.toString).getOrElse(s"Topic $idTopic")
    }
  }

  private def readCache(): Map[String, String] =
    cachePath.filter(Files.exists(_)).flatMap { p =>
      try parseFlatStringObject(Files.readString(p))
      catch { case NonFatal(_) => None }
    }.getOrElse(Map.empty)

  /** Merge-and-rewrite, atomic rename (a killed namer leaves the previous
    * cache intact, never a torn file).
    */
  private def updateCache(names: Map[String, String]): Unit =
    cachePath.foreach { p =>
      try {
        val merged = new java.util.TreeMap[String, String]((readCache() ++ names).asJava)
        val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
        Files.write(tmp, Json.mapper.writeValueAsBytes(merged))
        Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
      } catch { case NonFatal(_) => () } // cache is best-effort
    }
}

object LlmTopicNamer {

  /** The naming instruction set — same CONTRACT as the reference's
    * `topics_namer_2` prompt (`config/prompts.yaml:16-38`): input shape,
    * 1-3 word title-case English labels, bare-JSON-object output.
    */
  val SystemPrompt: String =
    """You will receive a JSON object whose keys are topic cluster ids. Each
      |value holds two fields: "terms" (the cluster's most relevant words)
      |and "news_texts" (representative article texts for context).
      |For each cluster id, produce a concise, specific label (one to three
      |words, English, Title Case) capturing the cluster's common theme.
      |Avoid generic labels. Respond with ONLY a JSON object mapping each
      |input cluster id to its label — no surrounding text, headers or
      |explanations. Example: input {"0": {"terms": ["apple", "banana"],
      |"news_texts": ["Apples are tasty."]}} -> output {"0": "Fruits"}.
      |""".stripMargin

  /** Per-topic user prompt (`topics_naming.py:87-95`): the topic id keys
    * an object with its terms and representative texts, laid out with the
    * reference's `json.dumps` separators (`, ` and `: `).
    */
  def userPrompt(idTopic: Int, terms: Seq[String], texts: Seq[String]): String = {
    def str(s: String) = Json.mapper.writeValueAsString(s)
    def arr(xs: Seq[String]) = xs.map(str).mkString("[", ", ", "]")
    s"""{${str(idTopic.toString)}: {"terms": ${arr(terms)}, "news_texts": ${arr(texts)}}}"""
  }

  /** Strict parser for the response contract: ONE flat JSON object with
    * string keys and string values (the prompt demands exactly that).
    * Anything else — prose around the JSON, nested or non-string values,
    * trailing garbage — returns None and triggers the cache fallback,
    * mirroring the reference's `json.JSONDecodeError` branch.
    */
  private[graft] def parseFlatStringObject(s: String): Option[Map[String, String]] =
    try Option(s).map(Json.mapper.readTree).collect {
      case o: ObjectNode if o.properties().asScala.forall(_.getValue.isTextual) =>
        o.properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap
    } catch { case NonFatal(_) => None }
}
