package graft.util

import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.DeserializationFeature
import com.fasterxml.jackson.databind.json.JsonMapper

/** The one JSON codec (Jackson, shipped with Spark): TripleStore
  * manifests, the LLM namer's prompts, responses and name cache, and
  * Verify's query lists. Reads reject trailing input. Raw control chars
  * inside strings are accepted: manifests written before this codec
  * escaped only `\` and `"` in predicate keys.
  */
object Json {
  val mapper: JsonMapper = JsonMapper.builder()
    .enable(JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS)
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    .build()
}
