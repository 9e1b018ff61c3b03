package graft.io

import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.{ObjectMapper, ObjectReader}
import com.fasterxml.jackson.databind.node.ObjectNode

/** The JSON helpers graft's hand-built wire and metadata bodies share:
  * one thread-safe Jackson mapper, one reader for graft's own metadata
  * files, and a string-literal escape for the bodies still rendered by
  * interpolation. */
private[graft] object Json {

  val mapper: ObjectMapper = new ObjectMapper()

  /** Reader for the metadata files graft writes itself (commit-log
    * entries, version metas). Lenient about raw control characters
    * inside strings: files rendered by interpolation before the Jackson
    * codecs left them unescaped. */
  val reader: ObjectReader =
    mapper.reader().`with`(JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS)

  /** `text` as one JSON object. Anything else — empty, torn mid-write,
    * an array — throws a Jackson `JsonProcessingException` (an
    * IOException). */
  def readObject(text: String): ObjectNode =
    reader.forType(classOf[ObjectNode]).readValue[ObjectNode](text)

  /** Escape a string for embedding in a JSON string literal; null-safe
    * (a null exception message serializes as the literal "null"). */
  def escape(s: String): String = {
    val v = if (s == null) "null" else s
    val b = new StringBuilder(v.length + 8)
    v.foreach {
      case '"'           => b.append("\\\"")
      case '\\'          => b.append("\\\\")
      case '\n'          => b.append("\\n")
      case '\r'          => b.append("\\r")
      case '\t'          => b.append("\\t")
      case c if c < 0x20 => b.append(f"\\u${c.toInt}%04x")
      case c             => b.append(c)
    }
    b.toString
  }
}
