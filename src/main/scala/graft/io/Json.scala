package graft.io

import com.fasterxml.jackson.databind.ObjectMapper

/** The JSON helpers graft's hand-built wire and metadata bodies share:
  * one thread-safe Jackson mapper and a string-literal escape for the
  * bodies still rendered by interpolation. */
private[graft] object Json {

  val mapper: ObjectMapper = new ObjectMapper()

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
