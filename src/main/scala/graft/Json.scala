package graft

import com.fasterxml.jackson.databind.ObjectMapper

/** The engine's one JSON encoder. Every hand-assembled JSON line quotes
  * its strings with [[str]], so quotes, backslashes and control characters
  * (multi-line error messages, user-supplied paths) always escape.
  */
object Json {
  val mapper = new ObjectMapper()

  /** `s` as a quoted, escaped JSON string literal. */
  def str(s: String): String = mapper.writeValueAsString(s)
}
