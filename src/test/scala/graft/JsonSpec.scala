package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Json.str]] is the encoder behind every hand-assembled JSON line (the
  * bench artifacts and the mains' startup lines), which carry error
  * messages and user-supplied paths: any string must round-trip.
  */
class JsonSpec extends AnyFunSuite {

  test("a path with quotes, backslashes and control characters round-trips") {
    val path = "C:\\rides\\\"fast\" one\n\tlap\u0001.csv"
    val line = s"""{"serving":${Json.str(path)},"port":8080}"""
    val back = Json.mapper.readTree(line)
    assert(back.get("serving").asText() == path)
    assert(back.get("port").asInt() == 8080)
  }
}
