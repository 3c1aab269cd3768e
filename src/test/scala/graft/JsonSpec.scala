package graft

import org.scalatest.funsuite.AnyFunSuite

/** The artifact writers' string escaper: whatever a data-directory path
  * or an SQL string holds, the emitted JSON parses back to it. */
class JsonSpec extends AnyFunSuite {

  test("a path holding a quote, a backslash and a tab round-trips") {
    val path = "/data/sf\"0.1\\x\ty"
    val line = s"""{"metric":"total","sf":${Json.str(path)}}"""
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(line)
    assert(parsed.get("sf").asText == path)
  }
}
