package graft.util

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class JsonSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  test("quote round-trips quotes, backslashes and control characters") {
    val raw =
      "a \"quoted\" \\path\\ tab\there\nnew\rline \u0000\u0001\u001f end"
    val json = s"""{${Json.quote("k\t\"")}:${Json.quote(raw)}}"""
    val node = mapper.readTree(json)
    assert(node.get("k\t\"").asText() == raw)
  }

  test("plain text passes through unchanged apart from the quotes") {
    assert(Json.quote("q01_agg_sum_groupby é") == "\"q01_agg_sum_groupby é\"")
  }
}
