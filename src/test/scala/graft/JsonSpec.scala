package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The one JSON string escaper Bench and Verify write with. */
class JsonSpec extends AnyFunSuite {

  test("quote escapes quote, backslash, newline, CR, tab and other control characters") {
    assert(Json.quote("a\"b\\c") == "\"a\\\"b\\\\c\"")
    assert(Json.quote("l1\nl2\rl3\tx") == "\"l1\\nl2\\rl3\\tx\"")
    assert(Json.quote("\u0001\u001f") == "\"\\u0001\\u001f\"")
    assert(Json.quote(" ~é") == "\" ~é\"")
  }

  test("every character below 0x80 round-trips through a strict JSON parser") {
    val all = (0 until 0x80).map(_.toChar).mkString
    assert(new ObjectMapper().readValue(Json.quote(all), classOf[String]) == all)
  }
}
