package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Bench's record keys are query names written as JSON string literals. */
class BenchJsonSpec extends AnyFunSuite {
  test("jsonString: plain names are unchanged, any name round-trips through a JSON parser") {
    assert(Bench.jsonString("q52_fuzzy_blocked_match") == "\"q52_fuzzy_blocked_match\"")
    val mapper = new ObjectMapper()
    Seq("q\"1", "back\\slash", "tab\there", "line\nbreak", "\u0001ctl", "").foreach { name =>
      val record = "{" + Bench.jsonString(name) + ":1.000}"
      val parsed = mapper.readTree(record)
      assert(parsed.fieldNames().next() == name, record)
    }
  }
}
