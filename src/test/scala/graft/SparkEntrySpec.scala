package graft

import org.scalatest.funsuite.AnyFunSuite

class SparkEntrySpec extends AnyFunSuite {

  test("mergeUnique: a name defined in two maps fails and names every duplicate") {
    val e = intercept[IllegalArgumentException] {
      SparkEntry.mergeUnique(Map("a" -> 1, "b" -> 2, "c" -> 3), Map("d" -> 4), Map("c" -> 5, "a" -> 6))
    }
    assert(e.getMessage.endsWith("names defined more than once: a, c"), e.getMessage)
  }
}
