package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SPARK_GRAFT_BYPASS_MERGE` validation: a bad value fails with a message
  * that names the variable, before any session is built.
  */
class GraftSessionSpec extends AnyFunSuite {

  test("SPARK_GRAFT_BYPASS_MERGE: empty, negative, non-numeric and " +
      "overflowing values are rejected by name; blanks are trimmed") {
    for (bad <- Seq("", "-1", "abc", "99999999999")) {
      val e = intercept[IllegalArgumentException](GraftSession.bypassMergeThreshold(bad))
      assert(e.getMessage.contains(
        s"SPARK_GRAFT_BYPASS_MERGE must be a nonnegative integer, got '$bad'"),
        e.getMessage)
    }
    assert(GraftSession.bypassMergeThreshold(" 8") == "8")
    assert(GraftSession.bypassMergeThreshold("0") == "0")
  }
}
