package graft

import org.scalatest.funsuite.AnyFunSuite

/** Contract guards for the driver gate: every registered query must carry
  * an oracle (a key-set drift here would silently demote a query to the
  * driver's weaker rows-only check — or fail the round on a typo).
  */
class SparkEntrySpec extends AnyFunSuite {

  test("queries and oracleSql cover exactly the same names") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries without oracle: ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty, s"oracles without query: ${(o -- q).toSeq.sorted}")
  }

  test("oracle SQL strings are non-blank") {
    val blank = SparkEntry.oracleSql.collect { case (k, v) if v.trim.isEmpty => k }
    assert(blank.isEmpty, s"blank oracle SQL for: ${blank.toSeq.sorted}")
  }

  test("select: a list that names no query selects all 208; unknown names fail") {
    val all = SparkEntry.queries.keySet.toSeq.sorted
    assert(all.size == 208)
    for (blank <- Seq("", ",", " , "))
      assert(SparkEntry.select(blank) == all, s"'$blank'")
    assert(SparkEntry.select(" q1_pricing_summary ,") == Seq("q1_pricing_summary"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.select("q1_pricing_summary,nope"))
    assert(e.getMessage.contains("unknown query name(s): nope"), e.getMessage)
  }
}
