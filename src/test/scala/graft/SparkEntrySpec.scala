package graft

import graft.gates.Gate
import org.scalatest.funsuite.AnyFunSuite

/** Contract guards for the driver gate. Every registered query carries
  * its oracle by construction (a [[Gate]] holds both); these pin that
  * the aggregate stays well-formed and agrees with Bench's child JVMs.
  */
class SparkEntrySpec extends AnyFunSuite {

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

  test("the aggregate refuses a gate name given twice, naming it") {
    val g = SparkEntry.families.head.gates.head
    val other = SparkEntry.families.last.gates.head
    val e = intercept[IllegalArgumentException](
      Gate.byName(Seq(g, other, g.copy(oracle = "SELECT 1"))))
    assert(e.getMessage.contains(s"duplicate gate name(s): ${g.name}"), e.getMessage)
  }

  test("each gate family is exactly one Bench child-JVM family") {
    val families = SparkEntry.families.map { f =>
      val groups = Bench.childGroups(f.gates.map(_.name))
        .map(_._1.takeWhile(_ != '#')).distinct
      assert(groups.size == 1, s"${f.getClass.getSimpleName}: $groups")
      groups.head
    }
    assert(families.distinct.size == families.size, families)
    assert(families.sorted == Bench.childGroups(SparkEntry.queries.keySet.toSeq)
      .map(_._1.takeWhile(_ != '#')).distinct.sorted)
  }
}
