package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SPARK_GRAFT_BYPASS_MERGE` validation: a bad value fails with a message
  * that names the variable, before any session is built. And the shared
  * test session carries graft's static and runtime tuning: the bypass
  * floor is a static conf, so a session built without it would hold for
  * every later suite in the same JVM.
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

  test("the shared test session carries graft's static and runtime tuning") {
    val spark = SparkTestSession.spark
    assert(spark.sparkContext.getConf.get("spark.shuffle.sort.bypassMergeThreshold") ==
      GraftSession.BypassMergeThreshold)
    assert(spark.conf.get("spark.sql.codegen.maxFields") == "1024")
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }
}
