package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the text of the Stress harness's generated corpora. No oracle
  * checks them, so a change to the generator they share with
  * `fixtures.ZipfCorpus.zipfDocs` must show up here: row count and
  * `bit_xor(xxhash64(doc_id, text))` per corpus.
  */
class StressCorpusSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def fingerprint(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), bit_xor(xxhash64(col("doc_id"), col("text"))))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  test("zipfCorpus at 1 and 2 copies and zipfTwinCorpus keep their text") {
    val got = Seq(
      fingerprint(Stress.zipfCorpus(spark, 1)),
      fingerprint(Stress.zipfCorpus(spark, 2)),
      fingerprint(Stress.zipfTwinCorpus(spark, 1)))
    assert(got == Seq((5000L, -392330535407903053L),
      (10000L, 2504735615384989268L), (5000L, 8874389237715568950L)), got)
  }
}
