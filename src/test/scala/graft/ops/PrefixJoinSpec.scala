package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession

/** Exact prefix-filter similarity join (`Dedup.prefixFilterNearDups`)
  * over distinct 3-shingle sets: completeness and exactness against a
  * brute-force all-pairs shingle Jaccard over a corpus built to stress
  * the filters — identical pairs, boundary-value pairs, just-under-
  * threshold pairs, and docs too short to shingle.
  */
class PrefixJoinSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def shingles(t: String): Set[String] = {
    val w = t.trim.split("\\s+").toSeq
    if (w.size < 3) Set.empty
    else w.sliding(3).map(_.mkString(" ")).toSet
  }

  private def bruteForce(corpus: Seq[(Long, String)], t: Double) =
    (for {
      (ia, ta) <- corpus; (ib, tb) <- corpus if ia < ib
      sa = shingles(ta); sb = shingles(tb)
      if sa.nonEmpty && sb.nonEmpty
      j = (sa & sb).size.toDouble / (sa | sb).size.toDouble if j >= t
    } yield (ia, ib, j)).toSet

  test("matches brute-force all-pairs 3-shingle Jaccard >= 3/5 exactly " +
      "— no false negatives (completeness), no false positives") {
    // 40 base docs of 6 tokens sliding over a shared vocabulary
    // (adjacent docs share 3 of 5 shingles = exactly the 3/5 boundary;
    // i and i+20 are identical), plus 10 near-dups replacing the last
    // token (3 of 5 shingles shared)
    val base = (0 until 40).map { i =>
      (i.toLong, (0 until 6).map(j => s"w${(i % 20) + j}").mkString(" "))
    }
    val nearDups = (0 until 10).map { i =>
      (100L + i, ((0 until 5).map(j => s"w${(i % 20) + j}") :+ s"z$i")
        .mkString(" "))
    }
    val corpus = base ++ nearDups
    val want = bruteForce(corpus, 0.6)
    assert(want.exists(_._3 == 1.0) && want.exists(_._3 == 0.6),
      "fixture must contain identical AND boundary pairs")
    val got = Dedup.prefixFilterNearDups(
        corpus.toDF("doc_id", "text"), "doc_id", col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(got == want)
  }

  test("threshold is rational-exact at the boundary: J = 3/5 kept, " +
      "J = 1/2 dropped; sub-3-token docs never pair") {
    val docs = Seq(
      (1L, "w x y z p q"), (2L, "w x y z p r"), // shingles 3/5 — keep
      (3L, "m n o p q"), (4L, "m n o p r"),     // shingles 2/4 — drop
      (5L, "a b")                               // no shingles — ignored
    ).toDF("doc_id", "text")
    val got = Dedup.prefixFilterNearDups(docs, "doc_id", col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, 2L, 0.6)))
  }

  test("recallAudit == the uncached two-pipeline composition (shared " +
      "shingle relation changes the wall, not the rows), and every " +
      "exact pair carries a boolean flag") {
    val corpus = ((0 until 40).map { i =>
      (i.toLong, (0 until 6).map(j => s"w${(i % 20) + j}").mkString(" "))
    }) ++ ((0 until 10).map { i =>
      (100L + i, ((0 until 5).map(j => s"w${(i % 20) + j}") :+ s"z$i")
        .mkString(" "))
    })
    val docs = corpus.toDF("doc_id", "text")
    val audit = Dedup.recallAudit(docs, "doc_id", col("text"),
      lshThreshold = 0.6)
    try {
      val got = audit.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getBoolean(3))).toSet
      // reference composition: independent (unshared) pipelines
      val exact = Dedup.prefixFilterNearDups(docs, "doc_id", col("text"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      val mh = Dedup.minhashNearDups(docs, "doc_id", col("text"),
        threshold = 0.6)
      val mhPairs =
        try mh.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        finally mh.unpersist()
      val want = exact.map { case (a, b, j) =>
        (a, b, j, mhPairs.contains((a, b))) }
      assert(got == want)
      assert(got.map(t => (t._1, t._2, t._3)) == exact,
        "audit rows must be exactly the exact-join pairs")
    } finally { audit.unpersist(); () }
  }

  test("recallAudit just above lshThreshold = 3/5 runs the full verify " +
      "and equals the two-pipeline composition on pairs exactly at J = 3/5") {
    val corpus = ((0 until 40).map { i =>
      (i.toLong, (0 until 6).map(j => s"w${(i % 20) + j}").mkString(" "))
    }) ++ ((0 until 10).map { i =>
      (100L + i, ((0 until 5).map(j => s"w${(i % 20) + j}") :+ s"z$i")
        .mkString(" "))
    })
    val docs = corpus.toDF("doc_id", "text")
    val lsh = Math.nextUp(0.6)
    val audit = Dedup.recallAudit(docs, "doc_id", col("text"), lshThreshold = lsh)
    try {
      val got = audit.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getBoolean(3))).toSet
      val exact = Dedup.prefixFilterNearDups(docs, "doc_id", col("text"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(exact.exists(_._3 == 0.6), "fixture must hold pairs at J = 3/5")
      val mh = Dedup.minhashNearDups(docs, "doc_id", col("text"), threshold = lsh)
      val mhPairs =
        try mh.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        finally mh.unpersist()
      assert(got == exact.map { case (a, b, j) => (a, b, j, mhPairs.contains((a, b))) })
      // the verify's own threshold now excludes J = 3/5, so those exact
      // pairs are never found by minhash
      assert(got.filter(_._3 == 0.6).forall(!_._4))
    } finally { audit.unpersist(); () }
  }

  test("candidate-volume observation: candidate_pairs rides the plan, " +
      "counts pre-distinct prefix collisions, and bounds the output") {
    val docs = Seq(
      (1L, "w x y z p q"), (2L, "w x y z p r"),
      (3L, "m n o p q"), (4L, "m n o p r"), (5L, "a b")
    ).toDF("doc_id", "text")
    val obs = org.apache.spark.sql.Observation("prefix_cand_spec")
    val got = Dedup.prefixFilterNearDups(docs, "doc_id", col("text"),
      candObs = Some(obs)).collect()
    val cands = obs.get("candidate_pairs").asInstanceOf[Long]
    // raw collisions ≥ distinct pairs ≥ accepted pairs; and the fixture
    // has exactly one accepted pair, whose docs share 3 prefix shingles
    assert(got.length == 1)
    assert(cands >= got.length, s"observed $cands < ${got.length}")
    assert(cands > 0)
  }

  test("custom threshold 1/2 widens the accepted set consistently " +
      "with brute force") {
    val corpus = Seq((1L, "w x y z p q"), (2L, "w x y z p r"),
      (3L, "m n o p q"), (4L, "m n o p r"), (5L, "u v w w u v"))
    val want = bruteForce(corpus, 0.5).map(p => (p._1, p._2))
    assert(want.contains((3L, 4L)), "the 1/2 pair must now qualify")
    val got = Dedup.prefixFilterNearDups(corpus.toDF("doc_id", "text"),
        "doc_id", col("text"), tNum = 1, tDen = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
  }
}
