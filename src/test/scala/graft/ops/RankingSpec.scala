package graft.ops

import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** BM25 ranked retrieval: value check against an independently computed
  * fixture, determinism of the top-k tie-break, and the plan shape the
  * scaladoc promises (no explode, one shuffle for the single-row stats
  * aggregate, broadcast join back, TakeOrdered top-k).
  */
class RankingSpec extends AnyFunSuite {

  private lazy val spark = graft.SparkTestSession.spark

  test("bm25Scores matches an independently computed fixture") {
    import spark.implicits._
    val docs = Seq((1L, "a a b c"), (2L, "b b b d"), (3L, "c d e"))
      .toDF("doc_id", "text")
    val got = Ranking.bm25Scores(docs, Seq("a", "b"))
      .select("doc_id", "dl", "tf_a", "tf_b", "bm25_micro")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // expected micro scores computed out-of-band with the textbook
    // formula (k1=1.2, b=0.75, idf=ln((N-df+.5)/(df+.5)+1))
    assert(got(1L) == ((4L, 2L, 1L, 1768169L)), s"doc 1: ${got(1L)}")
    assert(got(2L) == ((4L, 0L, 3L, 724464L)), s"doc 2: ${got(2L)}")
    assert(got(3L) == ((3L, 0L, 0L, 0L)), s"doc 3: ${got(3L)}")
  }

  test("bm25TopK is deterministic under ties and ranks by score") {
    import spark.implicits._
    // docs 10 and 11 are identical → equal scores; id breaks the tie
    val docs = Seq((10L, "x y"), (11L, "x y"), (12L, "x x y"), (13L, "z"))
      .toDF("doc_id", "text")
    val top = Ranking.bm25TopK(docs, Seq("x"), k = 3)
      .select("doc_id").as[Long].collect().toSeq
    assert(top.head == 12L, s"highest-tf doc first: $top")
    assert(top.tail == Seq(10L, 11L), s"tie broken by id: $top")
  }

  test("hybridRrfTopK fuses rank lists; both-modality docs dominate; " +
      "query id excluded") {
    import spark.implicits._
    // docs 1..6; query doc 0. Text relevance favors 1,2,3 (term hits);
    // vectors put 2 and 4 nearest to doc 0 — doc 2 is strong in BOTH.
    val docs = Seq(
      (0L, "spark spark query"), (1L, "spark spark spark engine"),
      (2L, "spark engine fast"), (3L, "spark code"),
      (4L, "unrelated words here"), (5L, "more unrelated text"),
      (6L, "nothing matching at all")).toDF("doc_id", "text")
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)), (2L, Seq(0.9f, 0.1f)),
      (3L, Seq(-1.0f, 0.0f)), (4L, Seq(1.0f, 0.1f)), (5L, Seq(0.0f, -1.0f)),
      (6L, Seq(-0.5f, -0.5f))).toDF("vec_id", "embedding")
    val out = Ranking.hybridRrfTopK(docs, emb, Seq("spark"), queryId = 0L,
        k = 6, n = 4)
      .select("doc_id", "text_rank", "vec_rank", "rrf_micro")
      .as[(Long, Option[Long], Option[Long], Long)].collect().toSeq
    assert(!out.exists(_._1 == 0L), "query doc never in the result")
    val byId = out.map(r => r._1 -> r).toMap
    // doc 2 is present in both lists, and the winner is always a
    // both-modality doc (two reciprocals beat any single one at n=4)
    assert(byId(2L)._2.nonEmpty && byId(2L)._3.nonEmpty)
    assert(out.head._2.nonEmpty && out.head._3.nonEmpty,
      s"a both-modality doc must rank first: $out")
    // and every both-modality doc outranks every single-modality doc
    val (both, single) = out.partition(r => r._2.nonEmpty && r._3.nonEmpty)
    assert(both.map(_._4).min > single.map(_._4).max, s"$out")
    // fused score is exactly the sum of the micro-reciprocals
    out.foreach { case (_, tr, vr, s) =>
      def r(o: Option[Long]) = o.map(x => math.round(1e6 / (60 + x))).getOrElse(0L)
      assert(s == r(tr) + r(vr))
    }
    intercept[IllegalArgumentException] {
      Ranking.hybridRrfTopK(docs, emb, Seq("spark"), 0L, k = 9, n = 4)
    }
  }

  test("plan: no explode, one stats shuffle, broadcast join, TakeOrdered") {
    import spark.implicits._
    val docs = Seq.tabulate(100)(i => (i.toLong, s"a b c d$i")).toDF("doc_id", "text")
    val plan = Ranking.bm25TopK(docs, Seq("a", "d7"), k = 5)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!plan.contains("Generate"), s"token explode crept in:\n$plan")
    val shuffles = "Exchange hashpartitioning|Exchange SinglePartition".r
      .findAllIn(plan).length
    assert(shuffles <= 1, s"want at most the stats shuffle, got $shuffles:\n$plan")
    assert(plan.contains("Broadcast"), s"stats join must broadcast:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must not global-sort:\n$plan")
  }

  test("pageRankInt matches a hand-computed 3-round fixpoint; duplicate " +
      "edges collapse; partition-invariant") {
    import spark.implicits._
    // cycle 1→2→3→1 plus feeder 4→1; node 4 has no in-edges → base only.
    // Hand-rolled with scale 1e6, damp 85/100 (base 150000):
    //   r1 = (1850000, 1000000, 1000000, 150000)
    //   r2 = (1127500, 1722500, 1000000, 150000)
    //   r3 = (1127500, 1108375, 1614125, 150000)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L), (1L, 2L))
      .toDF("src", "dst") // (1,2) duplicated on purpose
    val expected =
      Map(1L -> 1127500L, 2L -> 1108375L, 3L -> 1614125L, 4L -> 150000L)
    val got = Ranking.pageRankInt(edges, iters = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
    val repart = Ranking.pageRankInt(edges.repartition(7), iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(repart == expected)
    intercept[IllegalArgumentException] {
      Ranking.pageRankInt(edges, iters = 0)
    }
    intercept[IllegalArgumentException] {
      Ranking.pageRankInt(edges, iters = 1, scale = 999999L) // 999999 % 100 != 0
    }
  }
}
