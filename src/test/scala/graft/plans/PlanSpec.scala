package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import graft.SparkTestSession
import graft.can.{CandumpParser, ForwardFill}
import graft.ops.{Dedup, Similarity, TextAnalysis}

/** Plan-shape regression suite: the physical-plan properties the 100 TB
  * design depends on, which otherwise live only in operator scaladocs — a
  * Spark upgrade, AQE change, or refactor could silently regress them
  * while every VALUE-level test stays green.
  *
  * Every property is asserted in BOTH execution modes: AQE off (the
  * deterministic canonical shape Catalyst emits) and AQE on — the mode
  * bench and production actually run, where runtime re-planning could in
  * principle rewrite exactly the invariants guarded here (exchange count,
  * join strategy, reuse). The AQE variant executes the query and asserts
  * on the FINAL adaptive plan (`isFinalPlan=true`), not the speculative
  * initial one.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Physical plan string with AQE disabled for a canonical shape. */
  private def plan(mk: => DataFrame): String = {
    val key = "spark.sql.adaptive.enabled"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try mk.queryExecution.executedPlan.toString
    finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** FINAL adaptive plan string: AQE forced on, query executed so every
    * query stage has materialized and re-planning has run its course.
    */
  private def aqeFinalPlan(mk: => DataFrame): String = {
    val key = "spark.sql.adaptive.enabled"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try {
      val df = mk
      df.collect() // materialize: finalizes AdaptiveSparkPlanExec
      val p = df.queryExecution.executedPlan.toString
      // plans with no exchange/subquery are not wrapped by AQE at all —
      // itself a statement that there is nothing adaptive to re-plan
      assert(!p.contains("AdaptiveSparkPlan") || p.contains("isFinalPlan=true"),
        s"expected a finalized adaptive plan:\n$p")
      p
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private lazy val docs = (0L until 40L)
    .map(i => (i, s"w${i % 5} w${(i + 1) % 5} w${(i + 2) % 5} common body tokens here"))
    .toDF("doc_id", "text")

  test("decode path: dispatch compiles to expressions — no join, no shuffle, " +
      "known-id filter pushed to the parquet scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_plan_frames").toString
    Seq((0.0, 256L, "0102030405060708"), (1.0, 512L, "00000000000000F0"),
        (2.0, 999L, "0000000000000000"))
      .toDF("ts_ms", "can_id", "data")
      .withColumn("data", unhex($"data"))
      .write.mode("overwrite").parquet(dir)
    val net = graft.dbc.DbcParser.parseFile("fixtures/mini.dbc")
    val p = plan(graft.can.SignalDecoder.wideFrame(net, spark.read.parquet(dir)))
    // P2 dispatch is when(can_id === id) per signal, not a dimension join:
    // the whole decode is one narrow map stage at any scale
    assert(!p.contains("Exchange"), s"decode plan must not shuffle:\n$p")
    assert(!p.contains("Join"), s"decode plan must not join:\n$p")
    // F1 unknown-id filter reaches the scan (partition/row-group pruning)
    assert(p.contains("PushedFilters: [In(can_id"), s"missing pushdown:\n$p")
  }

  test("scan pruning: a 2-column projection reads a 2-column schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft_plan_prune").toString
    docs.withColumn("extra1", lit("x")).withColumn("extra2", lit(7L))
      .write.mode("overwrite").parquet(dir)
    val p = plan(spark.read.parquet(dir)
      .filter($"doc_id" > 5).select($"doc_id", length($"text").as("len")))
    assert(p.contains("PushedFilters: [IsNotNull(doc_id), GreaterThan(doc_id,5)"),
      s"missing filter pushdown:\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text") &&
      !readSchema.contains("extra1") && !readSchema.contains("extra2"),
      s"scan must prune unused columns:\n$readSchema")
  }

  test("bandedCandidates: the (band,bkey) exchange is computed once and " +
      "reused between the rank window and the self-join") {
    val sh = Dedup.shingleHashes(docs, "doc_id", col("text"))
    val p = plan(Dedup.candidatePairsFromShingles(sh, "doc_id"))
    assert(p.contains("ReusedExchange"),
      s"band window and candidate self-join must share one shuffle:\n$p")
  }

  test("minhash signature aggregation combines map-side (partial_min before " +
      "the exchange)") {
    val sh = Dedup.shingleHashes(docs, "doc_id", col("text"))
    val p = plan(Dedup.minhashAgg(sh, "doc_id"))
    val partialLine = p.linesIterator.find(_.contains("partial_min")).getOrElse("")
    assert(partialLine.nonEmpty,
      s"signature agg must have a partial (map-side) phase:\n$p")
  }

  test("per-document text analysis is a pure projection — zero exchanges") {
    val p = plan(docs.select(col("doc_id"),
      TextAnalysis.qualityScore(col("text")).as("quality"),
      TextAnalysis.langId(col("text")).as("lang_pred"),
      TextAnalysis.fingerprint(col("text")).as("fp")))
    assert(!p.contains("Exchange"), s"per-doc analysis must not shuffle:\n$p")
  }

  test("centroid assignment is a pure projection — zero exchanges, no window") {
    val emb = (0L until 50L)
      .map(i => (i, Array.tabulate(8)(d => ((i + d) % 7).toFloat)))
      .toDF("vec_id", "embedding")
    val q = emb.select(col("vec_id"),
      Similarity.quantize(col("embedding")).as("qv"))
    val cb = (0L until 4L).map(i => (i, Seq.tabulate(8)(d => (i * 100 + d))))
    val p = plan(Similarity.assignToCentroidsLit(q, cb))
    assert(!p.contains("Exchange") && !p.contains("Window"),
      s"map-side argmax assignment must not shuffle or rank:\n$p")
    // semantic dedup on top: the only joins are equi-joins (cent_id /
    // anti on vec_id) — never a nested-loop pair expansion over the corpus
    val sd = plan(Similarity.semanticDedup(emb, threshold = 0.5,
      centroids = 4, iters = 1))
    assert(!sd.contains("CartesianProduct") && !sd.contains("BroadcastNestedLoopJoin"),
      s"semantic dedup must pair only within cent_id equi-join cells:\n$sd")
  }

  test("pii scrub is a pure projection — zero exchanges") {
    val p = plan(docs.select(col("doc_id"),
      TextAnalysis.piiRedact(col("text")).as("red")))
    assert(!p.contains("Exchange"), s"pii redaction must not shuffle:\n$p")
  }

  test("dup-ngram fraction reuses the shingle exchange — one scan, one shuffle") {
    val sh = Dedup.shingleHashes(docs, "doc_id", col("text"), n = 5)
    val dfr = sh.groupBy("sh").agg(countDistinct(col("doc_id")).as("df"))
    val p = plan(sh.join(dfr, "sh").groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") > 1, 1L).otherwise(0L)).as("n_dup")))
    assert(p.contains("ReusedExchange"),
      s"the (sh) exchange must be computed once and reused:\n$p")
  }

  test("chunker and z-value are map-only — zero exchanges, codegen") {
    val c = plan(graft.ops.Chunker.chunk(docs, "doc_id", "text", 3, 2))
    assert(!c.contains("Exchange"), s"chunking must not shuffle:\n$c")
    assert(c.contains("Generate"), s"chunking explodes in-task:\n$c")
    // range-backed input: a local relation would constant-fold the
    // projection away and leave no codegen span to assert on
    val z = plan(spark.range(100).select(col("id"),
      graft.ops.ZOrder.zValue(col("id") % 64, col("id") % 17, 10).as("z")))
    assert(!z.contains("Exchange"), s"z-value must not shuffle:\n$z")
    // `*(n)` prefix = operator inside a whole-stage-codegen span
    assert(z.contains("*(1) Project"), s"z-value stays codegen:\n$z")
  }

  test("ANN scans broadcast the query side — never a cartesian product") {
    val emb = (0L until 50L)
      .map(i => (i, Array.tabulate(8)(d => ((i + d) % 7).toFloat)))
      .toDF("vec_id", "embedding")
    val brute = plan(Similarity.bruteForceTopK(emb, 0L, 5))
    assert(brute.contains("BroadcastNestedLoopJoin"),
      s"brute-force top-k must broadcast the 1-row query:\n$brute")
    assert(!brute.contains("CartesianProduct"), s"no cartesian:\n$brute")
    // the bucket filter is an equi-condition, so Catalyst plans the
    // broadcast as a HASH join here — still broadcast, never cartesian
    val lsh = plan(Similarity.lshTopK(emb, 0L, 5))
    assert(lsh.contains("BroadcastHashJoin") || lsh.contains("BroadcastNestedLoopJoin"),
      s"LSH top-k must broadcast the 1-row query:\n$lsh")
    assert(!lsh.contains("CartesianProduct"), s"no cartesian:\n$lsh")
    // multi-probe: hamming filter is NOT an equi-condition, so this one is
    // the nested-loop broadcast — still broadcast, never cartesian
    val mp = plan(Similarity.lshMultiProbeTopK(emb, 0L, 5))
    assert(mp.contains("BroadcastHashJoin") || mp.contains("BroadcastNestedLoopJoin"),
      s"multi-probe LSH must broadcast the 1-row query:\n$mp")
    assert(!mp.contains("CartesianProduct"), s"no cartesian:\n$mp")
  }

  test("containment: eval relations broadcast under the guard, the train " +
      "side never sort-merges; over the guard the join degrades to a " +
      "shuffle, never a cartesian (AQE off+on)") {
    val eval = Dedup.prepareEvalShingles(docs.filter($"doc_id" < 4),
      "doc_id", col("text"))
    try {
      def mk(maxBc: Long) = Dedup.containmentPlan(
        docs.filter($"doc_id" >= 4), "doc_id", col("text"), eval,
        500000L, 3, maxBc)
      // auto-broadcast OFF isolates the operator's own hint: at test
      // sizes Catalyst would broadcast the tiny eval relations anyway
      // and mask whether the guard actually controls the strategy
      val abt = "spark.sql.autoBroadcastJoinThreshold"
      val before = spark.conf.get(abt)
      spark.conf.set(abt, "-1")
      try {
        for (p <- Seq(plan(mk(1000000L)), aqeFinalPlan(mk(1000000L)))) {
          assert(p.contains("BroadcastHashJoin"),
            s"under the guard the eval hint must force a broadcast:\n$p")
          assert(!p.contains("SortMergeJoin"),
            s"train side must not sort-merge against eval-sized relations:\n$p")
          assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
        }
        for (p <- Seq(plan(mk(0L)), aqeFinalPlan(mk(0L)))) {
          assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
            s"over the guard the eval join must degrade to a shuffle join:\n$p")
          assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
        }
      } finally spark.conf.set(abt, before)
    } finally eval.unpersist()
  }

  test("tokenizer APPLY paths are pure projections — zero exchanges " +
      "(AQE off+on)") {
    // WordPiece apply = Bpe.segment under the likelihood-trained table
    val merges = Seq(graft.ops.Bpe.Merge(1, "w", "1", 4L),
      graft.ops.Bpe.Merge(2, "w1", "w2", 2L))
    def wp = docs.select(col("doc_id"),
      graft.ops.Bpe.segment(col("text"), merges).as("seg"))
    // unigram apply = one aggregate-HOF Viterbi DP per row
    val probs = Map("w" -> 300000L, "w1" -> 300000L, "1" -> 200000L,
      "2" -> 100000L, "c" -> 50000L, "o" -> 25000L, "m" -> 25000L)
    def ulm = docs.select(col("doc_id"),
      graft.ops.UnigramLm.viterbiPath(
        regexp_replace(col("text"), "[^a-z0-9]", ""), probs,
        unkMicro = Some(1L)).as("path"))
    for ((nm, p) <- Seq("wordpiece" -> plan(wp), "wordpiece-aqe" -> aqeFinalPlan(wp),
        "unigram" -> plan(ulm), "unigram-aqe" -> aqeFinalPlan(ulm))) {
      assert(!p.contains("Exchange"), s"$nm apply must not shuffle:\n$p")
      assert(!p.contains("Join"), s"$nm apply must not join:\n$p")
    }
  }

  // ------------------------------------------------------------------
  // The same six invariants under AQE — the mode bench and production
  // run. Assertions run against the finalized adaptive plan.
  // ------------------------------------------------------------------

  test("AQE-on: decode stays join-free/shuffle-free with pushdown intact") {
    val dir = java.nio.file.Files.createTempDirectory("graft_aqe_frames").toString
    Seq((0.0, 256L, "0102030405060708"), (1.0, 512L, "00000000000000F0"),
        (2.0, 999L, "0000000000000000"))
      .toDF("ts_ms", "can_id", "data")
      .withColumn("data", unhex($"data"))
      .write.mode("overwrite").parquet(dir)
    val net = graft.dbc.DbcParser.parseFile("fixtures/mini.dbc")
    val p = aqeFinalPlan(graft.can.SignalDecoder.wideFrame(net, spark.read.parquet(dir)))
    assert(!p.contains("Exchange"), s"decode plan must not shuffle:\n$p")
    assert(!p.contains("Join"), s"decode plan must not join:\n$p")
    assert(p.contains("PushedFilters: [In(can_id"), s"missing pushdown:\n$p")
  }

  test("AQE-on: scan pruning holds in the final adaptive plan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_aqe_prune").toString
    docs.withColumn("extra1", lit("x")).withColumn("extra2", lit(7L))
      .write.mode("overwrite").parquet(dir)
    val p = aqeFinalPlan(spark.read.parquet(dir)
      .filter($"doc_id" > 5).select($"doc_id", length($"text").as("len")))
    assert(p.contains("PushedFilters: [IsNotNull(doc_id), GreaterThan(doc_id,5)"),
      s"missing filter pushdown:\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text") &&
      !readSchema.contains("extra1") && !readSchema.contains("extra2"),
      s"scan must prune unused columns:\n$readSchema")
  }

  test("AQE-on: bandedCandidates still reuses the (band,bkey) exchange") {
    val sh = Dedup.shingleHashes(docs, "doc_id", col("text"))
    val p = aqeFinalPlan(Dedup.candidatePairsFromShingles(sh, "doc_id"))
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"),
      s"band window and candidate self-join must share one shuffle:\n$p")
  }

  test("AQE-on: minhash aggregation keeps its map-side partial phase") {
    val sh = Dedup.shingleHashes(docs, "doc_id", col("text"))
    val p = aqeFinalPlan(Dedup.minhashAgg(sh, "doc_id"))
    assert(p.linesIterator.exists(_.contains("partial_min")),
      s"signature agg must have a partial (map-side) phase:\n$p")
  }

  test("AQE-on: per-document text analysis stays exchange-free") {
    val p = aqeFinalPlan(docs.select(col("doc_id"),
      TextAnalysis.qualityScore(col("text")).as("quality"),
      TextAnalysis.langId(col("text")).as("lang_pred"),
      TextAnalysis.fingerprint(col("text")).as("fp")))
    assert(!p.contains("Exchange"), s"per-doc analysis must not shuffle:\n$p")
  }

  test("AQE-on: frame-level tumbling keeps hash aggregation end-to-end") {
    // Bucketer.tumblingFromFrames' plan shape is width-independent: the
    // full-volume (bucket, can_id, mux) aggregate and the winner
    // reassembly must BOTH stay HashAggregateExec (the arg-extremum's
    // primitive buffers) in the finalized adaptive plan — no
    // SortAggregate (struct fallback) and no ObjectHashAggregate
    val net = graft.dbc.DbcParser.parseString(
      """BO_ 256 A: 8 E
        | SG_ X : 0|16@1+ (0.5,0) [0|0] "" T
        | SG_ Y : 16|8@1- (1,0) [0|0] "" T
        |BO_ 512 B: 8 E
        | SG_ Z : 0|32@1+ (1,0) [0|0] "" T
        |""".stripMargin)
    val frames = spark.range(500).select(
      (col("id") * 3.0).as("ts_ms"),
      when(col("id") % 2 === 0, 256L).otherwise(512L).as("can_id"),
      unhex(lpad(hex(col("id") * 99991L), 16, "0")).as("data"))
    val p = aqeFinalPlan(graft.can.Bucketer.tumblingFromFrames(net, frames, 30.0))
    assert(p.contains("HashAggregate"), s"expected hash aggregation:\n$p")
    assert(!p.contains("SortAggregate") && !p.contains("ObjectHashAggregate"),
      s"frame-level tumbling fell out of hash aggregation:\n$p")
  }

  test("zipfDocs generation is one fan-out plus projection; the zipf " +
      "prefix join never goes cartesian") {
    // the derived Zipf corpus (r19 qz_* gates) must add no relational
    // cost beyond the md5-synthesis projection — no joins, no
    // aggregations. r21: the synthesis is fanned out over the cluster by
    // ONE round-robin exchange of the narrow seed columns (the bench
    // parquet is a single split, so a purely map-only derivation ran the
    // whole per-token md5 workload on one task); the heavy derived text
    // still never shuffles. The prefix join over it keeps the equi-join
    // shape (its no-false-negative rarity bound is only a win if the
    // join stays keyed).
    val dir = java.nio.file.Files.createTempDirectory("plan_zipf").toString
    (0L until 40L).map(i => (i, "x")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val gen = plan(graft.fixtures.ZipfCorpus.zipfDocs(spark, dir))
    assert(!gen.contains("Join") && !gen.contains("Aggregate"),
      s"generation must stay join/agg-free:\n$gen")
    // r22: the fanned narrow seed is materialized by localCheckpoint (a
    // hard pushdown barrier — consumers' text filters were being pushed
    // below the round-robin exchange and re-synthesized the md5 text on
    // the single scan task), so the returned plan is the synthesis
    // projection over the checkpointed seed RDD: still exchange-free
    // ABOVE the barrier, with no relational operators anywhere.
    assert(!gen.contains("Exchange"),
      s"synthesis above the seed barrier must not shuffle the text:\n$gen")
    assert(gen.contains("ExistingRDD") || gen.contains("LogicalRDD") ||
      gen.contains("Scan ExistingRDD"),
      s"generation must read the materialized seed barrier:\n$gen")
    val pj = plan(Dedup.prefixFilterNearDups(
      graft.fixtures.ZipfCorpus.zipfDocs(spark, dir), "doc_id", col("text")))
    assert(!pj.contains("CartesianProduct") &&
      !pj.contains("BroadcastNestedLoopJoin"),
      s"zipf prefix join must stay an equi-join:\n$pj")
  }

  test("AQE-on: ANN scans still broadcast, never cartesian") {
    val emb = (0L until 50L)
      .map(i => (i, Array.tabulate(8)(d => ((i + d) % 7).toFloat)))
      .toDF("vec_id", "embedding")
    val brute = aqeFinalPlan(Similarity.bruteForceTopK(emb, 0L, 5))
    assert(brute.contains("BroadcastNestedLoopJoin"),
      s"brute-force top-k must broadcast the 1-row query:\n$brute")
    assert(!brute.contains("CartesianProduct"), s"no cartesian:\n$brute")
    val lsh = aqeFinalPlan(Similarity.lshTopK(emb, 0L, 5))
    assert(lsh.contains("BroadcastHashJoin") || lsh.contains("BroadcastNestedLoopJoin"),
      s"LSH top-k must broadcast the 1-row query:\n$lsh")
    assert(!lsh.contains("CartesianProduct"), s"no cartesian:\n$lsh")
    val mp = aqeFinalPlan(Similarity.lshMultiProbeTopK(emb, 0L, 5))
    assert(mp.contains("BroadcastHashJoin") || mp.contains("BroadcastNestedLoopJoin"),
      s"multi-probe LSH must broadcast the 1-row query:\n$mp")
    assert(!mp.contains("CartesianProduct"), s"no cartesian:\n$mp")
  }

  test("bucketed co-located join: zero exchange on either side (AQE off+on)") {
    import graft.ops.BucketedLayout
    val base = java.nio.file.Files.createTempDirectory("graft_bkt").toString
    val o = (0L until 200L).map(i => (i, s"P${i % 5}")).toDF("o_key", "prio")
    val li = (0L until 1000L).map(i => (i % 200L, i * 10L)).toDF("l_key", "amount")
    val bo = BucketedLayout.ensure(spark, "plan_bkt_o", s"$base/o", "o_key", 4)(o)
    val bli = BucketedLayout.ensure(spark, "plan_bkt_li", s"$base/li", "l_key", 4)(li)
    // the join itself (agg keys differ from the join key and would add
    // their own — legitimate — exchange, so assert on the join alone)
    def joined = bo.join(bli, $"o_key" === $"l_key").select($"prio", $"amount")
    val bcKey = "spark.sql.autoBroadcastJoinThreshold"
    val savedBc = spark.conf.get(bcKey)
    spark.conf.set(bcKey, "-1") // pin SMJ: broadcast would mask the layout
    try {
      val p0 = plan(joined)
      assert(p0.contains("SortMergeJoin"), s"expected a sort-merge join:\n$p0")
      assert(!p0.contains("Exchange"),
        s"co-located bucketed join must not shuffle either side:\n$p0")
      val pAqe = aqeFinalPlan(joined)
      assert(!pAqe.contains("Exchange"),
        s"AQE must not reintroduce an exchange:\n$pAqe")
      // layout-invariance: same rows as the plain (shuffled) join
      val got = joined.orderBy("prio", "amount").collect().toSeq
      val want = o.join(li, $"o_key" === $"l_key").select($"prio", $"amount")
        .orderBy("prio", "amount").collect().toSeq
      assert(got == want, "bucketed join diverges from plain join")
      // reusing the table NAME with a different spec must fail loudly —
      // a silently-returned wrong layout would still plan "no exchange",
      // just on the wrong partitioning
      val e = intercept[IllegalArgumentException] {
        BucketedLayout.ensure(spark, "plan_bkt_o", s"$base/o2", "o_key", 8)(o)
      }
      assert(e.getMessage.contains("different spec"))
    } finally {
      spark.conf.set(bcKey, savedBc)
      spark.sql("DROP TABLE IF EXISTS plan_bkt_o")
      spark.sql("DROP TABLE IF EXISTS plan_bkt_li")
    }
  }

  test("ArrayDotProduct: byte arrays (the compressed-code scan) and mixed " +
      "byte x long, codegen and interpreted agree") {
    val df = spark.range(2).select(
      typedLit(Seq[Byte](1, -2, 3)).as("b"),
      typedLit(Seq(10L, 20L, 30L)).as("l"))
    val rows = df.select(
      graft.plans.ArrayDotProduct(col("b"), col("b")).as("bb"),
      graft.plans.ArrayDotProduct(col("b"), col("l")).as("bl"),
      graft.plans.ArrayDotProduct(col("l"), col("l")).as("ll"))
    rows.collect().foreach { r =>
      assert(r.getLong(0) == 1 + 4 + 9)
      assert(r.getLong(1) == 10 - 40 + 90)
      assert(r.getLong(2) == 100 + 400 + 900)
    }
    // interpreted path (eval) must match codegen: force it through a
    // literal-only projection evaluated without wholestage
    val saved = spark.conf.get("spark.sql.codegen.wholeStage")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try rows.collect().foreach { r =>
      assert(r.getLong(0) == 14 && r.getLong(1) == 60 && r.getLong(2) == 1400)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", saved)
  }

  test("PqEncode: a ragged (short) vector fails loudly instead of reading " +
      "past the array") {
    val cb = Array.tabulate(2, 2, 4)((s, c, j) => (s + c + j + 1).toLong)
    val cc2 = cb.map(_.map(v => v.map(x => x * x).sum))
    val short = spark.range(1)
      .select(typedLit(Seq(1L, 2L, 3L)).as("v")) // needs 2*4 = 8 elements
    val e = intercept[Exception] {
      short.select(graft.plans.PqEncode(col("v"), cb, cc2)).collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("PqEncode"),
      s"expected a loud PqEncode length error, got: ${e.getMessage}")
    // a correctly-sized vector encodes: member subvectors pick themselves
    val ok = spark.range(1)
      .select(typedLit((1L to 8L).toSeq).as("v"))
      .select(graft.plans.PqEncode(col("v"), cb, cc2).as("codes"))
      .collect().head.getSeq[Int](0)
    assert(ok.length == 2)
  }

  test("softWeights: component sizing and corpus labeling are equi-joins " +
      "only — no cartesian, no nested-loop") {
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    for (p <- Seq(plan(Dedup.softWeights(docs, "doc_id", pairs)),
        aqeFinalPlan(Dedup.softWeights(docs, "doc_id", pairs)))) {
      assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
        s"softWeights must stay equi-join shaped:\n$p")
    }
  }

  test("perplexityBuckets: the labeled output plan has NO window and no " +
      "join — cutoffs ride as literals after the prefix-combine") {
    // the histogram cutoffs are computed eagerly (two-pass prefix fold,
    // outside this plan); what ships per-row at 100 TB is the scoring
    // pipeline plus a map-only CASE — a global `sum() OVER (ORDER BY)`
    // reappearing here is exactly the scale regression this pins against
    val p = plan(TextAnalysis.perplexityBuckets(docs, "doc_id", col("text")))
    assert(!p.contains("Window"),
      s"bucket labeling must not contain a window:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"bucket labeling must not cross-join the cutoffs:\n$p")
  }

  test("cmsAudit: the register table rides a broadcast join and the " +
      "top-k is a TakeOrderedAndProject — never a global sort") {
    for (p <- Seq(plan(graft.ops.Sketches.cmsAudit(docs, col("text"))),
        aqeFinalPlan(graft.ops.Sketches.cmsAudit(docs, col("text"))))) {
      assert(p.contains("BroadcastHashJoin"),
        s"the depth×width register table must broadcast:\n$p")
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
        s"no shuffled or cross join on the register lookup:\n$p")
      assert(p.contains("TakeOrderedAndProject"),
        s"top-k must be a bounded take, not a global sort:\n$p")
    }
  }

  test("kmvDistinct: the k-min cut is the bounded aggregator with a " +
      "map-side partial phase — no per-group window, no global sort") {
    for (p <- Seq(plan(graft.ops.Sketches.kmvDistinct(docs, "doc_id",
          col("text"), k = 4)),
        aqeFinalPlan(graft.ops.Sketches.kmvDistinct(docs, "doc_id",
          col("text"), k = 4)))) {
      assert(!p.contains("Window"),
        s"k smallest hashes must not use a rank window:\n$p")
      assert(p.contains("ObjectHashAggregate") && p.contains("partial"),
        s"expected the bounded top-n aggregator combining map-side:\n$p")
    }
  }

  test("dutyCycle and lagCoMoment: windows are keyed (no single-" +
      "partition exchange); the lag join is an equi-join") {
    val ev = Seq((1L, 0L, 1L, "a"), (1L, 10L, 2L, "b"))
      .toDF("user_id", "tus", "event_id", "st")
    val pd = plan(graft.ops.Timeseries.dutyCycle(ev, "user_id",
      col("tus"), col("st"), "event_id"))
    assert(pd.contains("Window") && !pd.contains("Exchange SinglePartition"),
      s"dwell/entry windows must stay keyed by the series:\n$pd")
    val a = Seq((0L, 1L)).toDF("bucket", "v")
    val pl = plan(graft.ops.Timeseries.lagCoMoment(a, a, 2))
    assert(!pl.contains("CartesianProduct") && !pl.contains("NestedLoop"),
      s"the shifted-grid join must be an equi-join:\n$pl")
  }

  test("prefixFilterNearDups: the rank window is PER-DOCUMENT (no " +
      "single-partition exchange) and every join is an equi-join") {
    // pin the PUBLIC entry point (plan-only by deliberate design — see
    // the r18 measurement note in prefixFilterNearDups), so any future
    // repartition/persist/exchange added inside the wrapper itself
    // cannot slip past this gate
    def mk() = Dedup.prefixFilterNearDups(docs, "doc_id", col("text"))
    for (p <- Seq(plan(mk()), aqeFinalPlan(mk()))) {
      assert(!p.contains("Exchange SinglePartition"),
        s"no global vocabulary rank may appear — the rarity order is " +
          s"computed per document:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
        s"prefix candidates and verification must stay equi-joins:\n$p")
    }
  }

  test("resample lerp: both as-of passes are union+window folds — the " +
      "whole plan contains no join operator at all") {
    val samples = Seq((1L, 0L, 0L), (1L, 1000L, 10L), (2L, 0L, 5L),
      (2L, 1000L, 7L)).toDF("k", "t", "v")
    for (p <- Seq(plan(graft.ops.Resample.lerpGrid(samples, "k", "t", "v", 250L)),
        aqeFinalPlan(graft.ops.Resample.lerpGrid(samples, "k", "t", "v", 250L)))) {
      assert(!p.contains("Join"),
        s"as-of resample must be join-free (union+window):\n$p")
      assert(p.contains("Window"), s"expected the keyed as-of windows:\n$p")
    }
  }

  // ---- CAN --file path: scan splits, one parse per line, cache-free fill --

  /** A candump log of `n` lines (~35 B each) in a fresh temp directory. */
  private def canLog(n: Int): String = {
    val f = java.nio.file.Files.createTempDirectory("graft_plan_log").resolve("a.log")
    val w = java.nio.file.Files.newBufferedWriter(f)
    try (0 until n).foreach { i =>
      w.write(f"(1700000000.${i % 1000000}%06d) can0 ${100 + i % 5}%X#${i & 0xFFFF}%04X\n")
    } finally w.close()
    f.toString
  }

  test("readLog: a log under 16 MB is scanned in at least defaultParallelism " +
      "splits") {
    val log = canLog(60000) // ~2 MB: one file-source split at the 4 MB open cost
    assert(new java.io.File(log).length < 16L * 1024 * 1024)
    val parts = CandumpParser.readLog(spark, log).rdd.getNumPartitions
    assert(parts >= spark.sparkContext.defaultParallelism,
      s"$parts scan partitions for ${spark.sparkContext.defaultParallelism} cores")
  }

  test("readLog: no regex in the optimized plan, one candump_line per line " +
      "per branch") {
    val p = CandumpParser.readLog(spark, "fixtures/mini.log")
      .queryExecution.optimizedPlan.toString
    assert(!p.contains("regexp_extract") && !p.contains("RLIKE"), s"regex left:\n$p")
    // two branches (the frames and the t0 aggregate), each one scan and
    // one parse: a filter pushed below the parse would add a second
    val scans = "LogicalRDD".r.findAllMatchIn(p).size
    val parses = "candump_line\\(".r.findAllMatchIn(p).size
    assert(scans == 2 && parses == 2, s"$parses parses over $scans scans:\n$p")
  }

  test("ForwardFill.distributed leaves no cached relation or persisted RDD") {
    val df = (0 until 200).map(i => (i.toDouble,
      if (i % 7 == 0) Int.box(i) else null.asInstanceOf[java.lang.Integer]))
      .toDF("ts", "x")
    // ids, not a count: an earlier suite's persisted RDD may be cleaned
    // up (ContextCleaner, on GC) while this test runs
    val rdds = spark.sparkContext.getPersistentRDDs.keySet
    val filled = ForwardFill.distributed(df, "ts", numPartitions = 3)
    assert(filled.count() == 200)
    val p = filled.queryExecution.optimizedPlan.toString
    assert(!p.contains("InMemoryRelation"), s"cached relation in the result:\n$p")
    assert((spark.sparkContext.getPersistentRDDs.keySet -- rdds).isEmpty)
  }

  test("ForwardFill.distributed equals windowed for 1..8 partitions, nulls " +
      "straddling partition edges") {
    // unique order; values only every 37th/53rd row, so null runs cross
    // every range boundary at each partition count, and the leading rows
    // stay null until the first value
    val df = (0 until 300).map { i =>
      (i * 3L + 1, if (i % 37 == 5) Int.box(i) else null.asInstanceOf[java.lang.Integer],
        if (i % 53 == 40) Double.box(i / 2.0) else null.asInstanceOf[java.lang.Double])
    }.toDF("t", "a", "b").repartition(5)
    val want = ForwardFill.windowed(df, "t").orderBy("t").collect().toSeq
    (1 to 8).foreach { n =>
      val got = ForwardFill.distributed(df, "t", numPartitions = n)
        .orderBy("t").collect().toSeq
      assert(got == want, s"numPartitions = $n")
    }
  }

  /** Jobs and stages run, and executed plans of the SQL executions
    * reported, while `body` runs.
    */
  private case class JobShape(jobs: Int, stages: Int, plans: Seq[String])
  private def jobShape(body: => Unit): JobShape = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val plans = java.util.Collections.synchronizedList(new java.util.ArrayList[String])
    val stageListener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet(); ()
      }
    }
    val planListener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = { plans.add(qe.executedPlan.toString); () }
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    val sc = spark.sparkContext
    org.apache.spark.TestBus.drain(sc)
    sc.addSparkListener(stageListener)
    spark.listenerManager.register(planListener)
    try {
      body
      org.apache.spark.TestBus.drain(sc)
    } finally {
      sc.removeSparkListener(stageListener)
      spark.listenerManager.unregister(planListener)
    }
    JobShape(jobs.get, stages.get, plans.asScala.toSeq)
  }

  test("connectedComponents: one job per round, nothing persisted or locally " +
      "checkpointed, a tiny graph's labels in one partition") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L), (12L, 11L))
      .toDF("doc_a", "doc_b")
    // ids, not a count: an earlier suite's persisted RDD may be cleaned
    // up (ContextCleaner, on GC) while this test runs
    val rdds = spark.sparkContext.getPersistentRDDs.keySet
    var res: Dedup.CcResult = null
    var labels = Map.empty[Long, Long]
    val shape = jobShape {
      res = Dedup.connectedComponentsWithStats(pairs)
      labels = res.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
    // the rounds' changed counts, the collect, and no other job
    assert(shape.jobs <= res.rounds + 2, s"${shape.jobs} jobs for ${res.rounds} rounds")
    assert((spark.sparkContext.getPersistentRDDs.keySet -- rdds).isEmpty)
    val seen = scala.collection.mutable.Set.empty[Int]
    def lineage(r: org.apache.spark.rdd.RDD[_]): Iterator[org.apache.spark.rdd.RDD[_]] =
      if (!seen.add(r.id)) Iterator.empty
      else Iterator.single(r) ++ r.dependencies.iterator.flatMap(d => lineage(d.rdd))
    val out = res.labels.queryExecution.toRdd
    assert(!lineage(out).exists(_.getClass.getSimpleName == "LocalCheckpointRDD"),
      s"locally checkpointed block in the labels' lineage:\n${out.toDebugString}")
    // one partition is one output file for the bench-sized groups
    assert(out.getNumPartitions == 1)
  }

  test("CAN --file tumbling + fill on a time-ordered log: split-order fold " +
      "with no bucket aggregate, no range exchange and fewer than the " +
      "general plan's 8 stages; a reversed log takes the general plan") {
    // 20,000 frames 1 µs apart over mini.dbc's four messages: 40 buckets
    // of 0.5 ms, cut by ≥ 4 splits
    val lines = (0 until 20000).map(i =>
      f"(1700000000.$i%06d) can0 ${0x100 * (1 + i % 4)}%X#${i & 0xFFFF}%04X0000")
    def logOf(ls: Seq[String]): String = {
      val f = java.nio.file.Files.createTempDirectory("graft_plan_split").resolve("a.log")
      java.nio.file.Files.write(f, ls.asJava)
      f.toString
    }
    val cfg = graft.can.CanPipelineConfig(cacheMs = 0.5, forwardFill = true)
    var df: DataFrame = null
    def write(path: String): Unit = {
      df = graft.can.CanPipeline.decodeLog(spark, "fixtures/mini.dbc", path, cfg)
      df.write.format("noop").mode("overwrite").save()
    }
    val JobShape(_, stages, plans) = jobShape(write(logOf(lines)))
    assert(df.count() == 40)
    // t0's aggregate (2), the fold and its staged summaries (2), the write (1)
    assert(stages <= 5, s"$stages stages:\n${plans.mkString("\n")}")
    plans.foreach { p =>
      assert(!p.contains("arg_last") && !p.contains("rangepartitioning"),
        s"bucket aggregate or range exchange in the ordered job:\n$p")
    }
    val JobShape(_, _, fallback) = jobShape(write(logOf(lines.reverse)))
    assert(df.count() == 40)
    assert(fallback.exists(_.contains("arg_last")),
      s"a reversed log must run the general plan:\n${fallback.mkString("\n")}")
  }

  test("ForwardFill scaladoc states the tie semantics of orderCol") {
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/can/ForwardFill.scala")), "UTF-8")
    assert(src.contains("Ties: rows with equal `orderCol`"),
      "distributed()'s scaladoc must say what happens when orderCol has ties")
  }
}
