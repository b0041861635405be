package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops._
import graft.can.{Bucketer, CombinePolicy, ForwardFill}

/** Class-level guard for the session cache-leak defect (the r18
  * `Bucketer.exactDistributed` and r19 `ForwardFill.distributed` bug,
  * found twice as instance fixes): a plan persisted inside a library
  * call is pinned FOREVER by the CacheManager's strong reference — the
  * ContextCleaner never collects it — so any entry point that persists
  * and does not release leaks one input-sized cached copy PER CALL in a
  * long-running session.
  *
  * This spec enumerates EVERY public entry point whose implementation
  * calls `persist(` (the enumeration is pinned against `grep persist(
  * src/main` by [[CacheDisciplineSpec.PersistingFiles]]), drives each
  * one twice in a single session, releases only the handles each
  * method's CONTRACT documents as caller-owned, and asserts both cache
  * observables return to their pre-call baseline:
  *
  *   - `spark.sharedState.cacheManager` entry count (read reflectively
  *     from the private `cachedData` field — the SQL-cache side, which
  *     pins plans whether or not blocks ever materialized);
  *   - `sparkContext.getPersistentRDDs` (the block side; for
  *     `localCheckpoint`-based entries this is ContextCleaner-managed,
  *     so the check gc-polls before failing — which also exercises the
  *     exact "the cleaner will get it" assumption the defect class was
  *     built on, now only relied on where it is actually true).
  *
  * Caller-owned handles (released by this spec, per each scaladoc
  * CONTRACT): the persisted+materialized results of the minhash family,
  * the segment-dedup family, the CorpusSelect prefix family, the
  * trainers' final word relations, `Bucketer.exactDistributed`, and the
  * `EvalShingles` / `EvalSignatures` broadcast-side handles.
  * `ForwardFill.distributed` persists nothing any more; its entry stays
  * to keep it that way. Everything else must clean
  * up after itself — a new `persist` without a release turns THIS spec
  * red instead of waiting for a round-review find.
  */
class CacheDisciplineSpec extends AnyFunSuite with ops.StreamingFixture {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // ---- observables -------------------------------------------------

  private def sqlCacheEntries: Int = {
    val cm = spark.sharedState.cacheManager
    val f = cm.getClass.getDeclaredField("cachedData")
    f.setAccessible(true)
    f.get(cm).asInstanceOf[IndexedSeq[_]].size
  }

  private def rddEntries: Int = spark.sparkContext.getPersistentRDDs.size

  /** Block counts can exceed the baseline transiently when an entry
    * point used `localCheckpoint` (ContextCleaner releases those blocks
    * asynchronously after the references die) — poll with explicit GCs
    * before declaring a leak. SQL-cache entries are never cleaned
    * asynchronously, so that side is asserted without polling.
    */
  private def awaitRddBaseline(target: Int): Int = {
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    var n = rddEntries
    while (n > target && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(250)
      n = rddEntries
    }
    n
  }

  /** Settle the block count to a stable floor before taking a baseline:
    * other suites in this JVM may have left ContextCleaner-managed
    * blocks that disappear asynchronously mid-test.
    */
  private def settledRdd(): Int = {
    var prev = rddEntries
    var stable = 0
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (stable < 2 && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(150)
      val cur = rddEntries
      if (cur == prev) stable += 1 else { stable = 0; prev = cur }
    }
    prev
  }

  private def checkEntry(name: String)(body: => Seq[() => Unit]): Unit = {
    val sqlBefore = sqlCacheEntries
    val rddBefore = settledRdd()
    for (i <- 1 to 2) {
      val releases = body
      releases.foreach(_.apply())
      assert(sqlCacheEntries == sqlBefore,
        s"$name leaked SQL-cache entries on call $i " +
          s"(${sqlCacheEntries - sqlBefore} net new CacheManager plans — " +
          "a persist() without a matching release/ownership transfer)")
    }
    val settled = awaitRddBaseline(rddBefore)
    assert(settled <= rddBefore,
      s"$name leaked persisted RDD blocks (${settled - rddBefore} net " +
        "new entries in getPersistentRDDs after gc-poll)")
  }

  private def owned(dfs: DataFrame*): Seq[() => Unit] =
    dfs.map(df => () => { df.unpersist(); () })

  // ---- fixtures (tiny, in-memory; shapes mirror the operator specs) --

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog tonight"),
    (2L, "the quick brown fox jumps over the lazy dog tonight"),
    (3L, "dog lazy the over jumps fox brown quick the tonight"),
    (4L, "completely different text with other words entirely here now"),
    (5L, "the quick brown fox jumps over the lazy cat tonight"),
    (6L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (7L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (8L, "one two three four five six seven eight nine ten")
  ).toDF("doc_id", "text")

  private lazy val evalDocs = Seq(
    (101L, "the quick brown fox jumps over the lazy dog tonight"),
    (102L, "unrelated evaluation prompt about astronomy and navigation today")
  ).toDF("doc_id", "text")

  private lazy val weighted =
    (1L to 40L).map(i => (i, (i % 7) + 1, s"g${i % 3}"))
      .toDF("id", "w", "grp")

  private lazy val edges =
    Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L), (5L, 4L)).toDF("src", "dst")

  private lazy val emb = {
    val rnd = new scala.util.Random(20260815)
    (0 until 500).map(i => (i.toLong, Seq.fill(64)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
  }

  private lazy val series = {
    val rnd = new scala.util.Random(11)
    (0 until 300).map { i =>
      (i.toDouble,
        if (rnd.nextBoolean()) Int.box(rnd.nextInt(50))
        else null.asInstanceOf[java.lang.Integer],
        if (rnd.nextInt(3) == 0) Double.box(rnd.nextDouble())
        else null.asInstanceOf[java.lang.Double])
    }.toDF("ts_ms", "a", "b").repartition(5)
  }

  // ---- the enumeration pin -----------------------------------------

  /** Files under src/main that contain a `.persist(` CALL SITE — if a new
    * file joins this set, a human must extend the entries below (or
    * document why the new persist cannot leak) and then update this pin.
    * Grep-exact: `grep -rl "\.persist(" src/main/scala`. The dot keeps the
    * pin anchored to call sites: a scaladoc that merely MENTIONS
    * `persist(` (the house commentary style) must not turn this red.
    */
  private val PersistingFiles = Set(
    "ops/CorpusSelect.scala", "ops/WordPiece.scala", "ops/Similarity.scala",
    "ops/Dedup.scala", "ops/Ranking.scala", "ops/Bpe.scala",
    "ops/UnigramLm.scala", "can/Bucketer.scala")

  test("enumeration pin: the set of persisting src/main files is known") {
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val found = scala.collection.mutable.Set[String]()
    java.nio.file.Files.walk(root).forEach { p =>
      if (p.toString.endsWith(".scala")) {
        val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        // call-site shape (`.persist(`): matches the documented grep and
        // skips prose mentions in comments; `.unpersist(` never matches
        if ("\\.persist\\(".r.findFirstIn(src).isDefined)
          found += root.relativize(p).toString
      }
    }
    assert(found.toSet == PersistingFiles,
      "the persisting-file set changed — add the new entry point(s) " +
        s"to CacheDisciplineSpec, then update the pin. Found: $found")
  }

  // ---- Dedup: minhash family (caller-owned results) ------------------

  test("Dedup.minhashNearDups returns to cache baseline") {
    checkEntry("minhashNearDups") {
      owned(Dedup.minhashNearDups(docs, "doc_id", col("text"), 0.4))
    }
  }

  test("Dedup.minhashNearDupsFromShingles returns to cache baseline") {
    checkEntry("minhashNearDupsFromShingles") {
      val sh = Dedup.shingleHashes(docs, "doc_id", col("text"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      sh.count()
      val r = Dedup.minhashNearDupsFromShingles(sh, "doc_id", 0.4)
      owned(r, sh)
    }
  }

  test("Dedup.editVerifiedNearDups returns to cache baseline") {
    checkEntry("editVerifiedNearDups") {
      owned(Dedup.editVerifiedNearDups(docs, "doc_id", col("text")))
    }
  }

  test("Dedup.jaccardEstimates returns to cache baseline") {
    checkEntry("jaccardEstimates") {
      owned(Dedup.jaccardEstimates(docs, "doc_id", col("text")))
    }
  }

  test("Dedup.recallAudit returns to cache baseline") {
    checkEntry("recallAudit") {
      owned(Dedup.recallAudit(docs, "doc_id", col("text")))
    }
  }

  test("Dedup.nearDupGroups returns to cache baseline (pairs owned)") {
    checkEntry("nearDupGroups") {
      val r = Dedup.nearDupGroups(docs, "doc_id", col("text"))
      r.groups.count()
      owned(r.pairs)
    }
  }

  test("Dedup.contaminationSafeSplit returns to cache baseline") {
    checkEntry("contaminationSafeSplit") {
      val r = Dedup.contaminationSafeSplit(docs, "doc_id", col("text"), 4)
      r.folds.count()
      owned(r.pairs)
    }
  }

  test("Dedup.softWeights returns to cache baseline") {
    checkEntry("softWeights") {
      val pairs = Dedup.minhashNearDups(docs, "doc_id", col("text"))
      val w = Dedup.softWeights(docs, "doc_id", pairs)
      w.count()
      owned(pairs)
    }
  }

  test("Dedup.dropLedger returns to cache baseline (internal release)") {
    checkEntry("dropLedger") {
      Dedup.dropLedger(docs, "doc_id", col("text")).count()
      Nil
    }
  }

  // ---- Dedup: decontamination family ---------------------------------

  test("Dedup.fuzzyDecontaminate returns to cache baseline") {
    checkEntry("fuzzyDecontaminate") {
      val all = docs.unionByName(evalDocs)
      owned(Dedup.fuzzyDecontaminate(all, "doc_id", col("text"),
        col("doc_id") > 100L))
    }
  }

  test("Dedup.containmentDecontaminate returns to cache baseline") {
    checkEntry("containmentDecontaminate") {
      val all = docs.unionByName(evalDocs)
      owned(Dedup.containmentDecontaminate(all, "doc_id", col("text"),
        col("doc_id") > 100L))
    }
  }

  test("Dedup.prepareEvalShingles + containmentAgainst return to baseline") {
    checkEntry("prepareEvalShingles/containmentAgainst") {
      val h = Dedup.prepareEvalShingles(evalDocs, "doc_id", col("text"))
      val r = Dedup.containmentAgainst(docs, "doc_id", col("text"), h)
      owned(r) :+ (() => h.unpersist())
    }
  }

  test("Dedup.prepareEvalSignatures + fuzzyDecontaminateAgainst return " +
      "to baseline") {
    checkEntry("prepareEvalSignatures/fuzzyDecontaminateAgainst") {
      val h = Dedup.prepareEvalSignatures(evalDocs, "doc_id", col("text"))
      val r = Dedup.fuzzyDecontaminateAgainst(docs, "doc_id", col("text"), h)
      owned(r) :+ (() => h.unpersist())
    }
  }

  test("Dedup.bloomDecontaminate returns to cache baseline") {
    checkEntry("bloomDecontaminate") {
      val train = Dedup.shingleHashes(docs, "doc_id", col("text"))
      val eval = Dedup.shingleHashes(evalDocs, "doc_id", col("text"))
      owned(Dedup.bloomDecontaminate(train, eval, "doc_id"))
    }
  }

  // ---- Dedup: segment family (caller-owned results) ------------------

  test("Dedup.segmentDedup returns to cache baseline") {
    checkEntry("segmentDedup") {
      owned(Dedup.segmentDedup(docs, "doc_id", "text", 3))
    }
  }

  test("Dedup.lineDedup returns to cache baseline") {
    checkEntry("lineDedup") {
      owned(Dedup.lineDedup(docs, "doc_id", "text", " "))
    }
  }

  test("Dedup.cdcSegmentDedup returns to cache baseline") {
    checkEntry("cdcSegmentDedup") {
      owned(Dedup.cdcSegmentDedup(docs, "doc_id", "text", 4L))
    }
  }

  test("Dedup.dedupAgainstStore returns to cache baseline") {
    val store = tmpDir("cds_claims")
    checkEntry("dedupAgainstStore") {
      owned(Dedup.dedupAgainstStore(docs, "doc_id", col("text"), store))
    }
  }

  // ---- Dedup/CorpusSelect: streaming entry points ---------------------
  // Each persists inside foreachBatch (or via the batch core) — drive the
  // real writeStream path over two micro-batch files and assert the
  // session cache is clean after the drain.

  private def twoBatchSource(prefix: String): String = {
    val src = tmpDir(prefix)
    writeBatchFile(src, "b0", docs.filter(col("doc_id") <= 4L), 1000000L)
    writeBatchFile(src, "b1", docs.filter(col("doc_id") > 4L), 2000000L)
    src
  }

  private def streamReader(src: String) =
    spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$src/*")

  test("Dedup.streamingContainment returns to cache baseline") {
    val src = twoBatchSource("cds_sc_src")
    val base = tmpDir("cds_sc")
    checkEntry("streamingContainment") {
      val h = Dedup.prepareEvalShingles(evalDocs, "doc_id", col("text"))
      val ck = tmpDir("cds_sc_ck")
      drain(Dedup.streamingContainment(streamReader(src), "doc_id",
        col("text"), h, s"$base/out_${System.nanoTime()}", ck))
      Seq(() => h.unpersist())
    }
  }

  test("Dedup.streamingDecontaminate returns to cache baseline") {
    val src = twoBatchSource("cds_sd_src")
    val base = tmpDir("cds_sd")
    checkEntry("streamingDecontaminate") {
      val h = Dedup.prepareEvalSignatures(evalDocs, "doc_id", col("text"))
      val ck = tmpDir("cds_sd_ck")
      drain(Dedup.streamingDecontaminate(streamReader(src), "doc_id",
        col("text"), h, s"$base/out_${System.nanoTime()}", ck))
      Seq(() => h.unpersist())
    }
  }

  test("Dedup.streamingSegmentDedup returns to cache baseline") {
    val src = twoBatchSource("cds_ssd_src")
    val base = tmpDir("cds_ssd")
    checkEntry("streamingSegmentDedup") {
      val tag = System.nanoTime()
      drain(Dedup.streamingSegmentDedup(streamReader(src), "doc_id", "text",
        s"$base/claims_$tag", s"$base/out_$tag", s"$base/ck_$tag", 3))
      Nil
    }
  }

  test("Dedup.streamingNearDup returns to cache baseline") {
    val src = twoBatchSource("cds_snd_src")
    val base = tmpDir("cds_snd")
    checkEntry("streamingNearDup") {
      val tag = System.nanoTime()
      drain(Dedup.streamingNearDup(streamReader(src), "doc_id", col("text"),
        s"$base/claims_$tag", s"$base/out_$tag", s"$base/ck_$tag"))
      Nil
    }
  }

  test("CorpusSelect.streamingShardAssign returns to cache baseline") {
    val src = tmpDir("cds_ssa_src")
    writeBatchFile(src, "b0", weighted.filter(col("id") <= 20L), 1000000L)
    writeBatchFile(src, "b1", weighted.filter(col("id") > 20L), 2000000L)
    val base = tmpDir("cds_ssa")
    checkEntry("streamingShardAssign") {
      val tag = System.nanoTime()
      drain(CorpusSelect.streamingShardAssign(
        spark.readStream.schema(weighted.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$src/*"),
        "w", 10L, Seq(col("id").asc), s"$base/out_$tag", s"$base/ck_$tag"))
      Nil
    }
  }

  // ---- CorpusSelect prefix family (caller-owned results) -------------

  test("CorpusSelect.budgetPrefix returns to cache baseline") {
    checkEntry("budgetPrefix") {
      owned(CorpusSelect.budgetPrefix(weighted, "w", 50L,
        Seq(col("id").asc)))
    }
  }

  test("CorpusSelect.fractionPrefix returns to cache baseline") {
    checkEntry("fractionPrefix") {
      owned(CorpusSelect.fractionPrefix(weighted, "w", 1L, 2L,
        Seq(col("id").asc)))
    }
  }

  test("CorpusSelect.groupedBudgetPrefix returns to cache baseline") {
    checkEntry("groupedBudgetPrefix") {
      owned(CorpusSelect.groupedBudgetPrefix(weighted, "grp", "w", 20L,
        Seq(col("id").asc)))
    }
  }

  test("CorpusSelect.shardAssign(WithTotal) returns to cache baseline") {
    checkEntry("shardAssignWithTotal") {
      val (r, total) = CorpusSelect.shardAssignWithTotal(weighted, "w", 10L,
        Seq(col("id").asc))
      assert(total > 0)
      owned(r)
    }
  }

  test("CorpusSelect.cumulativeWeightsWithTotal returns to cache baseline") {
    checkEntry("cumulativeWeightsWithTotal") {
      val (r, total) = CorpusSelect.cumulativeWeightsWithTotal(weighted, "w",
        Seq(col("id").asc))
      assert(total > 0)
      owned(r)
    }
  }

  // ---- trainers ------------------------------------------------------

  test("Bpe.train returns to cache baseline (final relation owned)") {
    checkEntry("Bpe.train") {
      val (_, fin) = Bpe.train(Bpe.wordTable(docs, col("text")), 2)
      owned(fin)
    }
  }

  test("WordPiece.train returns to cache baseline (final relation owned)") {
    checkEntry("WordPiece.train") {
      val (_, fin) = WordPiece.train(Bpe.wordTable(docs, col("text")), 2)
      owned(fin)
    }
  }

  test("UnigramLm.train returns to cache baseline (internal release)") {
    checkEntry("UnigramLm.train") {
      val words = Seq(("abab", 4L), ("ba", 2L), ("cab", 3L)).toDF("w", "cnt")
      UnigramLm.train(words, rounds = 2, vocabSize = 8, maxPiece = 2)
      Nil
    }
  }

  // ---- Ranking (localCheckpoint: the ContextCleaner-managed case) -----

  test("Ranking.pageRankInt returns to cache baseline after gc-poll") {
    checkEntry("pageRankInt") {
      // collect + drop the reference: the checkpointed blocks must go
      // away once nothing reachable holds them (this is the ONE entry
      // point where the ContextCleaner assumption is load-bearing)
      Ranking.pageRankInt(edges, iters = 3).count()
      Nil
    }
  }

  // ---- Similarity ------------------------------------------------------

  test("Similarity.writeIvfPq returns to cache baseline (internal release)") {
    checkEntry("writeIvfPq") {
      Similarity.writeIvfPq(emb, tmpDir("cds_ivfpq"), stride = 29L)
      Nil
    }
  }

  // ---- can: ForwardFill / Bucketer (the two original instances) -------

  test("ForwardFill.distributed returns to cache baseline (result owned)") {
    checkEntry("ForwardFill.distributed") {
      owned(ForwardFill.distributed(series, "ts_ms", numPartitions = 3))
    }
  }

  test("Bucketer.exactDistributed returns to cache baseline (result owned)") {
    checkEntry("Bucketer.exactDistributed") {
      owned(Bucketer.exactDistributed(series, 10.0,
        CombinePolicy.LastWins, numPartitions = 3))
    }
  }

  // ---- composition: the exact shape that leaked in r19 ------------------
  // CanPipeline.decodeLog(exact, forwardFill) runs exactDistributed with
  // its in-fold ForwardFill.distributed and hands the caller only the
  // filled result (its OWNERSHIP NOTE); the leaf tests above can't see a
  // leak in the composition glue, and that glue is where the r19
  // instance lived.

  test("CanPipeline.decodeLog exact+forwardFill returns to cache baseline " +
      "(composed ownership)") {
    val log = java.nio.file.Files.createTempDirectory("cds_decode").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$log/a.log"),
      (0 until 120).map { i =>
        val raw = 100 + i
        val hex = f"${raw & 0xFF}%02X${(raw >> 8) & 0xFF}%02X0000"
        f"(${i * 5000L / 1000000}%d.${i * 5000L % 1000000}%06d) vcan0 100#$hex"
      }.mkString("\n").getBytes("UTF-8"))
    checkEntry("decodeLog(exact, ffill)") {
      owned(graft.can.CanPipeline.decodeLog(spark, "fixtures/mini.dbc", log,
        graft.can.CanPipelineConfig(cacheMs = 12.0, exact = true,
          forwardFill = true)))
    }
  }
}
