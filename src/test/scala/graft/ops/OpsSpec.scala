package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession

class OpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "dog lazy the over jumps fox brown quick the"), // reordered (same bag)
    (4L, "completely different text with other words entirely here now"),
    (5L, "the quick brown fox jumps over the lazy cat") // near dup of 1
  ).toDF("doc_id", "text")

  test("exact + bow dedup find the right groups") {
    val exact = Dedup.dupGroups(docs, "doc_id", Dedup.exactSignature(col("text"))).collect()
    assert(exact.length == 1 && exact.head.getAs[Long]("n_docs") == 2)
    val bow = Dedup.dupGroups(docs, "doc_id", Dedup.bowSignature(col("text"))).collect()
    assert(bow.length == 1 && bow.head.getAs[Long]("n_docs") == 3) // 1,2,3 share vocab
    assert(bow.head.getAs[Long]("keep_id") == 1L)
  }

  test("shingles produce n-2 trigrams in order") {
    val sh = docs.filter($"doc_id" === 1)
      .select(TextAnalysis.tokens(col("text")).as("t"))
      .select(Dedup.shinglesOfTokens(col("t")).as("s")).as[Seq[String]].head()
    assert(sh.length == 7)
    assert(sh.head == "the quick brown" && sh.last == "the lazy dog")
  }

  test("minhash near-dups: exact/reordered pairs found, distinct text not") {
    val pairs = Dedup.minhashNearDups(docs, "doc_id", col("text"), threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L))) // identical shingle sets
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("band-bucket cap bounds fan-out; star edges keep clusters connected") {
    // 60 identical docs: every band funnels all 60 into ONE bucket — the
    // unbounded join would emit 60·59/2 pairs per band. With cap 8 the
    // candidates are all-pairs among ids 1..8 PLUS a star edge (1, d) for
    // every over-cap member d — O(cap² + k), and crucially every cluster
    // member keeps an edge to the min id, so keep-min dedup still
    // collapses the whole cluster.
    val many = (1L to 60L)
      .map(i => (i, "alpha beta gamma delta epsilon zeta eta theta iota"))
      .toDF("doc_id", "text")
    val bands = Dedup.bandKeys(
      Dedup.minhashAgg(Dedup.shingleHashes(many, "doc_id", col("text")), "doc_id"),
      "doc_id")
    val expected = (for { a <- 1L to 8L; b <- (a + 1) to 8L } yield (a, b)).toSet ++
      (9L to 60L).map(d => (1L, d))
    val cands = Dedup.bandedCandidates(bands, "doc_id", 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands == expected) // C(8,2)=28 + 52 star edges, NOT 1770
    // identical docs all verify at jaccard 1.0 → near-dup set = candidates
    val pairs = Dedup.minhashNearDups(many, "doc_id", col("text"), bandCap = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == expected)
    // every doc is reachable from the keeper (no silently-escaping dups)
    assert(pairs.flatMap(p => Seq(p._1, p._2)) == (1L to 60L).toSet)
  }

  test("simhash band-bucket cap bounds pairing the same way (with star edges)") {
    val many = (1L to 40L).map(i => (i, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDups(many, "doc_id", col("text"), bandCap = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == (for { a <- 1L to 5L; b <- (a + 1) to 5L } yield (a, b)).toSet ++
      (6L to 40L).map(d => (1L, d)))
  }

  test("capped candidate graph preserves connected components exactly") {
    // star edges make this a theorem, not a heuristic: any unbounded
    // edge (x, y) means x and y share a bucket; in the capped graph both
    // endpoints still reach that bucket's min (in-cap pair or star
    // edge), so component membership is identical — only redundant
    // intra-component edges are dropped. Check on a random corpus whose
    // small vocabulary forces large, overlapping buckets.
    val rnd = new scala.util.Random(42)
    val words = Vector("a", "b", "c", "d", "e", "f", "g", "h")
    val docs = (1L to 120L)
      .map(i => (i, Seq.fill(8)(words(rnd.nextInt(words.size))).mkString(" ")))
      .toDF("doc_id", "text")
    val bands = Dedup.bandKeys(
      Dedup.minhashAgg(Dedup.shingleHashes(docs, "doc_id", col("text")), "doc_id"),
      "doc_id")
    def comps(cap: Int) = Dedup.connectedComponents(
        Dedup.bandedCandidates(bands, "doc_id", cap))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val unbounded = comps(Int.MaxValue)
    val capped = comps(4)
    assert(unbounded.nonEmpty && unbounded == capped)
  }

  test("contamination-safe split: components share folds; witness is zero") {
    val r = Dedup.contaminationSafeSplit(docs, "doc_id", col("text"), nFolds = 4)
    try {
      val folds = r.folds.collect()
        .map(row => row.getAs[Long]("doc_id") ->
          (row.getAs[Long]("rep"), row.getAs[Long]("fold"))).toMap
      assert(folds.keySet == Set(1L, 2L, 3L, 4L, 5L)) // every doc, exactly once
      val pairs = r.pairs.collect().map(p => (p.getLong(0), p.getLong(1)))
      assert(pairs.nonEmpty)
      pairs.foreach { case (a, b) =>
        assert(folds(a) == folds(b), s"pair ($a,$b) straddles folds")
      }
      val inComp = pairs.flatMap(p => Seq(p._1, p._2)).toSet
      folds.foreach { case (id, (rep, fold)) =>
        if (!inComp(id)) assert(rep == id) // singletons represent themselves
        assert(fold >= 0 && fold < 4)
      }
      // deterministic: an independent second run reproduces the assignment
      val r2 = Dedup.contaminationSafeSplit(docs, "doc_id", col("text"), nFolds = 4)
      try {
        val again = r2.folds.collect()
          .map(row => row.getAs[Long]("doc_id") ->
            (row.getAs[Long]("rep"), row.getAs[Long]("fold"))).toMap
        assert(again == folds)
      } finally r2.pairs.unpersist()
    } finally r.pairs.unpersist()
  }

  test("contamination-safe split: transitive chains land on one fold") {
    // sliding 42-word windows shifted by 2: adjacent windows verify at
    // trigram jaccard 38/42 ≈ 0.905, the endpoints only at 36/44 ≈ 0.818
    // — threshold 0.85 keeps A~B and B~C but drops A~C, so the component
    // (not any direct pair) is what co-assigns A and C
    val w = (1 to 46).map(i => s"word$i")
    val chain = Seq(
      (1L, w.slice(0, 42).mkString(" ")),
      (2L, w.slice(2, 44).mkString(" ")),
      (3L, w.slice(4, 46).mkString(" ")),
      (9L, "entirely unrelated content about something else altogether")
    ).toDF("doc_id", "text")
    val r = Dedup.contaminationSafeSplit(chain, "doc_id", col("text"),
      nFolds = 7, threshold = 0.85)
    try {
      val pairSet = r.pairs.collect().map(p => (p.getLong(0), p.getLong(1))).toSet
      assert(pairSet == Set((1L, 2L), (2L, 3L))) // no direct 1-3 edge
      val folds = r.folds.collect()
        .map(row => row.getAs[Long]("doc_id") ->
          (row.getAs[Long]("rep"), row.getAs[Long]("fold"))).toMap
      assert(folds(1L)._1 == 1L && folds(2L)._1 == 1L && folds(3L)._1 == 1L)
      assert(folds(1L)._2 == folds(3L)._2) // transitively co-assigned
      assert(folds(9L)._1 == 9L)
    } finally r.pairs.unpersist()
  }

  test("connected components: chains collapse to min label across iterations") {
    // 1-2-3-4-5 is a diameter-4 chain — label 1 must propagate hop by hop
    // (exercises the iteration loop, not just one join round)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L), (12L, 11L))
      .toDF("doc_a", "doc_b")
    val res = Dedup.connectedComponentsWithStats(pairs)
    val comps = res.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 5L).forall(comps(_) == 1L))
    assert(Seq(10L, 11L, 12L).forall(comps(_) == 10L))
    assert(comps.size == 8)
    // pointer jumping: diameter-4 needs ≤3 rounds (incl. the no-change
    // detection round), not diameter+1
    assert(res.converged && res.rounds <= 3, s"rounds=${res.rounds}")
  }

  test("connected components: 1000-chain converges in O(log n) rounds") {
    // worst case for plain min-label propagation (needs ~1000 rounds);
    // the hop+jump rounds double the reach, so log2(1000)+slack suffices
    val chain = (0L until 1000L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val res = Dedup.connectedComponentsWithStats(chain, maxIter = 20)
    assert(res.converged, s"did not converge in 20 rounds (ran ${res.rounds})")
    assert(res.rounds <= 15, s"rounds=${res.rounds}")
    val comps = res.labels.collect().map(r => r.getLong(1)).distinct
    assert(comps.sameElements(Array(0L)))
  }

  test("connected components: throws on unconverged by default, opt-out warns") {
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    // maxIter=1: one hop+jump round cannot collapse a 40-chain
    intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIter = 1)
    }
    val partial = Dedup.connectedComponentsWithStats(chain, maxIter = 1,
      failOnUnconverged = false)
    assert(!partial.converged && partial.labels.count() == 41L)
  }

  test("nearDupGroups: pairs and groups share one persisted pair computation") {
    val boiler = "the same boilerplate text repeated across mirrors again and again"
    val corpus = ((1L to 6L).map(i => (i, boiler)) ++
      Seq((7L, "an entirely different document about gardens and rivers flowing"),
          (8L, "quantum chemistry lecture notes with equations and derivations")))
      .toDF("doc_id", "text")
    val res = Dedup.nearDupGroups(corpus, "doc_id", col("text"))
    try {
      // the pair relation is persisted (the contract that makes the
      // composition single-pass) and any downstream consumer reads the
      // cache, not the shingle pipeline
      assert(res.pairs.storageLevel.useMemory)
      val replan = res.pairs.filter(col("doc_a") >= 0)
      assert(replan.queryExecution.executedPlan.toString.contains("InMemoryTableScan"))
      val groups = res.groups.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert((1L to 6L).forall(groups(_) == 1L))
      assert(!groups.contains(7L) && !groups.contains(8L))
    } finally res.pairs.unpersist()
  }

  test("nearDupGroups: groups survive the loss of every block the call persisted") {
    // a lost executor takes its cached and locally checkpointed blocks
    // with it; the groups must recompute from lineage, not fail with
    // "Checkpoint block ... not found"
    val boiler = "the same boilerplate text repeated across mirrors again and again"
    val corpus = ((1L to 6L).map(i => (i, boiler)) ++
      Seq((7L, "an entirely different document about gardens and rivers flowing"),
          (8L, "quantum chemistry lecture notes with equations and derivations")))
      .toDF("doc_id", "text")
    val sc = spark.sparkContext
    // ids, not all of them: an earlier suite's persisted RDDs are not
    // this call's to drop
    val before = sc.getPersistentRDDs.keySet
    val res = Dedup.nearDupGroups(corpus, "doc_id", col("text"))
    try {
      val persisted = sc.getPersistentRDDs.keySet -- before
      assert(persisted.nonEmpty) // the pairs cache, at least
      persisted.foreach(id =>
        org.apache.spark.SparkEnv.get.blockManager.master.removeRdd(id, blocking = true))
      val groups = res.groups.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(groups == (1L to 6L).map(_ -> 1L).toMap)
    } finally res.pairs.unpersist()
  }

  test("simhash: identical texts equal, near texts close in hamming") {
    val sims = Dedup.simhash(docs, "doc_id", col("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sims(1L) == sims(2L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sims(1L), sims(5L)) < hamming(sims(1L), sims(4L)))
  }

  test("simhash banded pairing finds near-dups, skips distinct text") {
    val pairs = Dedup.simhashNearDups(docs, "doc_id", col("text"), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // identical texts: hamming 0, must pair
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0L))
    // the unrelated doc 4 is far from everything in hamming space
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("simhash banded pairing is COMPLETE vs brute force (pigeonhole)") {
    // a corpus with overlapping vocabulary produces a range of hamming
    // distances; banding must find EVERY pair within the threshold
    val corpus = (1L to 30L).map { i =>
      val words = (0 until 12).map(j => s"w${(i * 7 + j * 3) % 17}")
      (i, words.mkString(" "))
    }.toDF("doc_id", "text")
    val sigs = Dedup.simhash(corpus, "doc_id", col("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = (for {
      a <- sigs.keys; b <- sigs.keys if a < b
      h = java.lang.Long.bitCount(sigs(a) ^ sigs(b)) if h <= 3
    } yield (a, b, h.toLong)).toSet
    val banded = Dedup.simhashNearDups(corpus, "doc_id", col("text"), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(banded == brute, s"banded=${banded.size} brute=${brute.size}")
    assert(brute.nonEmpty) // the corpus actually exercises the threshold
  }

  test("repetition stats: top-unigram share and duplicate-bigram fraction") {
    val d = Seq((1L, "a a a b"), (2L, "x"), (3L, "p q r s")).toDF("doc_id", "text")
    val r = TextAnalysis.repetitionStats(d, "doc_id", col("text"))
      .orderBy("doc_id").collect()
    // doc 1: 4 tokens, "a"×3 → 0.75; bigrams (a a, a a, a b) → 1 - 2/3
    assert(r(0).getLong(1) == 4 && r(0).getDouble(2) == 0.75)
    assert(math.abs(r(0).getDouble(3) - (1.0 - 2.0 / 3.0)) < 1e-12)
    // doc 2: single token → top share 1.0, no bigrams → 0.0
    assert(r(1).getLong(1) == 1 && r(1).getDouble(2) == 1.0 && r(1).getDouble(3) == 0.0)
    // doc 3: all distinct → 0.25 top share, 0.0 duplicate bigrams
    assert(r(2).getDouble(2) == 0.25 && r(2).getDouble(3) == 0.0)
  }

  test("langId picks stopword-dense profile; zh via CJK") {
    val r = Seq(
      (1, "the cat and the dog of a house in the morning"),
      (2, "der Hund und die Katze ist mit ein Haus"),
      (3, "le chat et la maison est un des animaux"),
      (4, "这是一个中文句子 完全没有英文单词")
    ).toDF("id", "text")
      .select($"id", TextAnalysis.langId(col("text")).as("p"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(r(1) == "en" && r(2) == "de" && r(3) == "fr" && r(4) == "zh")
  }

  test("similarity: self-cosine is 1, orthogonal is 0") {
    val e = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(1.0f, 0.0f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f, 0.0f), 0),
      (3L, Array(-1.0f, 0.0f, 0.0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val top = Similarity.bruteForceTopK(e, 0L, 3).collect()
    assert(top.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(top(0).getDouble(1) == 1.0 && top(1).getDouble(1) == 0.0 && top(2).getDouble(1) == -1.0)
  }

  test("quantize: the exact float32 x 1000, rounded half away from zero, " +
      "and the oracle CTE multiplies the same way") {
    // 0.3195f is 0.31949999928...: its exact product 319.4999992... rounds
    // to 319, where a FLOAT product rounds to 319.5 first and then to 320.
    // 0.0625f x 1000 is exactly 62.5: half-up gives 63 and -63 (Scala's
    // math.round would give -62).
    val edges = Seq(0.3195f, -0.3195f, 0.0625f, -0.0625f)
    val ref = edges.map(f => new java.math.BigDecimal(f.toDouble * 1000)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact)
    assert(ref == Seq(319L, -319L, 63L, -63L))
    val got = edges.toDF("x")
      .select(Similarity.quantize(array(col("x"))).getItem(0)).as[Long]
      .collect().toSeq
    assert(got == ref)
    // the DuckDB oracle replays quantize through this one CTE; a FLOAT
    // product there mismatched qd_cosine_nn at sf0.1 on 0.3195f
    assert(graft.fixtures.SharedSql.quantCteBody
      .contains("round(CAST(x AS DOUBLE)*1000)"))
  }

  test("bucketed NN: full coverage, never beats exact, high recall") {
    // deterministic 64-dim vectors over 2 labels (formulaic, no RNG)
    val vecs = (0L until 40L).map { i =>
      val emb = Array.tabulate(64)(j =>
        (((i * 31 + j * 17) % 101) - 50).toFloat / 50.0f)
      (i, emb, (i % 2).toInt)
    }.toDF("vec_id", "embedding", "label")
    val exact = Similarity.nearestNeighborPerVectorExact(vecs)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val bucketed = Similarity.nearestNeighborPerVector(vecs)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // ring fallback ⇒ every vector still reports a neighbor
    assert(bucketed.keySet == exact.keySet)
    // candidate subset ⇒ bucketed score can never exceed the exact NN
    bucketed.foreach { case (id, c) => assert(c <= exact(id) + 1e-12) }
    // sanity recall: most vectors find their true NN through the buckets
    val hits = bucketed.count { case (id, c) => math.abs(c - exact(id)) < 1e-12 }
    assert(hits >= bucketed.size / 2, s"recall too low: $hits/${bucketed.size}")
  }

  test("kmeans codebook separates clusters; centroids are floor-means") {
    // two tight clusters around (+1,0,...) and (0,+1,...); init centroids =
    // vectors 0 and 1 (one from each cluster by construction)
    val vecs = (0L until 20L).map { i =>
      val base = if (i % 2 == 0) Array(1.0f, 0.0f) else Array(0.0f, 1.0f)
      val jitter = (i / 2).toFloat / 100.0f
      (i, Array(base(0) + (if (i % 2 == 0) jitter else 0f),
        base(1) + (if (i % 2 == 1) jitter else 0f), 0.1f, 0.2f), 0)
    }.toDF("vec_id", "embedding", "label")
    val cents = Similarity.kmeansCodebook(vecs, k = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(cents.keySet == Set(0L, 1L))
    // cluster 0 (even ids): dim0 values are quantize(1.00..1.09) = 1000..1090,
    // floor-mean = floor(10450/10) = 1045; dim1 exactly 0
    assert(cents(0L)(0) == 1045L && cents(0L)(1) == 0L)
    assert(cents(1L)(0) == 0L && cents(1L)(1) == 1045L)
    // shared dims quantize exactly
    assert(cents(0L)(2) == 100L && cents(0L)(3) == 200L)
    // assignment puts every even id in centroid 0's list, odd in 1's
    val q = vecs.select(col("vec_id"), Similarity.quantize(col("embedding")).as("qv"))
    val assigned = Similarity.assignToCentroids(q,
        Similarity.kmeansCodebook(vecs, 2, 2).select(col("cent_id"), col("cv")))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(assigned.forall { case (v, c) => c == v % 2 })
  }

  test("multimodal: payload roundtrip, frames, thumbnail") {
    val p = Multimodal.fakePayload(docs, "doc_id", "text")
    val d = Multimodal.decodeStub(p).collect().map(r => r.getLong(0) -> r).toMap
    assert(d(1L).getAs[Int]("img_w") == (1 % 95 + 32))
    assert(d(1L).getAs[Int]("img_h") == (7 % 95 + 32))
    assert(d(1L).getAs[Int]("blob_len") ==
      "the quick brown fox jumps over the lazy dog".length + 2)
    val frames = Multimodal.sampleFrames(p, "doc_id", frameSize = 10, every = 2)
      .filter($"doc_id" === 1).select("frames").collect().head.getSeq[Array[Byte]](0)
    assert(frames.nonEmpty && frames.head.length == 10)
    val thumb = p.select(Multimodal.thumbnail(col("payload"), 4).as("t"))
      .limit(1).as[Array[Byte]].head()
    assert(thumb.length == 4)
  }

  test("multimodal: real PNG round trip through JDK ImageIO") {
    val ids = spark.range(0, 300, 1, 4).select($"id".as("doc_id"))
    val p = Multimodal.imagePayload(ids)
    // payload is a genuine PNG: magic bytes survive the codec
    val magic = p.filter($"doc_id" === 42).select("payload")
      .as[Array[Byte]].head().take(8).map(_ & 0xFF)
    assert(magic.sameElements(Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)))
    val d = Multimodal.decodeImages(p).collect().map(r => r.getLong(0) -> r).toMap
    (0L until 300L).foreach { id =>
      val w = id % 95 + 32; val h = (id * 7) % 95 + 32; val a = id % 256
      val sum = w * (h * a + h * (h - 1) / 2 - 256L * math.max(0L, a + h - 256))
      val r = d(id)
      assert(r.getLong(1) == w && r.getLong(2) == h && r.getLong(3) == w * h)
      assert(r.getLong(4) == sum, s"sum_luma mismatch for id=$id")
      assert(r.getLong(5) == sum * 1000 / (w * h))
    }
  }

  test("sceneCuts detects EVERY designed scene boundary (wrap-free " +
      "luma: boundary mean jumps 53 or 75, within-scene jumps 0)") {
    import spark.implicits._
    // ids chosen to sweep frame counts 6..13 and both jump directions
    val ids = (0L until 24L).toDF("doc_id")
    val got = Multimodal.sceneCuts(Multimodal.videoPayloadScenes(ids))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    (0L until 24L).foreach { id =>
      val nf = id % 8 + 6
      val expectedCuts = (nf - 1) / 4 // boundaries at f = 4, 8, 12
      val (frames, cuts, first) = got(id)
      assert(frames == nf)
      assert(cuts == expectedCuts,
        s"doc $id: $cuts of $expectedCuts boundaries detected")
      assert(first == 4L, s"doc $id: first cut at $first")
    }
  }

  test("multimodal: aHash from decoded pixels matches an independent " +
      "driver replay, including non-multiple-of-8 dimensions") {
    val ids = spark.range(0, 120, 1, 4).select($"id".as("doc_id"))
    val got = Multimodal.imageAHash(Multimodal.imagePayload(ids))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    (0L until 120L).foreach { id =>
      val w = (id % 95 + 32).toInt; val h = ((id * 7) % 95 + 32).toInt
      // replay from the generator formula: gray(y) = (id+y)%256, x-const.
      // block(by,bx) sum = bw * rowBandSum; compare cross-multiplied.
      val gr = (0 until h).map(y => (id + y) % 256)
      val total = w.toLong * gr.sum
      val bits = (0 until 8).flatMap { by =>
        val y0 = by * h / 8; val y1 = (by + 1) * h / 8
        val bandSum = gr.slice(y0, y1).sum
        (0 until 8).map { bx =>
          val x0 = bx * w / 8; val x1 = (bx + 1) * w / 8
          val blockSum = (x1 - x0).toLong * bandSum
          if (blockSum * w * h >= total * (x1 - x0) * (y1 - y0)) '1' else '0'
        }
      }.mkString
      assert(got(id) == bits, s"ahash mismatch for id=$id (w=$w h=$h)")
    }
    // every hash's 8-bit rows are uniform for x-constant gradients — a
    // structural sanity check that block membership matched block edges
    got.values.foreach { a =>
      a.grouped(8).foreach(row => assert(row.distinct.length == 1, a))
    }
    // and dup groups exist (no-wrap gradients share one hash)
    assert(got.values.toSeq.groupBy(identity).exists(_._2.length > 1))
  }

  test("imageNearDups: pigeonhole banding proposes every pair within " +
      "hamming<=6; over-threshold candidates verified out") {
    def flip(s: String, idxs: Int*) =
      idxs.foldLeft(s)((a, i) => a.updated(i, if (a(i) == '1') '0' else '1'))
    val base = "1" * 64
    val hashes = Seq(
      (1L, base),
      (2L, flip(base, 0)), // hamming 1 from base
      (3L, flip(base, 0, 8, 16, 24, 32, 40)), // 6 bits across 6 bands
      (4L, flip(base, 0, 8, 16, 24, 32, 40, 48, 56)), // one bit EVERY band
      (5L, "0" * 64) // far from everything
    ).toDF("doc_id", "ahash")
    val pairs = Multimodal.imageNearDups(hashes).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // guaranteed recall at hamming <= 6 (2 of 8 bands must stay intact)
    assert(pairs == Map(
      (1L, 2L) -> 1L, (1L, 3L) -> 6L, (2L, 3L) -> 5L, (3L, 4L) -> 2L))
    // (2,4) shares band 0 → PROPOSED, but hamming 7 > 6 → verified out;
    // (1,4) differs in every band → never even a candidate; 5 pairs with
    // nothing. The requirement guard:
    intercept[IllegalArgumentException] {
      Multimodal.imageNearDups(hashes, maxHamming = 8)
    }
  }

  test("multimodal: video fingerprint samples every 3rd frame and " +
      "collapses identical frame sequences") {
    val ids = spark.range(0, 80, 1, 4).select($"id".as("doc_id"))
    val got = Multimodal.videoFingerprint(Multimodal.videoPayload(ids))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    got.foreach { case (id, sampled, vhash) =>
      val nf = id % 8 + 2
      assert(sampled == (nf + 2) / 3, s"id=$id: expected ceil($nf/3) samples")
      assert(vhash.length == 32, "md5 hex")
    }
    // determinism: a second run reproduces every fingerprint
    val again = Multimodal.videoFingerprint(Multimodal.videoPayload(ids))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(got.sortBy(_._1).sameElements(again.sortBy(_._1)))
    // dup groups exist: wrap-free gradient videos with equal (nf, h
    // band structure) collapse
    assert(got.groupBy(_._3).exists(_._2.length > 1))
  }

  test("multimodal: audio fingerprint recovers the band mask from marked " +
      "clips; flat LCG noise is pinned degenerate") {
    val ids = spark.range(1, 100, 1, 4).select($"id".as("doc_id"))
    val marked = Multimodal.audioFingerprint(
        Multimodal.audioPayloadMarked(ids))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    (1L until 100L).foreach { id =>
      // a 9x band always clears the mean; a 1x band never does once any
      // burst exists — so the fingerprint IS the low byte of the id
      val expected = (0 until 8).map(b =>
        if (((id >> b) & 1L) == 1L) '1' else '0').mkString
      assert(marked(id) == expected, s"id=$id")
    }
    // the unmarked synthesis has a flat energy profile: every clip lands
    // in one bucket (why the gate uses the marked synthesis)
    val flat = Multimodal.audioFingerprint(Multimodal.audioPayload(ids))
      .select("afp").distinct().count()
    assert(flat == 1L)
  }

  test("topUnigramStats equals repetitionStats' unigram columns and " +
      "drops blank docs") {
    val d = Seq(
      (1L, "a a a b c"),      // top 3/5
      (2L, "x y z"),          // top 1/3
      (3L, "only"),           // single token: top 1/1
      (4L, "   "),            // blank: dropped
      (5L, "w w")).toDF("doc_id", "text")
    val uni = TextAnalysis.topUnigramStats(d, "doc_id", col("text"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(uni.toSeq == Seq((1L, 5L, 0.6), (2L, 3L, 1.0 / 3),
      (3L, 1L, 1.0), (5L, 2L, 1.0)))
    // same values as the full repetitionStats' unigram half
    val full = TextAnalysis.repetitionStats(d, "doc_id", col("text"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Double]("top_unigram_frac")))
    assert(full.toSeq == uni.toSeq)
  }

  test("encodeTokens: literal-map and broadcast-UDF forms are identical, " +
      "including OOV, empty, and null inputs") {
    val vocab = (1 to 100).map(i => s"w$i" -> i.toLong).toMap
    val d = Seq(
      (1L, "w1 w50 w100 unknown w2"),
      (2L, "all oov here"),
      (3L, ""),
      (4L, null: String)).toDF("id", "text")
    val toks = when(col("text").isNotNull,
      TextAnalysis.tokens(col("text")))
    def run(maxLiteral: Int) = d.select(col("id"),
        TextAnalysis.encodeTokens(toks, vocab, maxLiteral).as("ids"))
      .orderBy("id").collect()
      .map(r => r.getLong(0) -> Option(r.getSeq[Long](1)).map(_.toList))
    val lit0 = run(maxLiteral = 1000)   // literal-map form
    val udf0 = run(maxLiteral = 1)      // forced broadcast-UDF form
    assert(lit0.toSeq == udf0.toSeq)
    val m = lit0.toMap
    assert(m(1L).contains(List(1L, 50L, 100L, 0L, 2L)))
    assert(m(2L).contains(List(0L, 0L, 0L)))
    assert(m(4L).isEmpty) // null text → null ids in BOTH forms
  }

  test("multimodal: audio fingerprint is exact past 2^18 samples " +
      "(the 64-bit cross-product would wrap)") {
    import javax.sound.sampled._
    // 400k samples, loud first half: band(b)*n ~ 1.8e19 > 2^63, so the
    // pre-128-bit compare wrapped negative and read loud bands as '0'
    val n = 400000
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n / 2) {
      pcm(2 * i) = (30000 & 0xFF).toByte
      pcm(2 * i + 1) = ((30000 >> 8) & 0xFF).toByte
      i += 1
    }
    val fmt = new AudioFormat(8000f, 16, 1, true, false)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong),
      AudioFileFormat.Type.WAVE, bos)
    val out = Multimodal.audioFingerprint(
      Seq((1L, bos.toByteArray)).toDF("doc_id", "payload")).collect()
    assert(out.head.getLong(1) == n.toLong)
    assert(out.head.getString(2) == "11110000")
  }

  test("multimodal: real WAV round trip through javax.sound.sampled") {
    val ids = spark.range(0, 50, 1, 4).select($"id".as("doc_id"))
    val p = Multimodal.audioPayload(ids)
    // payload is a genuine RIFF/WAVE container
    val head = p.filter($"doc_id" === 7).select("payload")
      .as[Array[Byte]].head()
    assert(new String(head.take(4), "US-ASCII") == "RIFF")
    assert(new String(head.slice(8, 12), "US-ASCII") == "WAVE")
    val d = Multimodal.decodeAudio(p).collect().map(r => r.getLong(0) -> r).toMap
    (0L until 50L).foreach { id =>
      val n = id % 800 + 100
      val sum = (0L until n).map { i =>
        val s = (id * 31 + i * 7) % 65536 - 32768; s * s
      }.sum
      val r = d(id)
      assert(r.getLong(1) == 8000L && r.getLong(2) == n)
      assert(r.getLong(3) == n * 1000 / 8000)
      assert(r.getLong(4) == sum, s"sum_sq mismatch for id=$id")
      assert(r.getLong(5) == sum / n)
    }
  }

  test("multimodal: video container decodes sampled frames, skips the rest") {
    val ids = spark.range(0, 60, 1, 4).select($"id".as("doc_id"))
    val p = Multimodal.videoPayload(ids)
    // container structure: 4-byte BE length prefix, then a genuine PNG
    val head = p.filter($"doc_id" === 5).select("payload").as[Array[Byte]].head()
    val len0 = java.nio.ByteBuffer.wrap(head).getInt
    assert(len0 > 0 && len0 < head.length)
    assert(head.slice(4, 8).map(_ & 0xFF).sameElements(Array(0x89, 0x50, 0x4E, 0x47)))
    val d = Multimodal.decodeVideoFrames(p, every = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    (0L until 60L).foreach { id =>
      val nf = id % 8 + 2
      val w = id % 31 + 16; val h = (id * 3) % 31 + 16
      (0L until nf).filter(_ % 3 == 0).foreach { f =>
        val a = (id + f * 17) % 256
        val sum = w * (h * a + h * (h - 1) / 2 - 256L * math.max(0L, a + h - 256))
        val r = d((id, f))
        assert(r.getLong(2) == w && r.getLong(3) == h && r.getLong(4) == w * h)
        assert(r.getLong(5) == sum, s"sum_luma mismatch for id=$id f=$f")
        assert(r.getLong(6) == sum * 1000 / (w * h))
      }
      // non-sampled frames emit nothing (and were never decoded)
      assert((0L until nf).filterNot(_ % 3 == 0).forall(f => !d.contains((id, f))))
    }
    assert(d.size == (0L until 60L).map(id => (id % 8 + 2 + 2) / 3).sum)
  }

  test("pii: per-kind counts and sequential redaction") {
    val df = Seq(
      (1L, "mail a.b-c_d%x+1@sub.example.co.uk now"),
      (2L, "call (555) 123-4567 or 555.123.4567 today"),
      (3L, "host 192.168.0.1 and 10.0.0.255."),
      (4L, "no pii here at all"),
      (5L, "u@x.io 555-123-4567 1.2.3.4")
    ).toDF("id", "t")
    val out = df.select(
        Seq(col("id")) ++
          TextAnalysis.piiCounts(col("t")).map { case (n, c) => c.as(n) } :+
          TextAnalysis.piiRedact(col("t")).as("red"): _*)
      .orderBy("id").collect()
    val counts = out.map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(counts == Seq((1L, 0L, 0L), (0L, 2L, 0L), (0L, 0L, 2L),
      (0L, 0L, 0L), (1L, 1L, 1L)))
    val red = out.map(_.getAs[String]("red")).toSeq
    assert(red == Seq(
      "mail [EMAIL] now",
      "call [PHONE] or [PHONE] today", // dotted phone NOT seen by the IP pass
      "host [IP] and [IP].",
      "no pii here at all",
      "[EMAIL] [PHONE] [IP]"))
  }

  test("bigram LM score: exact scaled conditional probabilities") {
    val df = Seq((1L, "a b a b c"), (2L, "x y"), (3L, "solo"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bigramLmScore(df, "doc_id", col("text"))
      .orderBy("doc_id").collect()
    assert(out.length == 2) // "solo" has no bigram
    // corpus model: c2("a b")=2, c2("b a")=1, c2("b c")=1, c2("x y")=1;
    // prefixes: a->2, b->2, x->1
    // doc 1: p = 1e6 + 5e5 + 1e6 + 5e5 = 3e6 over 4 bigrams
    assert(out(0).getLong(1) == 4L && out(0).getLong(2) == 3000000L &&
      out(0).getDouble(3) == 750000.0)
    // doc 2: "x y" is the only x-prefixed bigram -> p = 1e6
    assert(out(1).getLong(1) == 1L && out(1).getLong(2) == 1000000L &&
      out(1).getDouble(3) == 1000000.0)
  }

  test("semantic dedup: earliest id per cluster-local near-set survives") {
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)), // init centroid A
      (1L, Seq(0.0f, 1.0f)), // init centroid B
      (2L, Seq(0.98f, 0.02f)), // cluster A, near-dup of 0
      (3L, Seq(0.02f, 1.0f)), // cluster B, near-dup of 1
      (4L, Seq(0.0f, 0.9f)), // cluster B, cosine 1.0 with 1
      (5L, Seq(-1.0f, 0.05f)) // assigned somewhere, near nothing
    ).toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(emb, threshold = 0.9, centroids = 2, iters = 1)
      .orderBy("vec_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(0L, 1L, 5L))
    // survivors 0 and 1 sit in different clusters
    val cents = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cents(0L) != cents(1L))
  }

  test("markup strip: tags out, entities unescaped, whitespace collapsed") {
    val d = Seq(
      (1L, """<div id="7"><p>a&amp;b</p> <br/>c &lt;tag&gt; &quot;q&#39;</div>"""),
      (2L, "no markup at all"),
      (3L, "&amp;lt;x double-escaped")).toDF("doc_id", "text")
    val out = d.select(col("doc_id"),
        TextAnalysis.tagCount(col("text")).as("n"),
        TextAnalysis.stripMarkup(col("text")).as("s"))
      .orderBy("doc_id").collect()
    assert(out(0).getLong(1) == 5L)
    assert(out(0).getString(2) == "a&b c <tag> \"q'")
    assert(out(1).getLong(1) == 0L && out(1).getString(2) == "no markup at all")
    // double-escaped &amp;lt; unescapes twice by the pinned step order
    assert(out(2).getString(2) == "<x double-escaped")
  }

  test("url canonicalization: case, ports, www, utm params, fragments") {
    val cases = Seq(
      // scheme+host fold, default port drops, www strips, fragment drops
      (1L, "HTTPS://WWW.Site.CoM:443/Docs/A?ref=x#frag",
        "https://site.com/Docs/A?ref=x", "site.com"),
      // utm mid-query: separator chain stays well-formed
      (2L, "https://a.b.site.com/p?utm_source=f&id=2&utm_campaign=c&z=1",
        "https://a.b.site.com/p?id=2&z=1", "site.com"),
      // utm-only query: the dangling ? goes too
      (3L, "http://site.com:80/p?utm_source=f", "http://site.com/p", "site.com"),
      // non-default port survives; path case is significant
      (4L, "https://site.com:8443/CaseSensitive",
        "https://site.com:8443/CaseSensitive", "site.com"),
      // anchoring: utm_ INSIDE a param name or value must survive
      (5L, "https://site.com/p?xutm_source=f&id=2",
        "https://site.com/p?xutm_source=f&id=2", "site.com"),
      (6L, "https://site.com/p?redirect=page_utm_x=1&id=2",
        "https://site.com/p?redirect=page_utm_x=1&id=2", "site.com"),
      // leading utm followed by a real param keeps a well-formed query
      (7L, "https://site.com/p?utm_a=1&utm_b=2&id=3",
        "https://site.com/p?id=3", "site.com"),
      // a default port for the OTHER scheme is a real port: https://:80
      // and http://:443 name different resources and must survive
      (8L, "https://site.com:80/p", "https://site.com:80/p", "site.com"),
      (9L, "http://site.com:443/p", "http://site.com:443/p", "site.com"))
    val out = cases.map(c => (c._1, c._2)).toDF("id", "url")
      .select(col("id"), TextAnalysis.canonicalUrl(col("url")).as("c"),
        TextAnalysis.urlDomain(col("url")).as("d"))
      .orderBy("id").collect()
    cases.zip(out).foreach { case ((id, _, canon, dom), row) =>
      assert(row.getString(1) == canon, s"case $id canonical")
      assert(row.getString(2) == dom, s"case $id domain")
    }
  }

  test("compression ratio: repetition compresses, novelty doesn't; " +
      "deterministic; null/empty conventions hold") {
    val rnd = new scala.util.Random(7)
    val novel = (1 to 200).map(_ =>
      s"${rnd.nextLong()}${rnd.alphanumeric.take(8).mkString}").mkString(" ")
    val d = Seq(
      (1L, "spam " * 400),            // templated repetition
      (2L, novel),                    // high-entropy text
      (3L, ""),                       // empty → ratio 1.0 by contract
      (4L, null.asInstanceOf[String]) // NULL propagates (F4)
    ).toDF("doc_id", "text")
    val out = TextAnalysis.withCompressionRatio(d, "text")
      .orderBy("doc_id").collect()
    val spamRatio = out(0).getAs[Double]("compress_ratio")
    val novelRatio = out(1).getAs[Double]("compress_ratio")
    assert(spamRatio < 0.05, s"repetition should crush: $spamRatio")
    assert(novelRatio > 0.4, s"novel text should resist: $novelRatio")
    assert(out(2).getAs[Double]("compress_ratio") == 1.0 &&
      out(2).getAs[Long]("raw_bytes") == 0L)
    assert(out(3).isNullAt(out(3).fieldIndex("compress_ratio")) &&
      out(3).isNullAt(out(3).fieldIndex("raw_bytes")))
    // deterministic: an independent run reproduces byte counts exactly
    val again = TextAnalysis.withCompressionRatio(d, "text")
      .orderBy("doc_id").collect()
    assert(out.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("property: chunker windows match an independent slice reference") {
    val rnd = new scala.util.Random(20260813L)
    val docs = (1L to 50L).map { id =>
      val n = rnd.nextInt(41) // 0..40 tokens
      (id, Seq.fill(n)(s"w${rnd.nextInt(9)}").mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    for ((chunkSize, stride) <- Seq((5, 3), (4, 4), (7, 1), (1, 1))) {
      val rows = Chunker.chunk(df, "doc_id", "text", chunkSize, stride)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getString(3)))
      val got = rows.toMap
      // row-count check first: the map compare alone would collapse
      // duplicated (doc_id, chunk_id) rows (e.g. a join fan-out bug)
      assert(rows.length == got.size, s"duplicate chunk keys at $chunkSize/$stride")
      val want = docs.flatMap { case (id, text) =>
        val toks = text.trim.split("\\s+").filter(_.nonEmpty)
        (0 until toks.length by stride).zipWithIndex.map { case (start, k) =>
          val w = toks.slice(start, start + chunkSize)
          (id, k.toLong) -> (w.length.toLong, w.mkString(" "))
        }
      }.toMap
      assert(got == want, s"chunkSize=$chunkSize stride=$stride")
      // non-overlapping windows reconstruct the token stream exactly
      if (stride == chunkSize) {
        val rebuilt = got.toSeq.sortBy(_._1).groupBy(_._1._1)
          .map { case (id, cs) =>
            id -> cs.sortBy(_._1._2).map(_._2._2).mkString(" ")
          }
        docs.filter(_._2.trim.nonEmpty).foreach { case (id, text) =>
          assert(rebuilt(id) == text.trim.split("\\s+").mkString(" "), s"doc $id")
        }
      }
    }
  }

  test("chunker: overlapping windows cover every token, short tail kept") {
    val d = Seq(
      (1L, "t1 t2 t3 t4 t5 t6 t7"),
      (2L, "a b"),
      (3L, "   ")            // no tokens -> no chunks
    ).toDF("doc_id", "text")
    val out = Chunker.chunk(d, "doc_id", "text", chunkSize = 3, stride = 2)
      .orderBy("doc_id", "chunk_id").collect()
    val doc1 = out.filter(_.getLong(0) == 1L)
      .map(r => (r.getLong(1), r.getLong(2), r.getString(3)))
    // starts 0,2,4,6: full windows then the 1-token tail
    assert(doc1.toSeq == Seq(
      (0L, 3L, "t1 t2 t3"), (1L, 3L, "t3 t4 t5"),
      (2L, 3L, "t5 t6 t7"), (3L, 1L, "t7")))
    assert(out.filter(_.getLong(0) == 2L).map(_.getString(3)).toSeq == Seq("a b"))
    assert(!out.exists(_.getLong(0) == 3L))
    // stride == chunkSize degenerates to non-overlapping fixed windows
    val flat = Chunker.chunk(d.filter($"doc_id" === 1), "doc_id", "text",
      chunkSize = 2, stride = 2).orderBy("chunk_id")
      .collect().map(_.getString(3))
    assert(flat.toSeq == Seq("t1 t2", "t3 t4", "t5 t6", "t7"))
  }

  test("duplicatedSpans: corpus-repeated grams merge into maximal token " +
      "intervals; overlapping islands union; clean docs report zeros") {
    import org.apache.spark.sql.functions.col
    // docs 1 and 2 share the run "a b c d e f" (two overlapping dup
    // 5-grams at pos 0,1 -> ONE span of 6 tokens); doc 3 is clean; doc 4
    // self-repeats "p q r s t" twice with a gap -> its dup 5-grams sit at
    // pos 0 and 6, intervals [0,5) and [6,11) do NOT touch -> 2 spans
    val docs = Seq(
      (1L, "a b c d e f x y z w v"),
      (2L, "q q q a b c d e f r r"),
      (3L, "k l m n o p k2 l2 m2"),
      (4L, "p q r s t gap p q r s t")
    ).toDF("doc_id", "text")
    val out = Dedup.duplicatedSpans(docs, "doc_id", col("text"), n = 5)
      .orderBy("doc_id")
      .select("doc_id", "n_spans", "max_span_tokens", "dup_tokens", "n_tokens")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, 1L, 6L, 6L, 11L),
      (2L, 1L, 6L, 6L, 11L),
      (3L, 0L, 0L, 0L, 9L),
      (4L, 2L, 5L, 10L, 11L)))
  }

  test("segmentDedup: repeated segments survive once, docs rebuild in order") {
    // seg size 3: doc 1 = [a b c][d e f], doc 2 repeats doc 1's first
    // segment then adds its own, doc 3 repeats BOTH of its own segments
    // within itself, doc 4 is entirely a copy of doc 1
    val d = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c x y z"),
      (3L, "p q r p q r"),
      (4L, "a b c d e f")
    ).toDF("doc_id", "text")
    val out = Dedup.segmentDedup(d, "doc_id", "text", segTokens = 3)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out(0) == ((1L, "a b c d e f", 2L, 2L)))  // first owner keeps all
    assert(out(1) == ((2L, "x y z", 1L, 2L)))        // shared boilerplate gone
    assert(out(2) == ((3L, "p q r", 1L, 2L)))        // within-doc repeat gone
    assert(out(3) == ((4L, "", 0L, 2L)))             // full copy loses everything
  }

  test("segmentDedup: short tail segment dedups like any other; " +
      "reconstruction preserves segment order") {
    val d = Seq(
      (10L, "w1 w2 w3 w4"),   // segments [w1 w2 w3], [w4]
      (11L, "w4 a b w1 w2 w3") // [w4 a b] unique; [w1 w2 w3] loses to doc 10
    ).toDF("doc_id", "text")
    val out = Dedup.segmentDedup(d, "doc_id", "text", segTokens = 3)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out(0) == ((10L, "w1 w2 w3 w4", 2L, 2L)))
    assert(out(1) == ((11L, "w4 a b", 1L, 2L)))
  }

  test("quantizedTopK: int8 codes rank like exact cosine on separated " +
      "vectors; zero vector codes to zeros") {
    val e = Seq(
      (0L, Array(1.0f, 0.1f, 0.0f), 0),
      (1L, Array(0.9f, 0.2f, 0.0f), 0),   // near the query
      (2L, Array(0.0f, 1.0f, 0.0f), 0),   // orthogonal-ish
      (3L, Array(-1.0f, -0.1f, 0.0f), 0), // opposite
      (4L, Array(0.0f, 0.0f, 0.0f), 0)    // zero vector
    ).toDF("vec_id", "embedding", "label")
    val top = Similarity.quantizedTopK(e, 0L, 4).collect()
    // zero vector guards to score 0.0 (NOT NaN, which would sort first
    // in a DESC order) — it ranks between the orthogonal and opposite
    assert(top.map(_.getLong(0)).toSeq == Seq(1L, 2L, 4L, 3L))
    top.foreach { r =>
      val approx = r.getDouble(1)
      val exact = r.getDouble(2)
      // 8-bit codes keep cosine within quantization error of exact
      assert(!approx.isNaN && math.abs(approx - exact) < 0.02,
        s"approx=$approx exact=$exact")
    }
  }

  test("quantizedTopK recall@10 vs brute force on the clustered corpus") {
    val vecs = (0L until 200L).map { i =>
      val emb = Array.tabulate(64)(j =>
        (((i * 31 + j * 17) % 101) - 50).toFloat / 50.0f)
      (i, emb, (i % 2).toInt)
    }.toDF("vec_id", "embedding", "label")
    val exact = Similarity.bruteForceTopK(vecs, 0L, 10)
      .collect().map(_.getLong(0)).toSet
    val quant = Similarity.quantizedTopK(vecs, 0L, 10)
      .collect().map(_.getLong(0)).toSet
    val recall = (exact & quant).size.toDouble / 10.0
    info(f"quantizedTopK recall@10: $recall%.2f")
    assert(recall >= 0.9, s"int8 quantization recall too low: $recall")
  }

  test("editVerifiedNearDups: jaccard proposes, levenshtein disposes — " +
      "exact copy confirmed at sim 1.0, half-length repetition dropped") {
    // shingle-SET jaccard is blind to repetition count: a document and
    // its half-length repetition have IDENTICAL shingle sets (jaccard
    // 1.0, same signature, every band collides — fully deterministic
    // proposal), but the edit distance between them is half the text
    val unit = "alpha bravo charlie delta"
    val long10 = Seq.fill(10)(unit).mkString(" ")
    val short5 = Seq.fill(5)(unit).mkString(" ")
    val d = Seq(
      (1L, long10), (2L, long10), // exact copies: lev 0, sim 1.0
      (3L, short5)                // same shingle SET, half the length
    ).toDF("doc_id", "text")
    val r = Dedup.editVerifiedNearDups(d, "doc_id", col("text"),
      minSim = 0.9)
    try {
      val rows = r.collect().map(x =>
        (x.getLong(0), x.getLong(1), x.getLong(3), x.getDouble(4))).toSeq
      assert(rows.map(t => (t._1, t._2)) == Seq((1L, 2L)),
        s"only the exact copy should survive minSim=0.9: $rows")
      assert(rows.head._3 == 0L && rows.head._4 == 1.0)
      // the repetition pair WAS proposed (jaccard 1.0) — prove the edit
      // verifier is the stage that dropped it, and its sim is ~0.5
      val loose = Dedup.editVerifiedNearDups(d, "doc_id", col("text"),
        minSim = 0.0)
      try {
        val all = loose.collect()
          .map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(4)).toMap
        assert(all.contains((1L, 3L)) && all.contains((2L, 3L)),
          s"fixture broken: repetition pair never proposed (${all.keySet})")
        assert(all((1L, 3L)) < 0.55 && all((1L, 3L)) > 0.4,
          s"repetition pair sim should be ~0.5: ${all((1L, 3L))}")
      } finally { loose.unpersist(); () }
    } finally { r.unpersist(); () }
  }

  test("jaccardEstimates: identical docs estimate 1.0; estimates are " +
      "k-agree fractions in [0,1]") {
    val d = Seq(
      (1L, "one two three four five six seven eight"),
      (2L, "one two three four five six seven eight"),
      (3L, "one two three four nine ten eleven twelve")
    ).toDF("doc_id", "text")
    val r = Dedup.jaccardEstimates(d, "doc_id", col("text"))
    try {
      val m = r.collect().map(x =>
        (x.getLong(0), x.getLong(1)) -> (x.getDouble(2), x.getDouble(3))).toMap
      assert(m((1L, 2L)) == ((1.0, 1.0)),
        s"identical docs must read true=est=1: ${m((1L, 2L))}")
      m.values.foreach { case (_, e) =>
        assert(e >= 0.0 && e <= 1.0 && (e * Dedup.NumHashes).isWhole,
          s"estimate $e is not a k-agree fraction")
      }
    } finally { r.unpersist(); () }
  }

  test("pqTopK: ADC recall@10 vs brute force; approx within PQ error") {
    val vecs = (0L until 200L).map { i =>
      val emb = Array.tabulate(64)(j =>
        (((i * 31 + j * 17) % 101) - 50).toFloat / 50.0f)
      (i, emb, (i % 2).toInt)
    }.toDF("vec_id", "embedding", "label")
    val exact = Similarity.bruteForceTopK(vecs, 0L, 10)
      .collect().map(_.getLong(0)).toSet
    val pq = Similarity.pqTopK(vecs, 0L, 10)
      .collect().map(_.getLong(0)).toSet
    val recall = (exact & pq).size.toDouble / 10.0
    info(f"pqTopK recall@10 (m=8, 16 cents): $recall%.2f")
    // measured 1.00 on this corpus — the 0.9 floor leaves headroom for
    // tie-order wobble without letting a real regression through
    assert(recall >= 0.9, s"PQ recall collapsed: $recall")
  }

  test("pqTopK: a codebook member reconstructs itself exactly " +
      "(its own subvectors are centroids, so ADC dot = true dot)") {
    val vecs = (0L until 40L).map { i =>
      val emb = Array.tabulate(64)(j =>
        (((i * 31 + j * 17) % 101) - 50).toFloat / 50.0f)
      (i, emb, 0)
    }.toDF("vec_id", "embedding", "label")
    // vectors 1..15 are codebook members: every subvector codes to its
    // own centroid (distance 0), so the ADC approximation is EXACT for
    // them — approx_score == score bit-for-bit
    val rows = Similarity.pqTopK(vecs, 0L, 39).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    val members = rows.filter { case (id, _, _) => id >= 1 && id <= 15 }
    assert(members.nonEmpty)
    members.foreach { case (id, approx, ex) =>
      assert(approx == ex, s"codebook member $id: approx=$approx exact=$ex")
    }
  }

  test("keepBestInGroups: highest score wins, ties go to lowest id, " +
      "singletons keep themselves") {
    import org.apache.spark.sql.functions.col
    // component {1,2,3}: 2 has the best score; component {5,6}: tied ->
    // lowest id 5; doc 9 is a singleton
    val docs = Seq((1L, 0.5), (2L, 0.9), (3L, 0.7), (5L, 0.4), (6L, 0.4),
      (9L, 0.1)).toDF("doc_id", "score")
    val groups = Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L))
      .toDF("id", "comp")
    val out = Dedup.keepBestInGroups(docs, "doc_id", col("score"), groups)
      .orderBy("doc_id")
      .select("doc_id", "comp", "keeper", "kept")
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(out == Seq(
      (1L, 1L, 2L, false), (2L, 1L, 2L, true), (3L, 1L, 2L, false),
      (5L, 5L, 5L, true), (6L, 5L, 5L, false),
      (9L, 9L, 9L, true)))
  }
  test("hashEmbed: dim counts partition the token list; map-only plan") {
    val df = Seq((1L, "a b c d e f"), (2L, "a a a"), (3L, "x"))
      .toDF("doc_id", "text")
    val dims = 8
    val out = df
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("_toks"))
      .select(col("doc_id"),
        TextAnalysis.hashResidues(col("_toks"), dims).as("_res"),
        size(col("_toks")).cast("long").as("n_tokens"))
      .select(col("doc_id") +: col("n_tokens") +:
        TextAnalysis.hashEmbed(col("_res"), dims): _*)
    val rows = out.collect()
    rows.foreach { r =>
      val n = r.getLong(1)
      val total = (0 until dims).map(j => r.getLong(2 + j)).sum
      assert(total == n, s"dim counts must sum to n_tokens: $r")
    }
    // identical tokens land in one bucket
    val doc2 = rows.find(_.getLong(0) == 2L).get
    assert((0 until dims).map(j => doc2.getLong(2 + j)).count(_ > 0) == 1)
    // vocabulary-free: the whole embedding is map-side, no exchange
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"hash embedding must not shuffle:\n$plan")
  }
}

class JoinOpsSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = graft.SparkTestSession.spark
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("asof backward: strict vs non-strict at equal ts; missing matches null") {
    val l = Seq((1L, "u", 10L), (2L, "u", 20L), (3L, "v", 5L)).toDF("id", "k", "t")
    val r = Seq(("u", 10L, 100L), ("u", 15L, 150L)).toDF("k", "t", "p")
    val strict = AsOfJoin.backward(l, r, "k", "t", Seq("p")).orderBy("id")
      .collect().map(x => x.getAs[Any]("prev_p"))
    assert(strict.toSeq == Seq(null, 150L, null))
    val nonstrict = AsOfJoin.backward(l, r, "k", "t", Seq("p"), strict = false)
      .orderBy("id").collect().map(x => x.getAs[Any]("prev_p"))
    assert(nonstrict.toSeq == Seq(100L, 150L, null))
  }

  test("asof payload is atomic: matched row's null fields stay null") {
    val l = Seq((1L, "u", 30L)).toDF("id", "k", "t")
    val r = Seq(("u", 10L, Some(100L), Some(5.0)), ("u", 20L, Some(200L), None))
      .map { case (k, t, p, v) => (k, t, p.map(Long.box).orNull.asInstanceOf[java.lang.Long],
        v.map(Double.box).orNull.asInstanceOf[java.lang.Double]) }
      .toDF("k", "t", "p", "v")
    val out = AsOfJoin.backward(l, r, "k", "t", Seq("p", "v")).collect().head
    assert(out.getAs[Any]("prev_p") == 200L) // latest match
    assert(out.isNullAt(out.fieldIndex("prev_v"))) // its null field stays null
  }

  test("asof forward: strict vs non-strict at equal ts; no later match null") {
    val l = Seq((1L, "u", 10L), (2L, "u", 20L), (3L, "v", 5L)).toDF("id", "k", "t")
    val r = Seq(("u", 10L, 100L), ("u", 15L, 150L)).toDF("k", "t", "p")
    val strict = AsOfJoin.forward(l, r, "k", "t", Seq("p")).orderBy("id")
      .collect().map(x => x.getAs[Any]("next_p"))
    // id1@10: next strictly-later is 15→150; id2@20: none; id3: other key
    assert(strict.toSeq == Seq(150L, null, null))
    val nonstrict = AsOfJoin.forward(l, r, "k", "t", Seq("p"), strict = false)
      .orderBy("id").collect().map(x => x.getAs[Any]("next_p"))
    assert(nonstrict.toSeq == Seq(100L, null, null))
  }

  test("bucketized range join equals naive inequality join, no dup pairs") {
    val pts = (0L until 60L).map(i => (i, s"k${i % 3}", i * 7 % 100)).toDF("pid", "k", "t")
    val ivs = (0L until 20L).map(i =>
      (i, s"k${i % 3}", (i * 13) % 80, (i * 13) % 80 + (i % 4) * 10)).toDF("iid", "k", "s", "e")
    val naive = pts.join(ivs, Seq("k")).filter($"t" >= $"s" && $"t" <= $"e")
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(naive.length == naive.toSet.size && naive.nonEmpty)
    for (width <- Seq(5L, 10L, 64L)) {
      val bucketized = RangeJoin.pointInInterval(pts, ivs, "t", "s", "e", Seq("k"), width)
        .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(bucketized.length == bucketized.toSet.size, s"dups at width $width")
      assert(bucketized.toSet == naive.toSet, s"mismatch at width $width")
    }
  }

  test("backwardWithin: stale matches null out exactly at the tolerance " +
      "boundary; in-bound matches identical to backward") {
    val l = Seq((1L, "u", 100L), (2L, "u", 105L), (3L, "u", 200L), (4L, "v", 50L))
      .toDF("id", "k", "t")
    val r = Seq(("u", 95L, 7L), ("u", 103L, 8L)).toDF("k", "t", "p")
    val out = AsOfJoin.backwardWithin(l, r, "k", "t", Seq("p"), tolerance = 5L)
      .orderBy("id").select("id", "prev_p")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getLong(1)))
    // id1: match t=95, age 5 == tolerance -> kept; id2: match t=103, age 2
    // -> kept; id3: match t=103, age 97 -> stale, nulled; id4: no match
    assert(out.toSeq == Seq((1L, 7L), (2L, 8L), (3L, null), (4L, null)))
    // without tolerance, id3 keeps the stale match — the bound is the only
    // difference
    val plain = AsOfJoin.backward(l, r, "k", "t", Seq("p"))
      .filter($"id" === 3L).select("prev_p").as[Long].head()
    assert(plain == 8L)
  }

  test("intervalOverlap: ownership emits each pair once even when the " +
      "overlap spans many buckets; non-overlap excluded; touching ends meet") {
    val l = Seq(("u", 0L, 100L, "L1"), ("u", 250L, 260L, "L2"))
      .toDF("k", "ls", "le", "lid")
    val r = Seq(("u", 40L, 90L, "R1"),   // nested in L1, spans buckets
      ("u", 100L, 120L, "R2"),           // touches L1 end exactly
      ("u", 150L, 200L, "R3"),           // disjoint from both
      ("u", 255L, 400L, "R4"),           // overlaps L2
      ("w", 0L, 100L, "R5"))             // other key
      .toDF("k", "rs", "re", "rid")
    // tiny bucket width: every interval spans MANY buckets — the
    // ownership filter must still emit each qualifying pair exactly once
    val out = RangeJoin.intervalOverlap(l, r, "ls", "le", "rs", "re",
        Seq("k"), bucketWidth = 10L)
      .select("lid", "rid").as[(String, String)].collect().toSeq.sorted
    assert(out == Seq(("L1", "R1"), ("L1", "R2"), ("L2", "R4")))
  }

  test("salted join equals plain join") {
    val l = Seq((1L, "a"), (1L, "b"), (2L, "c"), (3L, "d")).toDF("k", "lv")
    val r = Seq((1L, 10), (1L, 11), (2L, 20)).toDF("rk", "rv")
    val plain = l.join(r, l("k") === r("rk")).select("k", "lv", "rv")
      .collect().map(_.toSeq).toSet
    val salted = SkewJoin.saltedInner(l, r, "k", "rk", salts = 4)
      .select("k", "lv", "rv").collect().map(_.toSeq).toSet
    assert(salted == plain && plain.size == 5)
  }

}
