package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{AsOfJoin, Dedup, RangeJoin, Similarity, TextAnalysis, Timeseries, UnigramLm}
import graft.fixtures.{Tables, ZipfCorpus}

/** Standing 10× scale-stress harness (the tagged-copy protocol the round
  * notes ran ad-hoc, promoted to a tool): the heaviest operator families
  * (twenty as of r20) each run at base scale and at 10× input, and the wall-clock
  * ratio is the scale-safety evidence — a candidate-bounded operator
  * should grow SUBLINEARLY in wall time (shared scan/shuffle constants
  * amortize; candidate fan-out stays capped), where an uncapped design
  * would go quadratic under exactly these adversarial copies.
  *
  * The 10× construction is deliberately adversarial per family:
  *   - dedup/fuzzy: 10 id-shifted copies with IDENTICAL text — every doc
  *     gains 9 cross-copy near-identical siblings, densifying the pair
  *     graph ~100× (not just 10×);
  *   - as-of: copies share user keys with ts shifted +i µs — 10× ROWS
  *     PER KEY, the keyed-window worst axis;
  *   - range: 10× points AND 10× intervals — the match set grows ~60×
  *     while the ≤2-replica bucket bound must keep wall near-linear;
  *   - decode: 10× generated candump frames through parse → decode →
  *     tumbling bucket (the CLI spine) — expected ~linear (map-only);
  *   - ann: 10× id-shifted vector copies, every copy landing in the SAME
  *     LSH sign-bucket as its original (identical embeddings) — each
  *     probed bucket's candidate list grows 10×, the bucket-join worst
  *     axis; the batch 8-query probe must stay near-linear (the
  *     candidate join is bucket-equi bounded, never all-pairs).
  *
  * Output: ONE JSON line, `{"sf":…,"families":{"<name>":{"base":s,
  * "x10":s,"ratio":r}}}`, written to stdout and to
  * `$SPARK_GRAFT_STRESS_OUT` (default STRESS.json). Timing is min-of-2
  * after a session warmup (the bench methodology, shortened: stress
  * ratios compare within one JVM, so cross-rep weather mostly cancels).
  */
object Stress {

  private def fmt(d: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_STRESS_OUT", "STRESS.json")
    val spark = GraftSession.local(GraftSession.envCpus)
    spark.read.parquet(s"$sfDir/region.parquet")
      .groupBy("r_name").count().collect() // session warmup, untimed

    // claim-store home for the incremental family — signed below, after
    // family selection, and only when that family is selected (the
    // one-time cost dedupAgainstStore exists to avoid re-paying must
    // stay OUT of the timed body for the ratio to measure the claim)
    val incDir = Files.createTempDirectory("stress_incstore").toString

    val families: Seq[(String, Int => Unit)] = Seq(
      "dedup" -> (c => dedupSpine(spark, sfDir, c)),
      "fuzzy_decon" -> (c => fuzzyDecon(spark, sfDir, c)),
      "containment" -> (c => containment(spark, sfDir, c)),
      "asof" -> (c => asof(spark, sfDir, c)),
      "range" -> (c => range(spark, sfDir, c)),
      "decode_bucket" -> (c => decodeBucket(spark, c)),
      "dup_spans" -> (c => dupSpans(spark, sfDir, c)),
      "segment_dedup" -> (c => segDedup(spark, sfDir, c)),
      "ann" -> (c => ann(spark, sfDir, c)),
      "drop_ledger" -> (c => dropLedger(spark, sfDir, c)),
      "jaccard_est" -> (c => jaccardEst(spark, sfDir, c)),
      "incremental" -> (c => incremental(spark, sfDir, s"$incDir/x$c")),
      "prefix_join" -> (c => prefixJoin(spark, sfDir, c)),
      "duty_cycle" -> (c => dutyCycle(spark, sfDir, c)),
      "split_safe" -> (c => splitSafe(spark, sfDir, c)),
      "soft_weights" -> (c => softWeightsF(spark, sfDir, c)),
      "comp_sizes" -> (c => compSizes(spark, sfDir, c)),
      "unigram" -> (c => unigram(spark, c)),
      "zipf_prefix_join" -> (c => zipfPrefixJoin(spark, c)),
      "zipf_wordpiece" -> (c => zipfWordpiece(spark, c)))
    // NOT a family, deliberately: qm_scene_cuts is codec-bound (one JDK
    // ImageIO decode per stored frame, then a per-video lag window) —
    // linear in frame count by construction, with no candidate fan-out
    // or join whose growth a 10× copy test could expose; a family would
    // measure javax.imageio throughput, not a scale property.

    // SPARK_GRAFT_STRESS_ONLY=<name>[,<name>…]: adjudication filter (the
    // bench BENCH_ONLY precedent) — rerun a suspect family in isolation
    // without paying for the whole board. Validated HERE, before any
    // setup work: a set-but-empty value or a typo'd name must abort
    // loudly up front, not select zero families (a silent no-op board)
    // or pay the corpus-sized claim-store signing first.
    val selected = sys.env.get("SPARK_GRAFT_STRESS_ONLY") match {
      case None => families
      case Some(raw) =>
        val names = raw.split(",").map(_.trim).filter(_.nonEmpty).toSet
        require(names.nonEmpty,
          "SPARK_GRAFT_STRESS_ONLY is set but names no families " +
            s"(known: ${families.map(_._1).mkString(", ")})")
        val unknown = names -- families.map(_._1).toSet
        require(unknown.isEmpty,
          s"SPARK_GRAFT_STRESS_ONLY names unknown families: $unknown " +
            s"(known: ${families.map(_._1).mkString(", ")})")
        families.filter(f => names(f._1))
    }

    // UNTIMED setup for the incremental family (only when selected):
    // sign the day-1 corpus into claim stores at base and 10× scale once
    if (selected.exists(_._1 == "incremental"))
      Seq(1, 10).foreach { c =>
        Dedup.buildClaimStore(docCopies(spark, sfDir, c), "doc_id",
          col("text"), s"$incDir/x$c")
      }

    // cleanup in finally: a family failure must not leak the (10×
    // corpus-sized) signed claim stores into the temp dir
    val results =
      try selected.map { case (name, run) =>
        val base = time(spark, run(1))
        val x10 = time(spark, run(10))
        System.err.println(
          f"[stress] $name base ${base}%.3f s -> x10 ${x10}%.3f s (${x10 / base}%.2fx)")
        name -> (base, x10)
      } finally rmTree(new java.io.File(incDir))
    val body = results.map { case (n, (b, x)) =>
      s""""$n":{"base":${fmt(b)},"x10":${fmt(x)},"ratio":${fmt(x / b)}}"""
    }.mkString(",")
    val json = s"""{"sf":"$sfDir","families":{$body}}"""
    println(json)
    Files.write(Paths.get(outPath), (json + "\n").getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete(); ()
  }

  /** Min-of-2 wall seconds; caches dropped between reps so rep 2 is not
    * served from rep 1's blocks.
    */
  private def time(spark: SparkSession, body: => Unit): Double =
    (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      body
      val sec = (System.nanoTime() - t0) / 1e9
      GraftSession.release(spark)
      sec
    }.min

  /** Shared copy builder: `copies` id-shifted unions of a table, payload
    * columns unchanged — every row gains `copies-1` identical-payload
    * siblings under fresh ids (the adversarial densification axis).
    */
  private def idShiftedCopies(spark: SparkSession, path: String,
      idCol: String, payloadCols: Seq[String], copies: Int): DataFrame = {
    val d = spark.read.parquet(path).select((idCol +: payloadCols).map(col): _*)
    if (copies == 1) d
    else (0 until copies).map { i =>
      d.select((col(idCol) + lit(i * 100000000L)).as(idCol) +:
        payloadCols.map(col): _*)
    }.reduce(_.unionByName(_))
  }

  /** 10 id-shifted copies, text unchanged: every doc gains 9 identical-
    * text siblings across copies.
    */
  private def docCopies(spark: SparkSession, dir: String, copies: Int): DataFrame =
    idShiftedCopies(spark, s"$dir/documents.parquet", "doc_id",
      Seq("text"), copies)

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** 10 id-shifted embedding copies, vectors unchanged: every original's
    * sign-bucket gains 9 identical-vector siblings — the candidate-list
    * densification axis for the bucket join.
    */
  private def vecCopies(spark: SparkSession, dir: String, copies: Int): DataFrame =
    idShiftedCopies(spark, s"$dir/embeddings.parquet", "vec_id",
      Seq("embedding"), copies)

  private def ann(spark: SparkSession, dir: String, copies: Int): Unit = {
    val q = Similarity.batchQueries(
      spark.read.parquet(s"$dir/embeddings.parquet")
        .select("vec_id", "embedding"),
      col("vec_id") < 8)
    noop(Similarity.lshTopKBatch(vecCopies(spark, dir, copies), q, k = 10))
  }

  private def dedupSpine(spark: SparkSession, dir: String, copies: Int): Unit = {
    // observed band-bucket cap drops: the number that distinguishes
    // "identical copies densified the buckets" (expected here — every
    // copy shares its original's signature, so buckets blow past the cap
    // by design) from silent recall loss on a production corpus
    val obs = org.apache.spark.sql.Observation(s"dedup_cap_x$copies")
    val pairs = Dedup.minhashNearDups(docCopies(spark, dir, copies),
      "doc_id", col("text"), capObs = Some(obs))
    try {
      noop(Dedup.connectedComponents(pairs))
      System.err.println(s"[stress] dedup copies=$copies " +
        s"capped_pairs=${obs.get("capped_pairs")} " +
        s"overcap_members=${obs.get("overcap_members")}")
    } finally { pairs.unpersist(); () }
  }

  /** Worst case for span detection: identical copies make EVERY position
    * a duplicated position, so the islands pass runs over the whole
    * corpus, one giant span per doc.
    */
  private def dupSpans(spark: SparkSession, dir: String, copies: Int): Unit =
    noop(graft.ops.Dedup.duplicatedSpans(
      docCopies(spark, dir, copies), "doc_id", col("text")))

  /** Design point for segment dedup: identical copies make EVERY segment
    * a corpus-wide duplicate, so the winner aggregation's map-side
    * partials must collapse ~10 occurrences per distinct segment before
    * the wire, and the rebuild still touches all 10× docs.
    */
  private def segDedup(spark: SparkSession, dir: String, copies: Int): Unit = {
    val r = Dedup.segmentDedup(docCopies(spark, dir, copies), "doc_id", "text")
    r.unpersist()
    ()
  }

  /** The two most expensive board gates, stressed on the dedup
    * densification axis. Identical copies make every doc a member of a
    * 10-deep EXACT-dup group, so the ledger's tier 1 catches all the
    * added mass and the BOW/near-dup tiers see base-sized survivor sets
    * — the composed three-tier chain must stay near-flat, which is
    * exactly its shrinking-survivor-sets scale claim.
    */
  /** EXACT prefix-filter join under copy densification: every doc gains
    * 9 IDENTICAL-text siblings, so TRUE near-dup pairs grow ~100× (45
    * within-group pairs per original group) — the wall should track the
    * output's shuffle cost, never square in the corpus: candidates form
    * only on shared rare-prefix SHINGLES (the ~27k-entry shingle
    * vocabulary, not the degenerate ~31-word one), and the length
    * filter prunes before verification.
    */
  private def prefixJoin(spark: SparkSession, dir: String, copies: Int): Unit = {
    // observed candidate volume: the one number that distinguishes
    // output-sensitive growth (true pairs densified) from a degenerate
    // vocabulary going all-pairs — printed per rep so the stress log
    // carries the diagnosis, not just the wall
    val obs = org.apache.spark.sql.Observation(s"prefix_join_x$copies")
    noop(Dedup.prefixFilterNearDups(docCopies(spark, dir, copies),
      "doc_id", col("text"), candObs = Some(obs)))
    System.err.println(s"[stress] prefix_join copies=$copies " +
      s"candidate_pairs=${obs.get("candidate_pairs")}")
  }

  /** Duty cycle under 10× rows PER KEY (ts shifted +i µs — the
    * keyed-window worst axis, same construction as asof): both analytic
    * windows partition by the key, so expected near-linear.
    */
  private def dutyCycle(spark: SparkSession, dir: String, copies: Int): Unit =
    noop(Timeseries.dutyCycle(eventCopies(spark, dir, copies), "user_id",
      col("us"), when(col("value") >= 100.0, "high").otherwise("low"),
      "event_id"))

  private def dropLedger(spark: SparkSession, dir: String, copies: Int): Unit =
    noop(Dedup.dropLedger(docCopies(spark, dir, copies), "doc_id", col("text")))

  /** Estimator audit under pair densification: every band bucket gains
    * 9 identical-signature siblings, so candidate pairs grow ~100×
    * within the BandBucketCap bound and the signature/shingle joins
    * behind both estimates are the stressed edge.
    */
  private def jaccardEst(spark: SparkSession, dir: String, copies: Int): Unit =
    noop(Dedup.jaccardEstimates(docCopies(spark, dir, copies), "doc_id",
      col("text")))

  /** Day-2 ingest against a 10× day-1 corpus: the STORE densifies (10×
    * claim rows, pre-signed untimed), the snapshot stays base-sized with
    * ids disjoint from every store corpus — the recurring-crawl claim
    * under test is that run cost is O(|snapshot|) plus a columnar
    * (band, bkey) store scan, NOT O(|corpus|) re-signing; the ratio
    * should sit far below the 10× store growth. Every snapshot text
    * exists in the store, so the block join matches maximally (the
    * match-dense worst case). Claims appended by the previous rep are
    * pre-cleaned (one local dir delete, noise vs the run) so each rep
    * dedups against the same day-1 store.
    */
  private def incremental(spark: SparkSession, dir: String,
      storePath: String): Unit = {
    Option(new java.io.File(storePath).listFiles()).foreach(
      _.filter(f => f.getName.startsWith("claim_batch=") &&
          f.getName != "claim_batch=0")
        .foreach(rmTree))
    val snap = docCopies(spark, dir, 1)
      .select((col("doc_id") + lit(1000000000000L)).as("doc_id"), col("text"))
    val surv = Dedup.dedupAgainstStore(snap, "doc_id", col("text"), storePath)
    surv.unpersist()
    ()
  }

  private def fuzzyDecon(spark: SparkSession, dir: String, copies: Int): Unit = {
    val r = Dedup.fuzzyDecontaminate(docCopies(spark, dir, copies),
      "doc_id", col("text"), TextAnalysis.md5Long(col("text")) % 20 === 1)
    r.unpersist()
    ()
  }

  /** Containment decontamination under 10× TRAIN copies with a FIXED
    * eval set (originals only — the 100 TB asymmetry: the train side
    * grows, the eval set does not): every eval shingle matches 10× the
    * train shingles, so the observed `shingle_hits` fan-out grows ~10×
    * while the broadcast inverted-index join must keep the wall
    * near-linear. The hit count is printed per rep — the containment
    * twin of the prefix_join candidate diagnosis.
    */
  private def containment(spark: SparkSession, dir: String, copies: Int): Unit = {
    val obs = org.apache.spark.sql.Observation(s"containment_x$copies")
    val r = Dedup.containmentDecontaminate(docCopies(spark, dir, copies),
      "doc_id", col("text"),
      col("doc_id") < 100000000L && TextAnalysis.md5Long(col("text")) % 20 === 1,
      hitObs = Some(obs))
    r.unpersist()
    System.err.println(s"[stress] containment copies=$copies " +
      s"shingle_hits=${obs.get("shingle_hits")}")
    ()
  }

  /** Contamination-safe split under copy densification: identical copies
    * densify the verified pair graph ~100×, the pointer-jump closure and
    * fold hashing run over the label relation, and the cross-fold purity
    * count joins pair-bounded relations — expected output-sensitive
    * growth, far below quadratic, with purity REQUIRED to hold (n_cross
    * = 0 is the operator's contract, checked at 10× too).
    */
  private def splitSafe(spark: SparkSession, dir: String, copies: Int): Unit = {
    val r = Dedup.contaminationSafeSplit(docCopies(spark, dir, copies),
      "doc_id", col("text"))
    try {
      val nCross = r.pairs
        .join(r.folds.select(col("doc_id").as("doc_a"), col("fold").as("fold_a")), "doc_a")
        .join(r.folds.select(col("doc_id").as("doc_b"), col("fold").as("fold_b")), "doc_b")
        .filter(col("fold_a") =!= col("fold_b")).count()
      require(nCross == 0, s"safe split leaked $nCross cross-fold pairs at x$copies")
      noop(r.folds)
    } finally { r.pairs.unpersist(); () }
  }

  /** Soft dedup weights under the same densification: weight = 1/|comp|
    * over the closure labels, one label-sized join back to the corpus —
    * the corpus side is the 10× axis, the label side pair-bounded.
    */
  private def softWeightsF(spark: SparkSession, dir: String, copies: Int): Unit = {
    val d = docCopies(spark, dir, copies)
    val pairs = Dedup.minhashNearDups(d, "doc_id", col("text"))
    try noop(Dedup.softWeights(d, "doc_id", pairs))
    finally { pairs.unpersist(); () }
  }

  /** Component-size histogram under densification: every original
    * near-dup component inflates ~10× in membership, the two histogram
    * aggregations stay label-relation-sized.
    */
  private def compSizes(spark: SparkSession, dir: String, copies: Int): Unit = {
    val pairs = Dedup.minhashNearDups(docCopies(spark, dir, copies),
      "doc_id", col("text"))
    try noop(Dedup.connectedComponents(pairs)
      .groupBy("comp").agg(count(lit(1)).as("sz"))
      .groupBy("sz").agg(count(lit(1)).as("n_components")))
    finally { pairs.unpersist(); () }
  }

  /** Zipf-style generated corpus for the tokenizer-trainer stress: BOTH
    * the corpus (5k·c docs) and the vocabulary (rare-tier word space
    * 30k·c) grow with `c` — the double axis the word-table-bounded claim
    * must survive (10× occurrences alone would leave the DP input
    * unchanged and measure nothing). Same construction as
    * ZipfCorpus.zipfDocs, generated from spark.range so the word space
    * can scale.
    */
  private[graft] def zipfCorpus(spark: SparkSession, copies: Int): DataFrame = {
    import graft.ops.TextAnalysis.md5Long
    spark.range(5000L * copies).select(col("id").as("doc_id"))
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("_len", lit(30L) +
        md5Long(concat(col("doc_id").cast("string"), lit("_len"))) % 41L)
      .select(col("doc_id"), ZipfCorpus.zipfText(col("doc_id"), lit(false),
        col("_len"), 30000L * copies).as("text"))
  }

  /** ZipfCorpus.zipfDocs' construction (3-tier mixture, planted twins at
    * doc_id % 10 == 1, letters-only words) generated from spark.range so
    * the DOC axis scales, with the vocabulary FIXED at the realistic 30k
    * types — the production scaling axis: a crawl grows 10×, the language
    * does not. Contrast both existing text stressors: docCopies densifies
    * (identical texts → ~100× true pairs, the output-sensitive worst
    * case) and zipfCorpus scales vocab WITH the corpus (the trainers'
    * double axis). This corpus is the non-degenerate middle: fresh docs,
    * fresh twins (~10% of docs), stable type space.
    */
  private[graft] def zipfTwinCorpus(spark: SparkSession, copies: Int): DataFrame = {
    import graft.ops.TextAnalysis.md5Long
    spark.range(5000L * copies).select(col("id").as("doc_id"))
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        when(col("doc_id") % 10 === 1, col("doc_id") - 1)
          .otherwise(col("doc_id")).as("_b"),
        (col("doc_id") % 10 === 1).as("_tw"))
      .withColumn("_len", lit(30L) +
        md5Long(concat(col("_b").cast("string"), lit("_len"))) % 41L)
      .select(col("doc_id"),
        ZipfCorpus.zipfText(col("_b"), col("_tw"), col("_len"), 30000L).as("text"))
  }

  /** The prefix join's scaling MEASURED on a realistic vocabulary
    * (VERDICT r19 item 2): the qz_prefix_join gate certifies correctness
    * on zipfDocs; this family certifies the scale claim — at 30k word
    * types the 3-shingle space is effectively unique per occurrence, so
    * 10× FRESH docs grow true pairs (planted twins) ~10× and candidates
    * must track that, not square: densification is a property of the
    * legacy ~31-word corpus (prefix_join family, observed ~100× pairs),
    * not of the operator. The candidate counter prints the evidence.
    */
  private def zipfPrefixJoin(spark: SparkSession, copies: Int): Unit = {
    val obs = org.apache.spark.sql.Observation(s"zipf_prefix_join_x$copies")
    noop(Dedup.prefixFilterNearDups(zipfTwinCorpus(spark, copies),
      "doc_id", col("text"), candObs = Some(obs)))
    System.err.println(s"[stress] zipf_prefix_join copies=$copies " +
      s"candidate_pairs=${obs.get("candidate_pairs")}")
  }

  /** WordPiece trainer at 10× docs, FIXED vocabulary: the word table —
    * the per-round argmax input — stays type-bounded (~15k rows at any
    * corpus size), so only the one-shot wordTable aggregation pays the
    * 10×; the expected ratio is far below linear. (The scaled-vocab
    * double axis is the `unigram` family's job.)
    */
  private def zipfWordpiece(spark: SparkSession, copies: Int): Unit = {
    val words = graft.ops.Bpe.wordTable(zipfTwinCorpus(spark, copies),
      col("text"))
    val (_, fin) = graft.ops.WordPiece.train(words, 3)
    fin.unpersist()
    ()
  }

  /** Unigram-LM trainer + encode (the two heaviest tokenizer gates) at
    * 10× corpus AND ~10× vocabulary: 2 EM rounds of the per-distinct-word
    * Viterbi DP, then the corpus-apply join-back — expected ~linear (DP
    * input and corpus both grow 10×); a per-OCCURRENCE DP would go 100×.
    */
  private def unigram(spark: SparkSession, copies: Int): Unit = {
    val docs = zipfCorpus(spark, copies)
    val words = UnigramLm.wordTable(docs, col("text"))
    val model = UnigramLm.train(words, rounds = 2, vocabSize = 64)
    val seg = words.select(col("w"),
      UnigramLm.viterbiPath(col("w"), model.probs).as("path"))
    noop(docs.select(explode(TextAnalysis.tokens(col("text"))).as("w"))
      .join(seg, "w")
      .agg(sum(length(col("path"))).as("total_path_chars"),
        count(lit(1)).as("n_words")))
  }

  /** Events with ts as micros long; copies share user keys, ts +i µs. */
  private def eventCopies(spark: SparkSession, dir: String, copies: Int): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), unix_micros(col("ts")).as("us"))
    if (copies == 1) ev
    else (0 until copies).map { i =>
      ev.select((col("event_id") + lit(i * 100000000L)).as("event_id"),
        col("user_id"), col("event_type"), col("value"),
        (col("us") + lit(i.toLong)).as("us"))
    }.reduce(_.unionByName(_))
  }

  private def asof(spark: SparkSession, dir: String, copies: Int): Unit = {
    val ev = eventCopies(spark, dir, copies)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("us"),
        col("event_id").as("purchase_id"), col("value").as("purchase_value"))
    noop(AsOfJoin.backward(
      ev.select("event_id", "user_id", "us"), purchases,
      key = "user_id", ts = "us", payload = Seq("purchase_id", "purchase_value")))
  }

  private def range(spark: SparkSession, dir: String, copies: Int): Unit = {
    val hourUs = 3600000000L
    val ev = eventCopies(spark, dir, copies)
    val points = ev.select(col("event_id"), col("user_id"), col("us"))
    val intervals = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("us").as("start_us"),
        (col("us") + hourUs).as("end_us"), col("event_id").as("purchase_id"))
    noop(RangeJoin.pointInInterval(points, intervals,
      "us", "start_us", "end_us", Seq("user_id"), bucketWidth = hourUs))
  }

  /** Generated candump lines (500k × copies frames over the mini.dbc
    * fleet) through the full parse → decode → tumbling-bucket spine.
    * Lines are generated DISTRIBUTED (spark.range → text files) so the
    * timed run measures the pipeline, not driver-side string building;
    * generation itself is untimed only in the sense that it is part of
    * both scales equally (the input must be a real file — the spine's
    * scan is the thing under test).
    */
  private def decodeBucket(spark: SparkSession, copies: Int): Unit = {
    val n = 500000L * copies
    val dir = Files.createTempDirectory("stress_candump").toString
    val path = s"$dir/frames"
    // 3 message ids from fixtures/mini.dbc: 100 (4B), 200 (8B), 300 (4B);
    // 4ms cadence like the fixture
    // `div`, not `/`: long division must stay integral for %d (Spark's
    // `/` on longs returns double). Products stay under Long.MaxValue at
    // any copies<=10 (5M ids), so ANSI overflow never fires.
    spark.range(n).selectExpr(
      """format_string('(%d.%06d) vcan0 %s',
        |  1700000000 + (id * 4000) div 1000000,
        |  (id * 4000) % 1000000,
        |  case when id % 3 = 0
        |         then format_string('100#%08X', (id * 2654435761) % 4294967296)
        |       when id % 3 = 1
        |         then format_string('200#%016X', id * 1099511628211)
        |       else format_string('300#%08X', (id * 40503) % 4294967296)
        |  end) as value""".stripMargin)
      .write.mode("overwrite").text(path)
    try {
      noop(graft.can.CanPipeline.decodeLog(spark, "fixtures/mini.dbc", path,
        graft.can.CanPipelineConfig(cacheMs = 10.0)))
    } finally rmTree(new java.io.File(dir))
  }
}
