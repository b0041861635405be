package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for the training-data pipeline: exact,
  * bag-of-words signature, MinHash+LSH banding, SimHash. All hash math is
  * md5-based and modular-arithmetic so the DuckDB oracle reproduces it
  * bit-for-bit; all DataFrame shapes are shuffle-minimal (hash-aggregate by
  * signature; band-join instead of all-pairs).
  *
  * Scale design: exact/BOW dedup is one hash aggregation (fully parallel).
  * MinHash is explode→aggregate (map-side combine on doc_id) followed by a
  * band self-join whose fan-out is bounded by band-bucket sizes — the
  * standard way to avoid the quadratic all-pairs join at 100 TB. Candidate
  * verification joins only candidate pairs back to shingle sets.
  */
object Dedup {

  val P = 1000000007L
  val NumHashes = 16
  val BandSize = 4
  def numBands: Int = NumHashes / BandSize

  /** Per-(band, bkey) bucket size above which the candidate join switches
    * from all-pairs to star edges. Without a bound, a cluster of k
    * identical documents (a million-doc boilerplate page at 100 TB) lands
    * in ONE bucket and the band join emits k²/2 candidate pairs from that
    * key alone — the single genuine scale-killer of naive LSH. Bounded
    * shape: the `cap` lowest doc_ids pair all-to-all (≤ cap²/2 pairs) and
    * EVERY over-cap member pairs with the bucket's minimum id (star edge),
    * so fan-out is O(cap² + k) while the cluster stays one connected
    * component — keep-min-id dedup still collapses all k members.
    * Deterministic (ordered by doc_id), so the DuckDB oracle reproduces
    * it exactly.
    *
    * Preservation caveat: connectivity is exact for the CANDIDATE graph
    * (and therefore for identical-doc clusters, whose every edge passes
    * verification). For merely-similar clusters the downstream
    * jaccard/hamming verify filters edges individually, and a surviving
    * star edge (bucket_min, d) can fail verification where a dropped
    * in-cap edge (x, d) would have passed — so capping can still lose
    * recall on borderline-threshold components. The OpsSpec preservation
    * test proves the pre-verification property; the cap trades that
    * sliver of recall for the O(k²) → O(cap²+k) fan-out bound.
    *
    * Measured (BandCapRecallSpec): on randomized 10-member clusters whose
    * pairwise jaccard straddles the 0.4 threshold, with the cap squeezed
    * to 4 (2.5× below cluster size, so most members survive only through
    * star edges), verified-component recall vs uncapped is 0.92 — and
    * capped reachability is always a subset of uncapped. At this default
    * cap of 32 the regime is rarer still: buckets only exceed the cap on
    * very large near-identical clusters, whose star edges verify.
    */
  val BandBucketCap = 32

  /** Bounded candidate pairs (doc_a < doc_b) from a (band, bkey, id)
    * relation: all-pairs within the `cap` lowest ids per bucket, plus a
    * star edge (bucket_min, id) for each over-cap member — see
    * [[BandBucketCap]]. `carry` columns (e.g. the simhash signature) ride
    * along as `<name>_a` / `<name>_b` for downstream verification.
    *
    * Single-join shape: the a-side is the `cap` lowest rows per bucket,
    * the b-side is EVERY row with its rank, and the pair condition
    * `a.id < b.id AND (b.rn <= cap OR a.rn = 1)` yields both edge
    * classes at once — all-pairs among the capped set when b is in-cap,
    * and only the bucket minimum (rn 1) when b is over-cap. One
    * row_number window (O(k log k) per bucket, its (band, bkey) hash
    * partitioning reused by the join exchange), per-bucket join work
    * O(cap·k), output O(cap² + k). Measured ~25% faster than the
    * equivalent capped-join ∪ star-edges UNION, which evaluates the
    * window subtree once per branch.
    */
  def bandedCandidates(bands: DataFrame, idCol: String, cap: Int,
      carry: Seq[String] = Nil,
      capObs: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    val w = Window.partitionBy("band", "bkey").orderBy(col(idCol))
    val ranked0 = bands.withColumn("_rn", row_number().over(w))
    // Observability seam (mirrors prefixFilterNearDups' candObs): a capped
    // bucket silently drops candidate pairs — recall loss with no number
    // attached. A member at rank r > cap keeps exactly ONE of its r-1
    // within-bucket pairs-as-larger-id (the star edge to rank 1), so it
    // drops r-2; `capped_pairs` sums that per (band, bkey) bucket. It is
    // an UPPER bound on globally lost candidates (another band can
    // re-surface the same pair), so observed-missed <= capped_pairs —
    // the inequality BandCapRecallSpec pins. `overcap_members` counts the
    // rows past the cap (bucket-degeneracy diagnosis: a ~31-word-style
    // vocabulary shows up here as counts ~ corpus size).
    val ranked = capObs match {
      case Some(o) => ranked0.observe(o,
        sum(when(col("_rn") > cap, col("_rn") - 2).otherwise(0))
          .cast("long").as("capped_pairs"),
        sum(when(col("_rn") > cap, 1).otherwise(0))
          .cast("long").as("overcap_members"))
      case None => ranked0
    }
    val a = ranked0.filter(col("_rn") <= cap).select(
      (col(idCol).as("doc_a") +: col("band") +: col("bkey") +:
        col("_rn").as("_rn_a") +: carry.map(c => col(c).as(s"${c}_a"))): _*)
    val b = ranked.select(
      (col(idCol).as("doc_b") +: col("band") +: col("bkey") +:
        col("_rn").as("_rn_b") +: carry.map(c => col(c).as(s"${c}_b"))): _*)
    a.join(b, Seq("band", "bkey"))
      .filter(col("doc_a") < col("doc_b") &&
        (col("_rn_b") <= cap || col("_rn_a") === 1))
      .select((Seq("doc_a", "doc_b") ++
        carry.flatMap(c => Seq(s"${c}_a", s"${c}_b"))).map(col): _*)
      .distinct()
  }

  /** Per-hash linear-permutation constants (fixed, shared with oracle). */
  val hashA: Seq[Long] = (0 until NumHashes).map(i => ((i + 1) * 2654435761L) % P)
  val hashB: Seq[Long] = (0 until NumHashes).map(i => (i * 40503L + 7919L) % P)

  import TextAnalysis.{md5Long, tokens}

  /** Exact-identity signature: md5 of the full text. */
  def exactSignature(text: Column): Column = md5(text)

  /** Bag-of-words signature: md5 over the sorted distinct token set —
    * catches reorderings/repetitions of the same vocabulary.
    */
  def bowSignature(text: Column): Column =
    md5(concat_ws("|", array_sort(array_distinct(tokens(text)))))

  /** Duplicate groups under a signature: (sig, n_docs, min_doc_id). */
  def dupGroups(df: DataFrame, idCol: String, sig: Column): DataFrame =
    df.groupBy(sig.as("sig"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keep_id"))
      .filter(col("n_docs") > 1)

  /** Word n-gram shingles over a MATERIALIZED token-array column.
    *
    * The token array must be a plain column reference, not an inline
    * `split(...)`: lambda bodies re-evaluate embedded subexpressions per
    * element, so an inline split would re-tokenize the document for every
    * token of every shingle (measured 8× slowdown on the bench corpus).
    */
  def shinglesOfTokens(toks: Column, n: Int = 3): Column =
    transform(
      sequence(lit(0), size(toks) - n),
      i => concat_ws(" ", (0 until n).map(k => element_at(toks, i + k + 1)): _*))

  /** Exploded distinct shingle hashes: (idCol, sh) — the common input of
    * minhash and jaccard verification. Repartitions to full parallelism
    * first: the explode fan-out is the expensive part and the upstream
    * table is often a single parquet row group.
    */
  def shingleHashes(df: DataFrame, idCol: String, text: Column, n: Int = 3): DataFrame =
    df.select(col(idCol), text.as("_text"))
      // fan out BEFORE tokenizing: the exchange then carries the raw text
      // (strictly fewer bytes than its own token array), and the tokenize
      // itself parallelizes instead of running on the single-row-group
      // scan task — projections are not pushed below a round-robin
      // repartition, so the placement holds in the physical plan
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol), tokens(col("_text")).as("_toks"))
      .filter(size(col("_toks")) >= n) // sequence(0, neg) would run backwards
      .select(col(idCol),
        explode(array_distinct(shinglesOfTokens(col("_toks"), n))).as("shingle"))
      .select(col(idCol), md5Long(col("shingle")).as("sh"))

  /** MinHash signature aggregation: k columns m0..m{k-1}, plus the
    * shingle-set size `nsh` — computed in the SAME aggregation so the
    * Jaccard verify step doesn't need a second pass over the shingles.
    */
  def minhashAgg(sh: DataFrame, idCol: String): DataFrame = {
    val aggs = (0 until NumHashes).map { i =>
      min((lit(hashA(i)) * (col("sh") % P) + hashB(i)) % P).as(s"m$i")
    } :+ count(lit(1)).as("nsh")
    sh.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH band keys: one row per (doc, band) with a hashed band signature.
    * `carry` columns of `sig` (e.g. the shingle-set size `nsh`) ride along
    * — a few bytes per band row, so downstream consumers can avoid a
    * corpus-sized join back to the signature table (see
    * [[minhashNearDupsFromShingles]]).
    */
  def bandKeys(sig: DataFrame, idCol: String,
      carry: Seq[String] = Nil): DataFrame = {
    val bands = (0 until numBands).map { b =>
      val cols = (0 until BandSize).map(r => col(s"m${b * BandSize + r}"))
      struct(lit(b).as("band"), md5(concat_ws(",", cols: _*)).as("bkey"))
    }
    sig.select(col(idCol) +: carry.map(col) :+ explode(array(bands: _*)).as("bk"): _*)
      .select(col(idCol) +: carry.map(col) :+
        col("bk.band").as("band") :+ col("bk.bkey").as("bkey"): _*)
  }

  /** Candidate pairs from LSH banding (distinct, a < b) over a
    * (possibly cached) shingle-hash relation.
    */
  def candidatePairsFromShingles(sh: DataFrame, idCol: String,
      bandCap: Int = BandBucketCap,
      capObs: Option[org.apache.spark.sql.Observation] = None): DataFrame =
    bandedCandidates(bandKeys(minhashAgg(sh, idCol), idCol), idCol, bandCap,
      capObs = capObs)

  /** Exact intersection sizes for candidate pairs, by ARRAY INTERSECTION
    * instead of explode-join-aggregate (r22): each doc's distinct shingle
    * hashes are collected into one array (a single aggregation over the
    * shared shingle relation — its exchange is reused by both join
    * sides), the candidate-bounded pair relation joins the two arrays,
    * and `n_common = size(array_intersect(...))` is computed per pair
    * with no intermediate row blowup. The previous shape joined the pair
    * relation back to the EXPLODED shingle rows twice and hash-aggregated
    * the matches by pair key — |candidates| × |shingles per doc|
    * intermediate rows (measured 102.8 CPU-seconds in qd_recall_audit's
    * verify stage at sf0.1, ~8M rows through two joins and a wide-key
    * hashAgg; the sampler put the time in BytesToBytesMap lookups and
    * UnsafeRow writes). Array containment is order-invariant, the inputs
    * are distinct by construction ([[shingleHashes]] explodes
    * array_distinct), so the size equals the old COUNT exactly; pairs
    * with an empty intersection now surface with n_common = 0 instead of
    * vanishing in the inner join — callers that must preserve the old
    * drop-silently behavior filter on n_common > 0.
    *
    * Extra columns on `cands` (na/nb, nsh/m* carries) pass through.
    */
  private def withCommonCounts(sh: DataFrame, idCol: String,
      cands: DataFrame): DataFrame = {
    val docArr = sh.groupBy(col(idCol)).agg(collect_list(col("sh")).as("_shs"))
    cands
      .join(docArr.select(col(idCol).as("doc_a"), col("_shs").as("_sa")), "doc_a")
      .join(docArr.select(col(idCol).as("doc_b"), col("_shs").as("_sb")), "doc_b")
      .withColumn("n_common",
        size(array_intersect(col("_sa"), col("_sb"))).cast("long"))
      .drop("_sa", "_sb")
  }

  /** Verified near-duplicate pairs: candidates with true shingle-set
    * Jaccard >= threshold. Jaccard is an exact ratio of integer counts.
    * Candidate fan-out per band bucket is bounded by `bandCap` (all-pairs
    * among the lowest ids + star edges to the bucket min — see
    * [[BandBucketCap]]).
    *
    * CONTRACT: the returned DataFrame is persisted (MEMORY_AND_DISK) and
    * already materialized — the caller owns the blocks and must call
    * `result.unpersist()` when done (or `spark.catalog.clearCache()` in a
    * harness). The intermediate shingle cache is released internally
    * before returning; only the (small, candidate-bounded) result stays.
    */
  def minhashNearDups(df: DataFrame, idCol: String, text: Column,
      threshold: Double = 0.4, bandCap: Int = BandBucketCap,
      capObs: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    // The shingle table feeds three consumers (signature agg, verify
    // join ×2), so it is cached — and released deterministically: the
    // (candidate-bounded, small) result is persisted and materialized
    // eagerly, after which the big shingle cache is dropped in `finally`.
    // Lineage stays intact (a lost result block recomputes through the
    // now-uncached shingles — slower, never fatal). Shingle-set sizes ride
    // along in the signature aggregation, so no separate sizes pass exists.
    val sh = shingleHashes(df, idCol, text).cache()
    try minhashNearDupsFromShingles(sh, idCol, threshold, bandCap, capObs)
    finally sh.unpersist()
  }

  /** [[minhashNearDups]] over a caller-owned (typically persisted)
    * shingle relation `(idCol, sh)` — the seam that lets a composition
    * like [[recallAudit]] compute the shingle explode ONCE and feed
    * both the minhash chain and the exact prefix join from it. Same
    * result contract as [[minhashNearDups]] (persisted + materialized,
    * caller owns the blocks); the shingle relation's lifecycle belongs
    * to the caller.
    */
  def minhashNearDupsFromShingles(sh: DataFrame, idCol: String,
      threshold: Double = 0.4, bandCap: Int = BandBucketCap,
      capObs: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    val sig = minhashAgg(sh, idCol)
    // shingle-set sizes RIDE THE BANDING as carry columns (8 bytes per
    // band row) instead of joining the corpus-sized signature table back
    // onto the verified pairs twice — two fewer shuffle joins on the
    // spine (r21, guide §2.3 "shuffle keys and metadata instead of
    // payloads"); nsh_a/nsh_b are functionally dependent on the pair ids,
    // so grouping by them changes no group and the jaccard is unchanged
    val cands = bandedCandidates(bandKeys(sig, idCol, carry = Seq("nsh")),
      idCol, bandCap, carry = Seq("nsh"), capObs = capObs)
    // explode-join-aggregate verify, deliberately NOT [[withCommonCounts]]
    // (measured r22): banded candidates are FEW by construction — the
    // point of LSH — so both verify joins broadcast the candidate side
    // and stream the cached shingle relation map-side with no corpus
    // shuffle; the array form's collect_list aggregation would ADD one
    // (qd_jaccard_est 1.09 → 1.44 s isolated under it). The array form
    // wins only where the candidate×shingle product explodes — the
    // prefix-filter exact join (see prefixFilterFromShingles).
    cands
      .join(sh.withColumnRenamed(idCol, "doc_a").withColumnRenamed("sh", "sha"), "doc_a")
      .join(sh.withColumnRenamed(idCol, "doc_b").withColumnRenamed("sh", "shb"), "doc_b")
      .filter(col("sha") === col("shb"))
      .groupBy("doc_a", "doc_b", "nsh_a", "nsh_b")
      .agg(count(lit(1)).as("n_common"))
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("nsh_a") + col("nsh_b") - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    match { case result =>
      result.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // materialize while sh is still cached; on failure release the
      // blocks — nobody gets a handle to unpersist them otherwise
      try result.count()
      catch { case e: Throwable => result.unpersist(); throw e }
      result
    }
  }

  /** Edit-distance verification of near-dup candidate pairs — the exact
    * final stage of the production minhash pipeline: bands propose,
    * jaccard screens, and an O(len·len) edit distance CONFIRMS, run only
    * on the surviving shortlist (never corpus×corpus — the whole point
    * of the banding is that the quadratic verifier touches a
    * pair-bounded relation). Shingle-bag jaccard is order-blind;
    * `levenshtein` is order-sensitive, so this is the stage that
    * separates true near-copies from same-vocabulary reshuffles.
    *
    * Scale shape: the corpus reduces to pair MEMBERS via one left-semi
    * join on the id (members are pair-bounded); both text fetches then
    * join bounded relations. Similarity = `1 − lev / max(len_a,
    * len_b)`; pairs below `minSim` drop.
    *
    * CONTRACT (same as [[minhashNearDups]]): the result is persisted and
    * materialized; the caller owns the blocks. The intermediate pair
    * relation is released before returning.
    *
    * Output: (doc_a, doc_b, jaccard, lev, sim).
    */
  def editVerifiedNearDups(docs: DataFrame, idCol: String, text: Column,
      minSim: Double = 0.3, threshold: Double = 0.4): DataFrame = {
    val pairs = minhashNearDups(docs, idCol, text, threshold)
    try {
      val base = docs.select(col(idCol), text.as("_t"), length(text).as("_len"))
      val members = pairs.select(col("doc_a").as(idCol))
        .unionByName(pairs.select(col("doc_b").as(idCol))).distinct()
      val texts = base.join(members, Seq(idCol), "left_semi")
      val result = pairs
        .join(texts.select(col(idCol).as("doc_a"), col("_t").as("_ta"),
          col("_len").as("_la")), "doc_a")
        .join(texts.select(col(idCol).as("doc_b"), col("_t").as("_tb"),
          col("_len").as("_lb")), "doc_b")
        .withColumn("lev", levenshtein(col("_ta"), col("_tb")).cast("long"))
        .withColumn("sim",
          lit(1.0) - col("lev").cast("double") / greatest(col("_la"), col("_lb")))
        .filter(col("sim") >= minSim)
        .select(col("doc_a"), col("doc_b"), col("jaccard"), col("lev"), col("sim"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try result.count() // materialize while `pairs` is still cached
      catch { case e: Throwable =>
        result.unpersist()
        throw e
      }
      result
    } finally { pairs.unpersist(); () }
  }

  /** MinHash estimation quality as a first-class measurement: for every
    * verified near-dup pair, the signature-agreement estimate
    * `|{i : mᵃᵢ = mᵇᵢ}| / k` next to the TRUE shingle jaccard — the
    * number a 100 TB pipeline needs because at full volume it ranks and
    * thresholds on the ESTIMATE (map-only from stored signatures) and
    * only ever computes the true value on audit samples like this one.
    * Same candidate-bounded shape as [[editVerifiedNearDups]]: corpus →
    * pair members via one semi-join, then joins among bounded
    * relations; signatures ride [[withMinhashCols]] (map-only, no
    * shuffle).
    *
    * CONTRACT (same as [[minhashNearDups]]): result persisted +
    * materialized, caller owns the blocks.
    *
    * Output: (doc_a, doc_b, jaccard, est_jaccard).
    */
  def jaccardEstimates(docs: DataFrame, idCol: String,
      text: Column, threshold: Double = 0.4): DataFrame = {
    // The signatures the estimate needs are ALREADY computed once by the
    // spine's own minhashAgg — ride them through the banding as carry
    // columns (nsh's r21 treatment, generalized: 16 longs ≈ 128 bytes per
    // 4-rows-per-doc band relation) instead of re-deriving them with a
    // SECOND corpus-wide tokenize+shingle+16×array_min pass and joining
    // that back onto the pairs twice (r22, guide §2.3 "shuffle keys and
    // metadata instead of payloads" — here the metadata rides, the
    // recompute disappears). m*_a/m*_b are functionally dependent on the
    // pair ids (one signature per doc), so widening the verify's grouping
    // key changes no group and the jaccard is unchanged; the estimate is
    // the same |{i : mᵃᵢ = mᵇᵢ}| / k over the same signature values
    // (withMinhashCols and minhashAgg are interchangeable by contract).
    val sh = shingleHashes(docs, idCol, text).cache()
    try {
      val mCols = (0 until NumHashes).map(i => s"m$i")
      val carry = "nsh" +: mCols
      val sig = minhashAgg(sh, idCol)
      val cands = bandedCandidates(bandKeys(sig, idCol, carry = carry),
        idCol, BandBucketCap, carry = carry)
      // explode-join-aggregate verify on the banded (small) candidate
      // set — same reasoning as [[minhashNearDupsFromShingles]]; the m*
      // carries ride the grouping key (functionally dependent on the
      // pair ids, so no group changes)
      val groupKeys = Seq("doc_a", "doc_b", "nsh_a", "nsh_b") ++
        mCols.flatMap(m => Seq(s"${m}_a", s"${m}_b"))
      val est = (0 until NumHashes).map { i =>
        when(col(s"m${i}_a") === col(s"m${i}_b"), 1).otherwise(0)
      }.reduce(_ + _).cast("double") / NumHashes
      val result = cands
        .join(sh.withColumnRenamed(idCol, "doc_a").withColumnRenamed("sh", "sha"), "doc_a")
        .join(sh.withColumnRenamed(idCol, "doc_b").withColumnRenamed("sh", "shb"), "doc_b")
        .filter(col("sha") === col("shb"))
        .groupBy(groupKeys.map(col): _*)
        .agg(count(lit(1)).as("n_common"))
        .withColumn("jaccard",
          col("n_common").cast("double") /
            (col("nsh_a") + col("nsh_b") - col("n_common")))
        .filter(col("jaccard") >= threshold)
        .select(col("doc_a"), col("doc_b"), col("jaccard"),
          est.as("est_jaccard"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try result.count() // materialize while sh is still cached
      catch { case e: Throwable =>
        result.unpersist()
        throw e
      }
      result
    } finally { sh.unpersist(); () }
  }

  /** EXACT similarity join by prefix filtering (AllPairs/PPJoin,
    * Bayardo et al. 2007 / Xiao et al. 2008 — "PPJoin-lite": prefix +
    * length filters, no positional filter) over the SAME distinct
    * 3-shingle sets the MinHash pipeline signs ([[shingleHashes]]):
    * every pair with shingle-set Jaccard ≥ `tNum/tDen`, with NO
    * hashing-based candidate loss and NO false negatives — the provably
    * complete counterpart of [[minhashNearDups]] on the identical
    * similarity measure, for when the dedup policy must be exact.
    *
    * Why it scales: sort each document's shingles by global rarity
    * (document frequency ASC, hash ASC — a total order shared by every
    * doc WITHOUT a global vocabulary rank: the per-doc row_number
    * window is doc-sized), keep only the first `|S| − ⌈t·|S|⌉ + 1`
    * (the classic guarantee: two sets with J ≥ t MUST collide inside
    * these prefixes), and equi-join on the prefix shingle. Shingles are
    * the right unit for this corpus shape: a natural-language shingle
    * vocabulary is combinatorially large and Zipf-tailed, so each
    * document's rarest ~40% of shingles have tiny document frequency
    * and the join fan-out per shingle stays small — where WORD-level
    * prefixes over a small vocabulary would degenerate to all-pairs
    * (measured: this corpus has a ~31-word vocabulary but ~27k distinct
    * shingles with max df 25 at sf0.1). The length filter
    * `t·max(|A|,|B|) ≤ min(|A|,|B|)` prunes candidates before the
    * verify; verification counts the true intersection over the
    * pair-bounded shortlist only.
    *
    * All thresholds are rational-integer arithmetic (`⌈t·n⌉ =
    * (tNum·n + tDen − 1) div tDen`, acceptance `tDen·common ≥
    * tNum·(union)`) — no float ever decides membership; the reported
    * `jaccard` is an exact integer ratio, directly comparable to
    * [[minhashNearDups]]'s verified jaccard.
    */
  def prefixFilterNearDups(docs: DataFrame, idCol: String, text: Column,
      tNum: Long = 3, tDen: Long = 5, n: Int = 3,
      candObs: Option[org.apache.spark.sql.Observation] = None): DataFrame =
    // NO persist here, deliberately (tested r18): the shingle relation
    // feeds five consumers, but they all live inside ONE query, and the
    // explode ends at a shuffle — AQE's exchange reuse computes it once
    // and the other four read the same stage (4 ReusedExchange nodes in
    // the executed plan; explicit persist measured 3.23 s vs 3.15 s
    // baseline on the sf0.1 gate, i.e. pure overhead). Persist IS the
    // right tool when the relation crosses SEPARATE executions — that is
    // exactly what [[recallAudit]] does with its shared shingle cache.
    prefixFilterFromShingles(shingleHashes(docs, idCol, text, n), idCol,
      tNum, tDen, candObs)

  /** [[prefixFilterNearDups]] over a caller-owned shingle relation
    * `(idCol, sh)` — the exact-join half of the [[recallAudit]] seam.
    * Plan-only (no persist): the caller decides whether the shingle
    * relation is cached (it feeds five consumers here — df counts,
    * sizes, the rank join, and both verify joins — so a persisted input
    * pays off whenever the relation is also shared with the minhash
    * chain).
    */
  def prefixFilterFromShingles(tk: DataFrame, idCol: String,
      tNum: Long = 3, tDen: Long = 5,
      candObs: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    require(tNum > 0 && tNum <= tDen, s"threshold $tNum/$tDen not in (0,1]")
    val dfreq = tk.groupBy("sh").agg(count(lit(1)).as("df"))
    // per-doc shingle count `n` rides the SAME per-document window
    // partitioning the rank needs anyway (count over an unordered frame),
    // instead of a separate groupBy + join back — one less aggregation
    // exchange on the exact-join spine (r21, guide §2.4: two operations
    // keyed the same way share one exchange). The df join stays a join:
    // dfreq is vocabulary-shaped (broadcastable at bench scale, SMJ at
    // 100 TB), while `n` keyed by doc would always re-shuffle the corpus.
    val wDoc = Window.partitionBy(idCol)
    val rk = tk.join(dfreq, "sh")
      .withColumn("n", count(lit(1)).over(wDoc))
      .withColumn("r", row_number().over(
        wDoc.orderBy(col("df"), col("sh"))))
    // ⌈t·n⌉ in pure integer arithmetic — `div`, not `/` (Column `/` is
    // double division and loses exactness on wide counts)
    val pref = rk.filter(col("r") <=
        col("n") - expr(s"(($tNum * n + ${tDen - 1}) div $tDen)") + 1)
      .select(col(idCol), col("sh"), col("n"))
    val candRaw = pref.as("a").join(pref.as("b"),
        col("a.sh") === col("b.sh") &&
          col(s"a.$idCol") < col(s"b.$idCol") &&
          lit(tNum) * greatest(col("a.n"), col("b.n")) <=
            lit(tDen) * least(col("a.n"), col("b.n")))
      .select(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"),
        col("a.n").as("na"), col("b.n").as("nb"))
    // observe, don't assume, the candidate volume: on a corpus whose
    // shingle vocabulary is degenerate (the word-prefix failure mode —
    // a ~31-word vocabulary makes every prefix common and the join
    // all-pairs) this count is the number that goes quadratic. The
    // metric rides the plan's existing aggregation machinery (zero
    // extra passes, retry-deduped); `Observation.get` blocks until the
    // caller's action lands, so harnesses print a NUMBER instead of
    // silently paying the blowup.
    val cand = candObs
      .map(o => candRaw.observe(o, count(lit(1)).as("candidate_pairs")))
      .getOrElse(candRaw)
      .distinct()
    // array-intersection verify (see [[withCommonCounts]]): acceptance
    // needs common > 0 because tNum > 0, so the zero-overlap rows the
    // old inner join dropped are filtered identically here
    withCommonCounts(tk, idCol, cand)
      .withColumnRenamed("n_common", "common")
      .filter(lit(tDen) * col("common") >=
        lit(tNum) * (col("na") + col("nb") - col("common")))
      .select(col("doc_a"), col("doc_b"),
        (col("common").cast("double") /
          (col("na") + col("nb") - col("common")).cast("double"))
          .as("jaccard"))
  }

  /** LSH recall against PROVABLE ground truth: every true pair from the
    * exact prefix-filter join (complete by construction at J ≥
    * `tNum/tDen`) flagged with whether the capped banded-minhash
    * pipeline also surfaced it at `lshThreshold`. The audit is
    * inherently a composition — it runs BOTH pipelines — but both are
    * fed from ONE persisted shingle relation, so the corpus is
    * tokenized/exploded once instead of once per pipeline (the explode
    * is the dominant shared cost; sharing it cut the sf0.1 gate wall
    * measurably with the output hash unchanged).
    *
    * CONTRACT (same as [[minhashNearDups]]): result persisted +
    * materialized, caller owns the blocks.
    *
    * Output: (doc_a, doc_b, jaccard, found_by_minhash).
    */
  def recallAudit(docs: DataFrame, idCol: String, text: Column,
      tNum: Long = 3, tDen: Long = 5, lshThreshold: Double = 0.6,
      n: Int = 3): DataFrame = {
    val sh = shingleHashes(docs, idCol, text, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // When lshThreshold <= tNum/tDen, the minhash VERIFY stage is
      // provably redundant for this audit: every audited pair has true
      // jaccard >= tNum/tDen (the exact join's own acceptance), and the
      // verify filters candidates on that same true jaccard — so an
      // exact pair is in the verified minhash output iff the banding
      // surfaced it as a CANDIDATE at all. Joining candidate membership
      // directly removes the verify's two corpus-shingle joins and its
      // intersection aggregation from the spine (r22, guide §1.2 "don't
      // compute things you throw away"); the double comparison is safe
      // because the verify's jaccard is a correctly-rounded quotient of
      // the same integers the exact side accepts on (any ratio >=
      // tNum/tDen rounds to >= the tNum.toDouble/tDen literal). Above
      // tNum/tDen the verify DOES filter (an exact pair can be a
      // candidate yet fail the stricter lsh threshold), so the full
      // verified pipeline runs.
      def joined(found: DataFrame): DataFrame =
        prefixFilterFromShingles(sh, idCol, tNum, tDen)
          .join(found, Seq("doc_a", "doc_b"), "left")
          .withColumn("found_by_minhash",
            coalesce(col("found_by_minhash"), lit(false)))
      def materialize(df: DataFrame): DataFrame = {
        val result =
          df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try result.count() // materialize while the inputs are still cached
        catch { case e: Throwable => result.unpersist(); throw e }
        result
      }
      if (lshThreshold <= tNum.toDouble / tDen) {
        materialize(joined(candidatePairsFromShingles(sh, idCol)
          .select(col("doc_a"), col("doc_b"), lit(true).as("found_by_minhash"))))
      } else {
        val mh = minhashNearDupsFromShingles(sh, idCol, lshThreshold)
        try materialize(joined(mh.select(col("doc_a"), col("doc_b"),
          lit(true).as("found_by_minhash"))))
        finally { mh.unpersist(); () }
      }
    } finally sh.unpersist()
  }

  /** Map-side MinHash signature: appends m0..m{k-1} + `nsh` to each row
    * with NO shuffle — the per-doc minimum is an `array_min` over the
    * materialized shingle-hash array instead of a groupBy over exploded
    * shingles. Identical hash math to [[minhashAgg]] (same constants, same
    * `md5Long`, same distinct-shingle set), so the two forms are
    * interchangeable against the same oracle. Rows with fewer than `n`
    * tokens (no shingles) are dropped, matching [[shingleHashes]].
    *
    * The shingle-hash array is materialized as a column FIRST and every
    * lambda references it as a plain column: an inline derivation would be
    * re-evaluated per element per hash function (the documented 8×
    * re-tokenization trap, times k).
    */
  def withMinhashCols(df: DataFrame, text: Column, n: Int = 3): DataFrame = {
    val withSh = df
      .withColumn("_toks", tokens(text))
      .filter(size(col("_toks")) >= n)
      .withColumn("_shs",
        transform(array_distinct(shinglesOfTokens(col("_toks"), n)),
          s => md5Long(s)))
    val mCols = (0 until NumHashes).map { i =>
      array_min(transform(col("_shs"),
        x => (lit(hashA(i)) * (x % P) + lit(hashB(i))) % P)).as(s"m$i")
    }
    withSh.select(
      (df.columns.map(col).toSeq ++ mCols :+
        size(col("_shs")).cast("long").as("nsh")): _*)
  }

  /** Fuzzy (MinHash-banded) eval-set decontamination: train docs whose
    * true shingle Jaccard with ANY eval doc reaches `threshold`, where
    * candidacy is LSH band agreement — the near-duplicate generalization
    * of [[graft.SparkEntry]]'s exact-shingle `qp_decontaminate`.
    *
    * Scale shape (the 100 TB asymmetry): eval sets are small by
    * construction, so everything eval-derived is BROADCAST. The train side
    * is map-only until the verification of candidates: signatures and band
    * keys come from [[withMinhashCols]] (no shuffle), candidacy is a
    * broadcast semi-join on (band, bkey), and only surviving candidates —
    * bounded by eval-bucket fan-out, not corpus size — re-explode their
    * shingles for the exact-Jaccard verify against broadcast eval
    * shingles. The single train-wide shuffle-free pass is what lets this
    * run as a side-filter inside an ingest job rather than a dedup-scale
    * campaign.
    *
    * Returns (idCol, n_eval_hits, max_jaccard) for contaminated train
    * docs: hit count and best Jaccard over banded eval partners.
    */
  def fuzzyDecontaminate(docs: DataFrame, idCol: String, text: Column,
      isEval: Column, threshold: Double = 0.5, n: Int = 3,
      maxBroadcastEvalDocs: Long = 1000000L): DataFrame = {
    val base = docs.select(col(idCol), text.as("_text"), isEval.as("_is_eval"))
    // The signature relation feeds FOUR consumers (train bands, eval
    // bands, train sizes, eval sizes), each of which materializes inside
    // its own broadcast-build job — uncached, that is four full corpus
    // scans racing each other (measured 18 s → 3 s on the sf0.1 gate).
    // Cache it WITHOUT the text payload (ids + 16 longs + nsh — a sliver
    // of corpus size even at 100 TB); same persist-materialize-release
    // contract as [[minhashNearDups]]: the small result is persisted and
    // counted eagerly, then intermediates are dropped in `finally` with
    // lineage intact.
    val sigs = withMinhashCols(base, col("_text"), n)
      .drop("_text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val trainSigs = sigs.filter(!col("_is_eval"))
      val evalSigs = sigs.filter(col("_is_eval"))

      // Broadcast guard: the design hinges on the eval set being small
      // (the 100 TB asymmetry), but the hint must not be UNCONDITIONAL —
      // an eval predicate that selects a corpus-scale slice would push a
      // corpus-sized build side through the driver. Counting evalSigs is
      // free here: it materializes the persisted `sigs` cache that every
      // later consumer reuses anyway. Above the threshold the SAME joins
      // run as shuffles — still correct, just no longer map-only on the
      // train side (and the caller should question their eval predicate).
      val evalDocCount = evalSigs.count()
      val evalBands = bandKeys(evalSigs, idCol)
        .withColumnRenamed(idCol, "_eval_id")
      val evalSh = shingleHashes(base.filter(col("_is_eval")), idCol, col("_text"), n)
        .withColumnRenamed(idCol, "_eval_id")
      val evalSizes = evalSigs.select(col(idCol).as("_eval_id"), col("nsh").as("_nb"))
      decontaminateCore(base.filter(!col("_is_eval")), trainSigs, idCol,
        evalBands, evalSh, evalSizes, threshold, n,
        broadcastEval = evalDocCount <= maxBroadcastEvalDocs)
    } finally sigs.unpersist()
  }

  /** CONTAINMENT-based eval decontamination — the asymmetric-overlap
    * complement of [[fuzzyDecontaminate]]: a train doc is contaminated
    * when `|train ∩ eval| / |eval|` shingles reaches the threshold
    * (the GPT-3/Llama-style n-gram overlap rule, measured relative to
    * the EVAL doc). Symmetric Jaccard systematically misses the shape
    * this exists for — a short eval snippet embedded verbatim in a long
    * train doc has containment 1.0 but Jaccard ≈ |eval|/|train| → 0 —
    * and MinHash banding approximates Jaccard, so the candidacy here is
    * NOT banded: it is a direct inverted-index join of train shingles
    * against the (eval-sized, broadcast) eval shingle table — a train
    * doc becomes a candidate by sharing ANY shingle, and the verify is
    * the exact distinct-shingle count.
    *
    * Scale shape (the same 100 TB asymmetry): everything eval-derived is
    * eval-sized and broadcast under the same size guard as
    * [[fuzzyDecontaminate]] (above `maxBroadcastEvalDocs` the joins run
    * as shuffles — still correct); the train side is one shingle explode
    * + one aggregation, no minhash pipeline at all. The threshold is an
    * integer micro-unit compared by cross-multiplication (no division in
    * the filter); the reported `max_containment` is a quotient of exact
    * integer counts.
    *
    * Returns (idCol, n_eval_hits, max_containment) for contaminated
    * train docs. CONTRACT: the result is persisted (MEMORY_AND_DISK) and
    * materialized — the caller owns the handle and must `unpersist()`.
    */
  def containmentDecontaminate(docs: DataFrame, idCol: String, text: Column,
      isEval: Column, thresholdMicro: Long = 500000L, n: Int = 3,
      maxBroadcastEvalDocs: Long = 1000000L,
      hitObs: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    val base = docs.select(col(idCol), text.as("_text"), isEval.as("_is_eval"))
    val eval = prepareEvalShingles(base.filter(col("_is_eval")), idCol,
      col("_text"), n)
    try containmentAgainst(base.filter(!col("_is_eval")), idCol,
      col("_text"), eval, thresholdMicro, n, maxBroadcastEvalDocs, hitObs)
    finally eval.unpersist()
  }

  /** Eval side of containment decontamination, precomputed + persisted
    * for REPEATED use (the [[EvalSignatures]] pattern without the minhash
    * relations — containment candidacy is the inverted shingle index
    * itself): distinct shingle hashes per eval doc and their counts. Both
    * eval-sized; the holder owns the cached blocks and must
    * [[EvalShingles.unpersist]].
    */
  final case class EvalShingles(shingles: DataFrame, sizes: DataFrame,
      evalDocCount: Long) {
    def unpersist(): Unit = { shingles.unpersist(); sizes.unpersist(); () }
  }

  def prepareEvalShingles(evalDocs: DataFrame, idCol: String, text: Column,
      n: Int = 3): EvalShingles = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val base = evalDocs.select(col(idCol), text.as("_text"))
    val sh = shingleHashes(base, idCol, col("_text"), n)
      .withColumnRenamed(idCol, "_eval_id").persist(lvl)
    val sizes = sh.groupBy("_eval_id").agg(count(lit(1)).as("_ne")).persist(lvl)
    var ok = false
    try {
      val cnt = sizes.count() // one row per eval doc — the guard input
      sh.count()
      ok = true
      EvalShingles(sh, sizes, cnt)
    } finally if (!ok) { sh.unpersist(); sizes.unpersist(); () }
  }

  /** Containment check of `train` docs against a prepared eval shingle
    * table — the repeated-use core of [[containmentDecontaminate]] (and
    * each [[streamingContainment]] micro-batch). Result contract as
    * there: persisted + materialized, caller unpersists.
    */
  def containmentAgainst(train: DataFrame, idCol: String, text: Column,
      eval: EvalShingles, thresholdMicro: Long = 500000L, n: Int = 3,
      maxBroadcastEvalDocs: Long = 1000000L,
      hitObs: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    val result = containmentPlan(train, idCol, text, eval, thresholdMicro,
      n, maxBroadcastEvalDocs, hitObs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try result.count() // materialize while the eval caches are live
    catch { case e: Throwable => result.unpersist(); throw e }
    result
  }

  /** The unpersisted containment pipeline — separated so PlanSpec can pin
    * its physical shape (the public form persists itself, which folds its
    * own plan into an InMemoryTableScan).
    */
  private[graft] def containmentPlan(train: DataFrame, idCol: String,
      text: Column, eval: EvalShingles, thresholdMicro: Long, n: Int,
      maxBroadcastEvalDocs: Long,
      hitObs: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    require(thresholdMicro >= 0 && thresholdMicro <= 1000000L,
      s"thresholdMicro must be in [0, 1000000], got $thresholdMicro")
    def hinted(df: DataFrame): DataFrame =
      if (eval.evalDocCount <= maxBroadcastEvalDocs) broadcast(df) else df
    val trainSh = shingleHashes(train.select(col(idCol), text.as("_t")),
      idCol, col("_t"), n)
    // observe, don't assume, the inverted-index fan-out (the
    // prefixFilterNearDups doctrine): shingle_hits counts (train-shingle
    // × eval-doc) matches BEFORE the per-pair aggregation — the number
    // that goes quadratic when eval shingles are corpus-common (a
    // degenerate vocabulary, or an eval predicate selecting boilerplate).
    // Rides the plan; zero extra passes.
    val matched = trainSh.join(hinted(eval.shingles), "sh")
    val watched = hitObs
      .map(o => matched.observe(o, count(lit(1)).as("shingle_hits")))
      .getOrElse(matched)
    val common = watched
      .groupBy(col(idCol), col("_eval_id")).agg(count(lit(1)).as("_nc"))
    common.join(hinted(eval.sizes), "_eval_id")
      .filter(col("_nc") * lit(1000000L) >= lit(thresholdMicro) * col("_ne"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_eval_hits"),
        max(col("_nc").cast("double") / col("_ne")).as("max_containment"))
  }

  /** Streaming containment decontamination: train docs arrive as
    * micro-batches and are checked against a [[prepareEvalShingles]] set
    * prepared ONCE (the static reference of an ingest-side filter).
    * Stateless per batch — a doc's containment depends only on the eval
    * set — so the unioned per-batch reports equal the batch operator's;
    * contaminated rows land under `outPath/contam/batch=<id>`, clean rows
    * under `outPath/clean/batch=<id>`, overwritten per batch for
    * idempotent replay (the [[streamingDecontaminate]] layout wholesale).
    */
  def streamingContainment(docs: DataFrame, idCol: String, text: Column,
      eval: EvalShingles, outPath: String, checkpoint: String,
      thresholdMicro: Long = 500000L, n: Int = 3,
      maxBroadcastEvalDocs: Long = 1000000L)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val cached = batch.persist()
        try {
          val contam = containmentAgainst(cached, idCol, text, eval,
            thresholdMicro, n, maxBroadcastEvalDocs)
          try {
            // contam is hit-bounded, but the bound is eval fan-out — the
            // hint carries the same guard as every eval-derived relation
            val exclusion =
              if (contam.count() <= maxBroadcastEvalDocs)
                broadcast(contam.select(col(idCol)))
              else contam.select(col(idCol))
            val clean = cached.join(exclusion, Seq(idCol), "left_anti")
            clean.write.mode("overwrite")
              .parquet(s"$outPath/clean/batch=$batchId")
            contam.write.mode("overwrite")
              .parquet(s"$outPath/contam/batch=$batchId")
          } finally { contam.unpersist(); () }
        } finally { cached.unpersist(); () }
      }
      .start()

  /** Eval-side relations of the fuzzy-decontamination join, precomputed
    * and persisted for REPEATED use — the static reference set of a
    * streaming ingest filter ([[streamingDecontaminate]]), where
    * recomputing eval signatures every micro-batch would waste the one
    * part of the work that never changes. Built by
    * [[prepareEvalSignatures]]; the holder owns the cached blocks and
    * must [[EvalSignatures.unpersist]] when the stream is done.
    */
  final case class EvalSignatures(
      bands: DataFrame, shingles: DataFrame, sizes: DataFrame,
      evalDocCount: Long) {
    def unpersist(): Unit = {
      bands.unpersist(); shingles.unpersist(); sizes.unpersist(); ()
    }
  }

  /** Precompute + persist the eval side of fuzzy decontamination: band
    * keys (candidacy), shingle hashes (exact verify), and shingle counts
    * (Jaccard denominator). Two passes over the eval set — one through
    * the signature pipeline (shared by bands AND sizes via a persisted
    * intermediate; unshared they would each recompute the minhash
    * pipeline — the multi-consumer hazard [[fuzzyDecontaminate]]'s cache
    * comment documents) and one through the shingle pipeline. All three
    * relations are eval-sized (the 100 TB asymmetry — small by contract).
    */
  def prepareEvalSignatures(evalDocs: DataFrame, idCol: String, text: Column,
      n: Int = 3): EvalSignatures = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val base = evalDocs.select(col(idCol), text.as("_text"))
    val sigs = withMinhashCols(base, col("_text"), n).drop("_text").persist(lvl)
    try {
      val bands = bandKeys(sigs, idCol)
        .withColumnRenamed(idCol, "_eval_id").persist(lvl)
      val shingles = shingleHashes(base, idCol, col("_text"), n)
        .withColumnRenamed(idCol, "_eval_id").persist(lvl)
      val sizes = sigs.select(col(idCol).as("_eval_id"), col("nsh").as("_nb"))
        .persist(lvl)
      var ok = false
      try {
        val cnt = sizes.count() // one row per eval doc — the guard input
        bands.count(); shingles.count()
        ok = true
        EvalSignatures(bands, shingles, sizes, cnt)
      } finally if (!ok) {
        // the caller never receives the handle it must unpersist
        bands.unpersist(); shingles.unpersist(); sizes.unpersist(); ()
      }
    } finally sigs.unpersist()
  }

  /** Fuzzy decontamination of a train relation against PREPARED eval
    * signatures — the per-micro-batch body of [[streamingDecontaminate]],
    * also usable standalone when one eval set screens many corpora.
    * Identical result to [[fuzzyDecontaminate]] on the same (train, eval)
    * data: same signatures, same candidacy, same exact-Jaccard verify
    * (spec-pinned in StreamingDecontaminateSpec).
    */
  def fuzzyDecontaminateAgainst(train: DataFrame, idCol: String, text: Column,
      eval: EvalSignatures, threshold: Double = 0.5, n: Int = 3,
      maxBroadcastEvalDocs: Long = 1000000L): DataFrame = {
    val base = train.select(col(idCol), text.as("_text"))
    val trainSigs = withMinhashCols(base, col("_text"), n)
      .drop("_text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try decontaminateCore(base, trainSigs, idCol,
      eval.bands, eval.shingles, eval.sizes, threshold, n,
      broadcastEval = eval.evalDocCount <= maxBroadcastEvalDocs)
    finally trainSigs.unpersist()
  }

  /** Shared train-vs-eval verification core. `trainBase` carries
    * (idCol, _text); `trainSigs` its minhash signatures (persisted by the
    * caller — consumed by the candidacy join AND the size lookup). All
    * eval relations are broadcast when `broadcastEval` (the guarded
    * 100 TB default); the train side stays map-only to candidate
    * verification either way.
    */
  private def decontaminateCore(trainBase: DataFrame, trainSigs: DataFrame,
      idCol: String, evalBands: DataFrame, evalSh: DataFrame,
      evalSizes: DataFrame, threshold: Double, n: Int,
      broadcastEval: Boolean): DataFrame = {
    def bj(df: DataFrame): DataFrame =
      if (broadcastEval) broadcast(df) else df

    val trainBands = bandKeys(trainSigs, idCol)
    // candidate (train, eval) pairs: any shared band bucket —
    // candidate-bounded small, reused three times below
    val pairs = trainBands
      .join(bj(evalBands), Seq("band", "bkey"))
      .select(col(idCol), col("_eval_id")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val candIds = pairs.select(col(idCol)).distinct()

      // exact-Jaccard verify on candidates only. EVERY join against a
      // train-wide relation broadcasts its candidate-bounded side — the
      // train side must never shuffle (that is the operator's contract;
      // FuzzyDecontaminateSpec pins zero shuffle joins).
      val candDocs = trainBase.join(bj(candIds), idCol)
      val trainSh = shingleHashes(candDocs, idCol, col("_text"), n)
      val common = trainSh
        .join(bj(evalSh), "sh")
        .join(bj(pairs), Seq(idCol, "_eval_id"))
        .groupBy(idCol, "_eval_id").agg(count(lit(1)).as("n_common"))
      val trainSizes = trainSigs.join(bj(candIds), idCol)
        .select(col(idCol), col("nsh").as("_na"))
      val result = common
        .join(bj(trainSizes), idCol)
        .join(bj(evalSizes), "_eval_id")
        .withColumn("jaccard",
          col("n_common").cast("double") / (col("_na") + col("_nb") - col("n_common")))
        .filter(col("jaccard") >= threshold)
        .groupBy(idCol)
        .agg(count(lit(1)).as("n_eval_hits"), max(col("jaccard")).as("max_jaccard"))
      result.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try result.count() // materialize while caller caches are still live
      catch { case e: Throwable =>
        // on failure the caller never receives a handle to unpersist —
        // release the half-materialized cache before propagating (same
        // contract as minhashNearDups)
        result.unpersist()
        throw e
      }
      result
    } finally pairs.unpersist()
  }

  /** Streaming fuzzy decontamination: an ingest-time filter that screens
    * every arriving micro-batch of train docs against a STATIC prepared
    * eval set ([[prepareEvalSignatures]] — computed once, reused every
    * batch). Survivors land under `outPath/clean/batch=N`, the
    * contamination report (id, n_eval_hits, max_jaccard) under
    * `outPath/contam/batch=N`.
    *
    * Unlike [[streamingNearDup]] there is NO cross-batch state: a doc's
    * contamination depends only on (doc, eval set), so per-batch results
    * are independent, the union over batches equals the batch-mode
    * [[fuzzyDecontaminate]] on the concatenated input (spec-pinned), and
    * replay is idempotent by partition overwrite alone — no claim store,
    * no compaction. The per-batch plan is the batch operator's: train
    * side map-only to candidate verification, eval side broadcast under
    * the same size guard.
    */
  def streamingDecontaminate(docs: DataFrame, idCol: String, text: Column,
      eval: EvalSignatures, outPath: String, checkpoint: String,
      threshold: Double = 0.5, n: Int = 3,
      maxBroadcastEvalDocs: Long = 1000000L)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val cached = batch.persist()
        try {
          val contam = fuzzyDecontaminateAgainst(cached, idCol, text, eval,
            threshold, n, maxBroadcastEvalDocs)
          try {
            // contam is candidate-bounded, but the bound is eval fan-out —
            // a mis-specified eval set makes it batch-scale, so the hint
            // carries the same guard as every eval-derived relation
            // (contam is persisted+materialized, the count is free)
            val exclusion =
              if (contam.count() <= maxBroadcastEvalDocs)
                broadcast(contam.select(col(idCol)))
              else contam.select(col(idCol))
            val clean = cached.join(exclusion, Seq(idCol), "left_anti")
            clean.write.mode("overwrite")
              .parquet(s"$outPath/clean/batch=$batchId")
            contam.write.mode("overwrite")
              .parquet(s"$outPath/contam/batch=$batchId")
          } finally { contam.unpersist(); () }
        } finally { cached.unpersist(); () }
      }
      .start()

  /** Connected components over an undirected near-dup pair graph
    * (doc_a, doc_b): labels every vertex with the MINIMUM doc id of its
    * component — the transitive-closure step that turns pairwise
    * near-dup hits into dedup groups (keeper = the vertex whose label
    * equals its id; A~B, B~C must collapse to one keeper even when A~C
    * was never emitted as a pair).
    *
    * Algorithm: per round, (1) min-label HOP — every vertex takes the min
    * of its own label and its neighbors' labels — then (2) POINTER JUMP —
    * `comp := comp-of-comp` (labels are always vertex ids of the same
    * component, so the jump stays inside the component). The hop alone
    * needs ≈ diameter rounds; the jump doubles the propagation distance
    * each round, so a diameter-d chain converges in O(log d) rounds — a
    * 1000-vertex chain in ~11 rounds instead of 1000. LSH pair graphs are
    * dense (cliques + star edges ⇒ diameter ≤ ~4) and finish in 2-3.
    * Scale shape: each round is two equi-joins + one hash aggregation on
    * the PAIR graph (far smaller than the corpus); `localCheckpoint`
    * truncates the growing lineage each round so plans stay flat — the
    * standard Spark iterative-graph pattern. The driver holds only the
    * per-round convergence count.
    *
    * If the bound is hit with labels still changing the result is
    * under-merged — silently wrong for dedup — so by default this THROWS
    * `IllegalStateException`; pass `failOnUnconverged = false` to accept
    * a partial merge (logged loudly) instead.
    *
    * Composing "pairs, then components"? Use [[nearDupGroups]] — it feeds
    * both outputs from ONE persisted pair computation instead of
    * rebuilding the minhash pipeline twice.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
      failOnUnconverged: Boolean = true): DataFrame =
    connectedComponentsWithStats(pairs, maxIter, failOnUnconverged).labels

  /** Convergence metadata of a [[connectedComponents]] run: the label
    * relation (id, comp), rounds executed, and whether a fixpoint was
    * reached within the bound.
    */
  final case class CcResult(labels: DataFrame, rounds: Int, converged: Boolean)

  /** [[connectedComponents]] plus round/convergence stats (for specs and
    * callers that want to inspect the iteration behavior).
    */
  def connectedComponentsWithStats(pairs: DataFrame, maxIter: Int = 20,
      failOnUnconverged: Boolean = true): CcResult = {
    val edges = pairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .distinct()
      .localCheckpoint()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
      .localCheckpoint()
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("comp").as("dcomp")), "dst")
        .groupBy(col("src").as("id")).agg(min("dcomp").as("ncomp"))
      // checkpointed so the pointer jump's self-join reads one computed
      // relation instead of evaluating the hop subtree twice; the round's
      // starting label rides along as _old so convergence detection is a
      // filter+count on the checkpointed round output itself — no extra
      // per-round join against the previous labels
      val hop = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("comp").as("_old"),
          least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp"))
        .localCheckpoint()
      val next = hop
        .join(hop.select(col("id").as("comp"), col("comp").as("ccomp")),
          Seq("comp"), "left")
        .select(col("id"), col("_old"),
          least(col("comp"), coalesce(col("ccomp"), col("comp"))).as("comp"))
        .localCheckpoint()
      changed = next.filter(col("comp") =!= col("_old")).count()
      labels = next.select(col("id"), col("comp"))
      i += 1
    }
    if (changed > 0) {
      val msg = s"connectedComponents stopped at maxIter=$maxIter with " +
        s"$changed labels still changing — components are under-merged"
      if (failOnUnconverged) throw new IllegalStateException(
        s"$msg (pass failOnUnconverged = false to accept a partial merge)")
      System.err.println(s"[graft] $msg")
    }
    CcResult(labels, i, changed == 0)
  }

  /** Verified pairs AND their transitive dedup groups from ONE pair
    * computation. [[minhashNearDups]] persists + materializes its
    * (candidate-bounded, small) result per its contract, so feeding BOTH
    * the pair output and [[connectedComponents]] from that same
    * DataFrame costs one shingle pass and one LSH join total — running
    * the two entry points separately rebuilds the whole minhash pipeline
    * twice. The caller owns the persisted `pairs` (unpersist when done);
    * `groups` is fully materialized (localCheckpoint) before return.
    */
  final case class NearDupResult(pairs: DataFrame, groups: DataFrame)

  /** See [[NearDupResult]]. */
  def nearDupGroups(df: DataFrame, idCol: String, text: Column,
      threshold: Double = 0.4, bandCap: Int = BandBucketCap,
      maxIter: Int = 20): NearDupResult = {
    val pairs = minhashNearDups(df, idCol, text, threshold, bandCap)
    // if component propagation throws (non-convergence under default
    // failOnUnconverged), the caller never receives the handle it is
    // contractually required to unpersist — release it here; a finally
    // guarded by a success flag (rather than catch Throwable) so fatal
    // JVM errors aren't intercepted mid-flight
    var ok = false
    try {
      val groups = connectedComponents(pairs, maxIter)
      ok = true
      NearDupResult(pairs, groups)
    } finally if (!ok) pairs.unpersist()
  }

  /** Contamination-safe K-fold split: assign every document a fold such
    * that near-duplicate COMPONENTS land wholly on one side. A doc-level
    * hash split leaks evaluation data exactly here — two near-identical
    * docs hash to different folds, one trains while its twin evaluates.
    * The fix is to hash the component REPRESENTATIVE (the component's
    * min id from [[connectedComponents]]; a doc outside any component
    * represents itself), so fold purity holds by construction:
    * same component ⇒ same representative ⇒ same fold.
    *
    * Scale shape: the pair graph and its closure are the existing banded
    * machinery (pair-bounded, never all-pairs); the representative join
    * touches only the ID PROJECTION of the corpus (the text column never
    * rides the shuffle), and fold assignment is one map-only hash. The
    * component relation is pair-graph-bounded — usually ≪ corpus — but
    * can approach corpus size in a duplicate-saturated crawl, so it
    * joins as an ordinary equi-join, never an unconditional broadcast
    * (the documented opposite of the eval-side decontamination
    * broadcasts).
    *
    * Same ownership contract as [[NearDupResult]]: the caller unpersists
    * `pairs` (kept so callers can audit purity — count pairs whose ends
    * disagree on fold — without rebuilding the minhash pipeline);
    * `folds` is (idCol, rep, fold) with lineage over the checkpointed
    * component labels.
    */
  final case class SafeSplitResult(folds: DataFrame, pairs: DataFrame)

  /** See [[SafeSplitResult]]. */
  def contaminationSafeSplit(df: DataFrame, idCol: String, text: Column,
      nFolds: Int = 10, threshold: Double = 0.4,
      bandCap: Int = BandBucketCap, maxIter: Int = 20): SafeSplitResult = {
    require(nFolds > 0, s"nFolds must be positive, got $nFolds")
    val pairs = minhashNearDups(df, idCol, text, threshold, bandCap)
    var ok = false
    try {
      val comps = connectedComponents(pairs, maxIter)
      val rep = df.select(col(idCol))
        .join(comps.withColumnRenamed("id", idCol), Seq(idCol), "left")
        .withColumn("rep", coalesce(col("comp"), col(idCol)))
        .drop("comp")
      // md5Long is nonnegative (15 hex chars < 2^60), so plain % matches
      // the oracle's %; the rep hashes via its DECIMAL STRING rendering,
      // identical across engines (same qt_split_grouped reasoning)
      val folds = rep.withColumn("fold",
        TextAnalysis.md5Long(col("rep").cast("string")) % nFolds)
      ok = true
      SafeSplitResult(folds, pairs)
    } finally if (!ok) pairs.unpersist()
  }

  /** Soft dedup weights — the keep-everything alternative to dropping
    * near-duplicates (the D4/SemDeDup-adjacent "downweight, don't
    * delete" curation policy): every document keeps a sampling weight
    * `1 / |its near-dup component|`, so a template spammed 40× counts
    * once in expectation while singletons keep weight 1. Downstream
    * samplers and mixture builders consume the weight column directly;
    * no coverage is lost to an aggressive threshold.
    *
    * Takes the caller's `pairs` (from [[minhashNearDups]], persisted per
    * its contract — sharing one pair computation with any sibling
    * consumers) rather than rebuilding the minhash pipeline internally.
    *
    * Scale shape: the component relation is pair-graph-bounded and its
    * size fold is an aggregation over that same relation; the corpus
    * touches only its ID PROJECTION in the final left join (text never
    * rides the shuffle), as an ordinary equi-join — never an
    * unconditional broadcast, the [[contaminationSafeSplit]] reasoning
    * (a duplicate-saturated crawl can push components toward corpus
    * size). The weight is a quotient of exact integers (1.0 / sz),
    * bit-identical IEEE across engines.
    *
    * Output: (idCol, comp, sz, weight); comp/sz = (own id, 1) for docs
    * in no verified pair.
    */
  def softWeights(df: DataFrame, idCol: String, pairs: DataFrame,
      maxIter: Int = 20): DataFrame = {
    val comps = connectedComponents(pairs, maxIter)
    val lab = comps
      .join(comps.groupBy("comp").agg(count(lit(1)).as("sz")), "comp")
      .withColumnRenamed("id", idCol)
    df.select(col(idCol))
      .join(lab, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("comp"), col(idCol)).as("comp"),
        coalesce(col("sz"), lit(1L)).as("sz"),
        (lit(1.0) / coalesce(col("sz"), lit(1L))).as("weight"))
  }

  /** Duplicated-span detection — the exact-substring dedup shape
    * (dedup-train-data's "remove any substring appearing more than once"
    * policy, reduced to word n-grams): every position whose n-token gram
    * occurs MORE THAN ONCE corpus-wide (any doc, including self-repeats)
    * is a duplicated position; per doc, duplicated positions merge into
    * MAXIMAL token intervals (`[pos, pos+n)` unioned by a gaps-and-islands
    * pass), and the output is per-doc span statistics:
    * (idCol, n_spans, max_span_tokens, dup_tokens, n_tokens) — zeros for
    * clean docs.
    *
    * Scale shape: positional grams are corpus-token-sized — the
    * irreducible cost is one hash aggregation plus one equi-join on the
    * gram hash (the qd_dup_ngrams family's cost, with positions kept).
    * The islands pass is a per-doc window (running max of interval ends,
    * island id by prefix sum) — fully parallel across docs, bounded by
    * each doc's own duplicated positions.
    */
  def duplicatedSpans(docs: DataFrame, idCol: String, text: Column,
      n: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(col(idCol), tokens(text).as("_toks"))
    val grams = base.filter(size(col("_toks")) >= n)
      .select(col(idCol),
        posexplode(shinglesOfTokens(col("_toks"), n)).as(Seq("pos", "g")))
      .select(col(idCol), col("pos"), md5Long(col("g")).as("gh"))
    val dupGh = grams.groupBy("gh").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select("gh")
    val dupPos = grams.join(dupGh, "gh").select(col(idCol), col("pos"))
    val w = Window.partitionBy(idCol).orderBy("pos")
    val prevMax = max(col("pos") + n)
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val flagged = dupPos
      .withColumn("_new",
        when(prevMax.isNull || col("pos") > prevMax, 1).otherwise(0))
      .withColumn("_isl", sum(col("_new")).over(w))
    val spans = flagged.groupBy(col(idCol), col("_isl"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + n).as("e"))
    val stats = spans.groupBy(idCol)
      .agg(count(lit(1)).as("n_spans"),
        max(col("e") - col("s")).cast("long").as("max_span_tokens"),
        sum(col("e") - col("s")).cast("long").as("dup_tokens"))
    base.select(col(idCol), size(col("_toks")).cast("long").as("n_tokens"))
      .join(stats, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("max_span_tokens"), lit(0L)).as("max_span_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        col("n_tokens"))
  }

  /** Quality-aware keeper selection over near-dup components: per
    * component keep the HIGHEST-scoring member (ties → lowest id) — the
    * curation policy a real pipeline wants (keep the best version of a
    * duplicated page), where [[nearDupGroups]]' min-id label alone
    * encodes keep-first. Docs outside any component (no near-dup pair)
    * keep themselves, with `comp = keeper = id`.
    *
    * Scale shape: `groups` is pair-graph-sized (≪ corpus), so keeper
    * resolution — an argmax aggregation + an equi-join, both on `comp` —
    * never touches full volume; the ONLY corpus-wide step is the
    * left-anti join that marks singletons, whose build side is the same
    * small group relation. The argmax is `max(struct(score, -id))`:
    * lexicographic struct ordering gives highest score then lowest id,
    * one aggregation, no window.
    *
    * Output: (idCol, comp, keeper, kept).
    */
  def keepBestInGroups(docs: DataFrame, idCol: String, score: Column,
      groups: DataFrame): DataFrame = {
    val g = groups.select(col("id").as(idCol), col("comp"))
    // score evaluated AFTER a member semi-join, so the (typically
    // expensive — a text-statistics pass) score expression runs only on
    // the pair-graph-bounded member set, not the whole corpus; and the
    // singleton branch never computes it at all — its output columns are
    // the id alone (r22, guide §1.2 "don't compute things you throw
    // away"). Semi-then-score is value-identical to score-then-join: a
    // member row's score does not depend on the join. The comp attach
    // joins the NARROW (id, score) relation on the same id key the semi
    // used (one shared exchange when g is not broadcastable; none when
    // it is — the common, pair-bounded case).
    val member = docs.join(g.select(idCol), Seq(idCol), "left_semi")
      .select(col(idCol), score.as("_score"))
      .join(g, Seq(idCol))
    val keepers = member.groupBy("comp")
      .agg(max(struct(col("_score"), (-col(idCol)).as("_nid"))).as("_best"))
      .select(col("comp"), (-col("_best._nid")).as("keeper"))
    val grouped = member.join(keepers, "comp")
      .select(col(idCol), col("comp"), col("keeper"),
        (col(idCol) === col("keeper")).as("kept"))
    val singles = docs.select(col(idCol))
      .join(g.select(idCol), Seq(idCol), "left_anti")
      .select(col(idCol), col(idCol).as("comp"), col(idCol).as("keeper"),
        lit(true).as("kept"))
    grouped.unionByName(singles)
  }

  /** Segment-level exact dedup with document reconstruction — the
    * C4/RefinedWeb boilerplate-removal shape: documents split into
    * fixed-size token segments, ONE global occurrence of each distinct
    * segment survives (first by `(doc, seg position)`), and every
    * document is rebuilt from its surviving segments in order. Unlike
    * [[dupGroups]] (whole-document identity) or [[duplicatedSpans]]
    * (span statistics only), this REWRITES the corpus: repeated
    * boilerplate disappears from every copy but the first, which is
    * exactly what line/paragraph dedup does to web text before
    * training.
    *
    * Segmentation is the repo-wide tokenization convention
    * ([[graft.ops.TextAnalysis.tokens]]) cut into non-overlapping
    * `segTokens`-token windows — [[Chunker.chunk]] with
    * `stride = chunkSize`, inlined here so the per-document segment
    * count rides the same projection (one scan of the corpus, not two).
    *
    * Scale shape: the segment relation (id, position, segment, hash) is
    * computed ONCE and persisted — it feeds both the winner aggregation
    * and the rebuild, and without the cache Catalyst re-scans and
    * re-tokenizes the whole corpus for the second consumer (the two
    * exchanges don't align for reuse; verified on the physical plan).
    * Then three shuffles, each irreducible for the semantics — (1) an
    * aggregation on the 60-bit segment hash picking `min(struct(doc,
    * seg))` per distinct segment (sort-based partials: a struct-typed
    * min buffer is not hash-aggregable, the price of lexicographic
    * winners). Duplicate-heavy corpora (the whole point of the
    * operator) collapse BEFORE the wire: partial aggregation emits one
    * row per distinct segment per map task, so a boilerplate segment
    * repeated 100M× costs one row per task, not 100M shuffled rows —
    * this is why the winner is an aggregation and not a `row_number`
    * window, which would move and sort every occurrence of the hottest
    * key into one task. (2) The winner relation (distinct-segment-
    * sized) joins back on the hash; AQE picks the join flavor. (3) One
    * aggregation on the doc id rebuilds documents; per-group state is
    * bounded by each document's own segment count. No UDFs; the
    * rebuild is `array_sort` + `filter` + `transform` over a
    * collected struct array.
    *
    * CONTRACT (same as [[minhashNearDups]]): the returned
    * DataFrame is persisted (MEMORY_AND_DISK) and already materialized
    * — the caller owns the blocks and must `unpersist()` when done (or
    * clearCache in a harness). The corpus-sized segment intermediate is
    * released before returning.
    *
    * Output: (idCol, clean_text, n_kept, n_total), one row per
    * non-empty input document; a document whose every segment lost
    * keeps its row with `clean_text = ""` and `n_kept = 0` (the
    * caller's drop policy stays a trivial filter).
    */
  def segmentDedup(docs: DataFrame, idCol: String, textCol: String,
      segTokens: Int = 10): DataFrame = {
    require(segTokens > 0, s"segTokens must be positive, got $segTokens")
    val segs = segmentRelation(docs, idCol, textCol, segTokens)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val winners = segmentWinners(segs, idCol)
      val marked = segs.join(winners, "gh")
        .withColumn("_keep",
          col(idCol) === col("_wdoc") && col("seg_id") === col("_wseg"))
      val result = rebuildFromFlag(marked, idCol)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try result.count() // materialize while `segs` is still cached
      catch { case e: Throwable =>
        // on failure the caller never receives a handle to unpersist —
        // release the half-materialized cache before propagating
        result.unpersist()
        throw e
      }
      result
    } finally { segs.unpersist(); () }
  }

  /** The segment relation both dedup forms share: one row per
    * non-overlapping `segTokens`-token window, with its 60-bit hash.
    */
  private def segmentRelation(docs: DataFrame, idCol: String,
      textCol: String, segTokens: Int): DataFrame =
    docs.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol), tokens(col(textCol)).as("_w"))
      .select(col(idCol), col("_w"),
        posexplode(sequence(lit(0), size(col("_w")) - 1, lit(segTokens))))
      .select(col(idCol), col("pos").cast("long").as("seg_id"),
        array_join(slice(col("_w"), col("col") + 1, lit(segTokens)), " ")
          .as("_seg"))
      .withColumn("gh", md5Long(col("_seg")))

  /** Keep-first winner per distinct segment hash: min(struct(doc, pos))
    * as an AGGREGATION (map-side partials collapse duplicate-heavy keys
    * before the wire — see [[segmentDedup]]'s scale notes).
    */
  private def segmentWinners(segs: DataFrame, idCol: String): DataFrame =
    segs.groupBy("gh")
      .agg(min(struct(col(idCol), col("seg_id"))).as("_win"))
      .select(col("gh"), col("_win")(idCol).as("_wdoc"),
        col("_win")("seg_id").as("_wseg"))

  /** Rebuild documents from keep-flagged segment rows: one aggregation
    * on the doc id, per-group state bounded by the doc's own segments.
    */
  private def rebuildFromFlag(marked: DataFrame, idCol: String,
      sep: String = " "): DataFrame =
    marked.groupBy(col(idCol))
      .agg(
        sum(when(col("_keep"), 1L).otherwise(0L)).as("n_kept"),
        count(lit(1)).as("n_total"),
        array_join(
          transform(
            filter(
              array_sort(collect_list(struct(col("seg_id"), col("_seg"),
                col("_keep")))),
              s => s("_keep")),
            s => s("_seg")),
          sep).as("clean_text"))
      .select(col(idCol), col("clean_text"), col("n_kept"), col("n_total"))

  /** Line/paragraph-boundary segment dedup — the C4 shape: C4 dedups at
    * LINE granularity (every line of every page, keep the first
    * occurrence corpus-wide), so the segment boundary is the NATURAL one
    * (`sepPattern`, default newline runs), not [[segmentDedup]]'s fixed
    * token windows — boilerplate that reflows across fixed windows
    * (nav bars, cookie banners, license headers) aligns exactly at line
    * boundaries. Lines are trimmed before hashing (indentation must not
    * defeat the match); blank lines are dropped from the relation
    * entirely (they neither claim a hash nor count in `n_total`).
    *
    * Same machinery and scale shape as [[segmentDedup]] (one persisted
    * line relation feeding the min-struct winner aggregation, the
    * winner join, and the per-doc rebuild — see that scaladoc for why
    * each of the three shuffles is irreducible and how duplicate-heavy
    * corpora collapse map-side), and the same persisted-result caller
    * contract. Rebuild joins surviving lines with `\n`, preserving the
    * document's own line order.
    *
    * Output: (idCol, clean_text, n_kept, n_total), one row per input
    * document with ≥1 non-blank line.
    */
  def lineDedup(docs: DataFrame, idCol: String, textCol: String,
      sepPattern: String = "[\\r\\n]+"): DataFrame = {
    val segs = docs
      .select(col(idCol), posexplode(split(col(textCol), sepPattern)))
      .select(col(idCol), col("pos").cast("long").as("seg_id"),
        // full-whitespace trim (plain `trim` strips only spaces — a
        // tab-indented duplicate line would escape the match)
        regexp_replace(col("col"), "^\\s+|\\s+$", "").as("_seg"))
      .filter(length(col("_seg")) > 0)
      .withColumn("gh", md5Long(col("_seg")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val winners = segmentWinners(segs, idCol)
      val marked = segs.join(winners, "gh")
        .withColumn("_keep",
          col(idCol) === col("_wdoc") && col("seg_id") === col("_wseg"))
      val result = rebuildFromFlag(marked, idCol, sep = "\n")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try result.count() // materialize while `segs` is still cached
      catch { case e: Throwable =>
        // on failure the caller never receives a handle to unpersist
        result.unpersist()
        throw e
      }
      result
    } finally { segs.unpersist(); () }
  }

  /** Content-defined-chunking (CDC) segment dedup — the shift-robust
    * third boundary rule next to [[segmentDedup]] (fixed token windows)
    * and [[lineDedup]] (natural line boundaries): a segment ends after
    * every token whose hash is ≡ 0 mod `divisor` (expected segment
    * length ≈ `divisor` tokens). Because a passage's boundaries depend
    * only on its OWN tokens, an insertion before a duplicated passage
    * shifts its position but not its segmentation — the case where fixed
    * windows misalign and miss every window of the duplicate (the
    * rsync/LBFS chunking argument, applied to corpus dedup; spec'd
    * head-to-head in CdcDedupSpec). Segments are materialized by one
    * map-only pass — each token emits itself plus either a U+0001
    * boundary mark or a space, then one split — and the winner/rebuild
    * machinery is [[lineDedup]]'s wholesale (keep-first corpus-wide
    * min-struct aggregation; rebuild joins surviving segments with
    * spaces in document order).
    *
    * Output and contract as [[segmentDedup]]: (idCol, clean_text,
    * n_kept, n_total), persisted + materialized, caller unpersists.
    */
  def cdcSegmentDedup(docs: DataFrame, idCol: String, textCol: String,
      divisor: Long = 8L): DataFrame = {
    require(divisor > 0, s"divisor must be positive, got $divisor")
    val markedText = concat_ws("", transform(tokens(col(textCol)), x =>
      concat(x, when(pmod(md5Long(x), lit(divisor)) === 0, lit("\u0001"))
        .otherwise(lit(" ")))))
    val segs = docs.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol), posexplode(split(markedText, "\u0001")))
      .select(col(idCol), col("pos").cast("long").as("seg_id"),
        // only the final split part can be blank (text ending on a
        // boundary token); trimming + dropping it keeps seg ids stable
        regexp_replace(col("col"), "^\\s+|\\s+$", "").as("_seg"))
      .filter(length(col("_seg")) > 0)
      .withColumn("gh", md5Long(col("_seg")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val winners = segmentWinners(segs, idCol)
      val marked = segs.join(winners, "gh")
        .withColumn("_keep",
          col(idCol) === col("_wdoc") && col("seg_id") === col("_wseg"))
      val result = rebuildFromFlag(marked, idCol)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try result.count() // materialize while `segs` is still cached
      catch { case e: Throwable =>
        // on failure the caller never receives a handle to unpersist
        result.unpersist()
        throw e
      }
      result
    } finally { segs.unpersist(); () }
  }

  /** Streaming segment-level dedup: [[segmentDedup]]'s corpus rewrite as
    * a `foreachBatch` ingest stage with a persisted segment-claim store
    * — the same store layout (and therefore the same
    * [[compactClaims]] compaction and idempotent-replay reasoning) as
    * [[streamingNearDup]], with `band = 0` and the segment hash as the
    * claim key.
    *
    * Per micro-batch: segment the batch once (persisted across the
    * three consumers), mark segments whose hash was claimed by a PRIOR
    * batch, pick keep-first winners among the fresh ones (the same
    * min-struct aggregation), rebuild the batch's documents, and write
    * docs to `out_batch=N` + this batch's newly claimed hashes to
    * `claim_batch=N` — both partition overwrites, so replaying a batch
    * after a crash converges instead of duplicating. In-order arrival
    * (ascending doc ids) reproduces the batch operator's output
    * exactly: a hash's first batch holds its global (doc, pos) minimum.
    *
    * Scale: prior claims are distinct-segment-sized and the mark is one
    * equi-join on the hash — never broadcast (the store GROWS with the
    * corpus; this is the documented opposite of the eval-side
    * broadcasts in [[streamingDecontaminate]]).
    */
  def streamingSegmentDedup(docs: DataFrame, idCol: String, textCol: String,
      storePath: String, outPath: String, checkpoint: String,
      segTokens: Int = 10): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val prior =
          if (claimPartitions(s, storePath).isEmpty) None
          else Some(
            s.read.option("basePath", storePath).schema(ClaimStoreSchema)
              .parquet(storePath)
              .filter(col("claim_batch") < batchId)
              .select("bkey"))
        val segs = segmentRelation(batch, idCol, textCol, segTokens)
          .withColumn("bkey", col("gh").cast("string"))
          .persist()
        try {
          // each batch claims only hashes unseen before it, so the store
          // is distinct on bkey by construction — no dedup pass here
          val marked0 = prior match {
            case Some(p) =>
              segs.join(p.select(col("bkey"), lit(true).as("_prior")),
                  Seq("bkey"), "left_outer")
                .withColumn("_claimed", coalesce(col("_prior"), lit(false)))
            case None => segs.withColumn("_claimed", lit(false))
          }
          val winners = segmentWinners(marked0.filter(!col("_claimed")), idCol)
          val marked = marked0.join(winners, Seq("gh"), "left_outer")
            .withColumn("_keep", !col("_claimed") &&
              col(idCol) === col("_wdoc") && col("seg_id") === col("_wseg"))
          rebuildFromFlag(marked, idCol)
            .write.mode("overwrite").parquet(s"$outPath/out_batch=$batchId")
          marked0.filter(!col("_claimed"))
            .select(lit(0).as("band"), col("bkey")).distinct()
            .write.mode("overwrite").parquet(s"$storePath/claim_batch=$batchId")
        } finally { segs.unpersist(); () }
      }
      .start()

  /** SimHash bits (default 48 to stay in positive long territory). */
  val SimHashBits = 48

  /** SimHash per document over whitespace tokens (with repetition):
    * bit b set iff sum over tokens of ±1 (by bit b of the token hash) > 0.
    */
  def simhash(df: DataFrame, idCol: String, text: Column): DataFrame = {
    val tok = df.select(col(idCol), explode(tokens(text)).as("w"))
      .select(col(idCol), md5Long(col("w")).as("h"))
    val bitSums = (0 until SimHashBits).map { b =>
      sum(when(shiftrightunsigned(col("h"), b).bitwiseAND(1L) === 1L, 1L).otherwise(-1L))
        .as(s"s$b")
    }
    val assembled = (0 until SimHashBits).map { b =>
      when(col(s"s$b") > 0, lit(1L << b)).otherwise(0L)
    }.reduce(_ + _)
    tok.groupBy(col(idCol))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col(idCol), assembled.as("simhash"))
  }

  /** Streaming exact dedup: emit ONE representative per signature, with
    * state bounded by the event-time watermark (a signature older than the
    * delay is evicted — new duplicates of it pass through, the documented
    * tradeoff of windowed streaming dedup at unbounded scale). Built on
    * `dropDuplicatesWithinWatermark`, whose state is keyed by the
    * signature columns ALONE (a plain `dropDuplicates(sig :+ ts)` would
    * dedup per (signature, timestamp), passing same-signature rows with
    * different event times). Which duplicate inside a single micro-batch
    * survives is engine-chosen, not time-ordered — later batches always
    * dedup against the stored key.
    */
  def streamingExact(df: DataFrame, sigCols: Seq[String],
      eventTimeCol: String, watermarkDelay: String): DataFrame =
    df.withWatermark(eventTimeCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(sigCols)

  /** Streaming exact dedup with UNBOUNDED state (no watermark): exact
    * first-wins semantics forever — correct for bounded replays, grows
    * state linearly on endless streams.
    */
  def streamingExactUnbounded(df: DataFrame, sigCols: Seq[String]): DataFrame =
    df.dropDuplicates(sigCols)

  /** SimHash near-duplicate pairs: band the signature into `bands`
    * contiguous bit slices; by pigeonhole, any pair within hamming distance
    * `maxHamming < bands` matches exactly on at least one band, so
    * candidates come from a band-key equi-join (bucketed, not all-pairs —
    * same scale shape as MinHash LSH), then exact hamming verifies.
    * Candidate fan-out per band bucket is bounded by `bandCap` (all-pairs
    * among the lowest ids + star edges to the bucket min, signatures
    * carried through for the hamming verify — see [[BandBucketCap]]).
    */
  def simhashNearDups(df: DataFrame, idCol: String, text: Column,
      maxHamming: Int = 3, bands: Int = 4,
      bandCap: Int = BandBucketCap): DataFrame = {
    require(maxHamming < bands,
      s"pigeonhole guarantee needs maxHamming ($maxHamming) < bands ($bands)")
    require(SimHashBits % bands == 0, s"bands ($bands) must divide $SimHashBits")
    val bitsPerBand = SimHashBits / bands
    val sims = simhash(df, idCol, text)
    val banded = sims.select(col(idCol), col("simhash"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"),
            shiftrightunsigned(col("simhash"), b * bitsPerBand)
              .bitwiseAND(lit((1L << bitsPerBand) - 1)).as("bkey"))): _*)).as("bk"))
      .select(col(idCol), col("simhash"), col("bk.band"), col("bk.bkey"))
    bandedCandidates(banded, idCol, bandCap, carry = Seq("simhash"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("simhash_a").bitwiseXOR(col("simhash_b")))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  // -------------------------------------------------------------------
  // Streaming NEAR-dup (greedy banded minhash) — the near-dup analogue of
  // [[streamingExact]]. A document survives iff it is the lowest-id
  // claimant of EVERY one of its LSH band buckets, counting buckets
  // claimed by any earlier micro-batch (arrival order dominates across
  // batches; id order decides within a batch). Greedy bucket claiming is
  // the standard streaming relaxation of batch minhash dedup: no Jaccard
  // verification pass (a band collision alone drops the newcomer — more
  // aggressive than [[minhashNearDups]]' verified ≥0.4 pairs) and no
  // band-bucket cap (winner-per-bucket is an aggregation, so there is no
  // pairwise expansion to bound). On an in-order replay the result is
  // IDENTICAL to running [[greedyNearDupStep]] once over the whole corpus
  // (per-bucket min is batch-decomposable when ids arrive ascending) —
  // differential-tested in StreamingNearDupSpec and oracle-gated.
  // -------------------------------------------------------------------

  /** Band-bucket claims of a corpus slice: one row per (id, band, bkey). */
  def bandClaims(df: DataFrame, idCol: String, text: Column,
      nGram: Int = 3): DataFrame =
    bandKeys(minhashAgg(shingleHashes(df, idCol, text, nGram), idCol), idCol)

  /** One greedy dedup round over a (micro-)batch: returns
    * `(survivors, newClaims)` where survivors are the batch rows that are
    * the minimum-id claimant of all their buckets AND collide with no
    * bucket in `priorClaims` (band, bkey — claims from earlier batches),
    * and newClaims are the batch's distinct buckets not already in
    * `priorClaims` (so a store stays duplicate-free). Documents too short
    * to shingle have no buckets and always survive.
    *
    * Shuffle shape: one aggregation keyed (band, bkey) for the per-bucket
    * winner, joins on the same key (partitioning reused), and one
    * left-anti join back on the id — no pairwise candidate expansion
    * anywhere, so no bucket cap is needed.
    */
  def greedyNearDupStep(batch: DataFrame, idCol: String, text: Column,
      priorClaims: Option[DataFrame], nGram: Int = 3)
      : (DataFrame, DataFrame) =
    greedyFromClaims(batch, idCol, bandClaims(batch, idCol, text, nGram),
      priorClaims)

  /** [[greedyNearDupStep]] over an already-computed (and ideally
    * persisted) claims relation — the claims subtree feeds four separate
    * consumers, so the streaming wrapper caches it once per micro-batch
    * instead of re-deriving shingles+minhash per consumer.
    */
  def greedyFromClaims(batch: DataFrame, idCol: String, claims: DataFrame,
      priorClaims: Option[DataFrame]): (DataFrame, DataFrame) = {
    val blockedByPrior = priorClaims.map(pc =>
        claims.join(pc.select("band", "bkey"), Seq("band", "bkey"), "left_semi"))
      .getOrElse(claims.limit(0))
    val bucketMin = claims.groupBy("band", "bkey")
      .agg(min(col(idCol)).as("win_id"))
    val lostInBatch = claims.join(bucketMin, Seq("band", "bkey"))
      .filter(col(idCol) > col("win_id"))
    val losers = blockedByPrior.select(idCol)
      .unionAll(lostInBatch.select(idCol)).distinct()
    val survivors = batch.join(losers, Seq(idCol), "left_anti")
    val newClaims = priorClaims.foldLeft(
        claims.select("band", "bkey").distinct())(
      (c, pc) => c.join(pc.select("band", "bkey"), Seq("band", "bkey"), "left_anti"))
    (survivors, newClaims)
  }

  /** The claim-store row schema ([[bandKeys]] output minus the id) plus
    * the `claim_batch` partition column — passed explicitly to store
    * reads so a store containing only in-flight partition dirs (e.g. an
    * interrupted first batch left `_temporary` files) reads as empty
    * instead of failing schema inference.
    */
  private val ClaimStoreSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("band",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("bkey",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("claim_batch",
      org.apache.spark.sql.types.LongType)))

  private def claimPartitions(spark: org.apache.spark.sql.SparkSession,
      storePath: String): Seq[org.apache.hadoop.fs.Path] =
    BatchDirs.paths(spark, storePath, "claim_batch=")

  /** Offline compaction of a [[streamingNearDup]] claim store: fold the
    * compacted base and every FINALIZED batch partition into one distinct
    * bucket set under a fresh NEGATIVE `claim_batch` partition (strictly
    * below any existing one — live batch ids are ≥ 0, so the streaming
    * loop's `claim_batch < batchId` read always sees the base), then drop
    * the folded partitions.
    *
    * The HIGHEST live batch id is deliberately left out of the fold: only
    * one micro-batch can ever be written-but-uncommitted (structured
    * streaming commits batch N before starting N+1), so a checkpoint
    * replay can only re-run that highest batch — and a replayed batch
    * must NOT see its own claims as prior (it would classify every
    * shingled doc in the batch as a loser and overwrite its output with
    * a near-empty survivor set). Keeping that batch under its own
    * `claim_batch=N` partition preserves the `< batchId` exclusion
    * across compaction. Run while the query is STOPPED (between
    * AvailableNow drains). Crash-safe in the weak-but-sufficient sense:
    * the base lands in a directory that was never an input before
    * anything is deleted, so an interrupted run leaves duplicate claims
    * (harmless — blocking is a semi-join) never missing ones, and a
    * re-run finishes the job.
    */
  def compactClaims(spark: org.apache.spark.sql.SparkSession,
      storePath: String): Unit = {
    val parts = claimPartitions(spark, storePath)
    def idOf(p: org.apache.hadoop.fs.Path): Long =
      p.getName.stripPrefix("claim_batch=").toLong
    val maxLive = parts.map(idOf).filter(_ >= 0).maxOption
    val fold = parts.filter(p => idOf(p) < 0 || maxLive.exists(idOf(p) < _))
    if (fold.length > 1) {
      val fs = fold.head.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val target = math.min(-1L, parts.map(idOf).min - 1)
      spark.read.option("basePath", storePath).schema(ClaimStoreSchema)
        .parquet(fold.map(_.toString).toIndexedSeq: _*)
        .select("band", "bkey").distinct()
        .write.parquet(s"$storePath/claim_batch=$target")
      fold.foreach(p => fs.delete(p, true))
    }
  }

  /** Bloom-prefiltered exact decontamination: train docs sharing any key
    * (shingle hash) with the eval set, computed as
    * bloom-prefilter → exact confirm join.
    *
    * This is Spark's runtime-filter shape made explicit as an operator:
    * the full-volume train relation is screened by a map-side
    * `might_contain` test (a broadcast-free, shuffle-free Filter sitting
    * directly on the scan — the bloom rides the plan as a binary
    * LITERAL), and only the surviving sliver reaches the confirm join
    * that removes the bloom's false positives. The result is therefore
    * IDENTICAL to the plain `train ⋈ eval` — blooms have no false
    * negatives — but the join input shrinks from 100 TB of shingles to
    * (true hits + fp·|train|) rows. At fpp≈1% the exchange under the
    * join carries ~1% of the corpus instead of all of it, and unlike
    * the broadcast-join-only form this also thins the aggregation above.
    *
    * The bloom itself is built in one aggregation over the eval keys and
    * collected to the driver — it is `numBits/8` bytes by construction
    * (independent of eval cardinality), so the collect is driver-sized by
    * parameter, not by data. Eval keys are hashed with `xxhash64` on both
    * the build and probe side; the confirm join uses the raw key, so a
    * 64-bit hash collision cannot create a false hit either.
    *
    * Inputs are exploded key relations shaped like [[shingleHashes]]
    * output: `train` = (idCol, keyCol), `eval` = (keyCol) [deduped here].
    * Output: (idCol, n_hits) — one row per contaminated train doc.
    */
  def bloomDecontaminate(trainKeys: DataFrame, evalKeys: DataFrame,
      idCol: String, keyCol: String = "sh",
      expectedEvalKeys: Long = 1L << 20, numBits: Long = 1L << 23): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftshim.Shims
    // the eval key set feeds TWO consumers (the bloom-build aggregation
    // and the confirm join's broadcast side) — persist it so deriving it
    // (at gate shape: a full-corpus hash filter + shingle explode) runs
    // once, not twice; the bloom collect below materializes the cache.
    // Caller contract mirrors fuzzyDecontaminate: the small persisted
    // relation is released here once the RESULT is materialized.
    val ev = evalKeys.select(col(keyCol)).distinct().persist()
    try {
      val bloomAgg = Shims.column(new BloomFilterAggregate(
        Shims.expression(xxhash64(col(keyCol))),
        Literal(expectedEvalKeys), Literal(numBits), 0, 0)
        .toAggregateExpression())
      // one row, numBits/8 bytes — driver-sized by parameter
      val bloomBytes = ev.agg(bloomAgg.as("bf")).head().getAs[Array[Byte]]("bf")
      if (bloomBytes == null)
        // empty eval set: no contamination, keep the output schema
        return trainKeys.select(col(idCol)).limit(0)
          .withColumn("n_hits", lit(0L))
      val mightContain = Shims.column(BloomFilterMightContain(
        Literal.create(bloomBytes,
          org.apache.spark.sql.types.BinaryType),
        Shims.expression(xxhash64(col(keyCol)))))
      val result = trainKeys.filter(mightContain)
        .join(broadcast(ev), keyCol)
        .groupBy(col(idCol)).agg(count(lit(1)).as("n_hits"))
        .persist()
      // materialize before releasing ev (failure path releases result)
      try result.count()
      catch { case e: Throwable => result.unpersist(); throw e }
      result
    } finally { ev.unpersist(); () }
  }

  /** Dedup provenance ledger — the audit trail a production curation
    * pipeline keeps for every REMOVED document: which tier dropped it
    * (`exact` > `bow` > `neardup`, strongest-evidence-first) and which
    * keeper it collapsed into. Tier priority is by construction, not by
    * post-hoc ranking: each tier only sees the SURVIVORS of the previous
    * one, so a doc appears at most once and always under the cheapest
    * tier that caught it.
    *
    * Scale shape: three passes over progressively smaller survivor
    * sets. The exact and BOW tiers are each one hash aggregation (keeper
    * = min id per signature) plus one equi-join back on the signature —
    * the irreducible exact-dedup cost, fully parallel, no windows. The
    * near-dup tier reuses [[minhashNearDups]] (banded, capped, never
    * all-pairs) and [[connectedComponents]] (pointer-jump O(log d)) over
    * tier-2 survivors only.
    *
    * Output: (idCol, reason, keeper) — one row per dropped doc.
    */
  def dropLedger(docs: DataFrame, idCol: String, text: Column,
      threshold: Double = 0.4): DataFrame = {
    // Decide the two signature tiers on NARROW rows (guide §8 "decide
    // with small rows, move big rows once" — r22): both signatures are
    // derived in ONE map pass, each tier's keeper is a min-id window
    // over its signature partitioning (the r20/r21 shape joined the
    // TEXT-CARRYING relation back to a per-sig keeper aggregate, twice —
    // the corpus text rode two signature-keyed shuffles purely to carry
    // the drop decision). Tier-2 keepers are computed among tier-1
    // survivors via a conditional min over the same window relation —
    // identical semantics (min id per bow-sig among exact-tier
    // survivors). Text is re-attached ONCE, by an id-keyed semi-join,
    // only for the minhash tier's survivor set.
    val base = docs.select(col(idCol), text.as("_text"))
    val sigs = base.select(col(idCol), md5(col("_text")).as("_sig1"),
      bowSignature(col("_text")).as("_sig2"))
    val lab = sigs
      .withColumn("_k1", min(col(idCol)).over(Window.partitionBy("_sig1")))
      .withColumn("_k2", min(when(col(idCol) === col("_k1"), col(idCol)))
        .over(Window.partitionBy("_sig2")))
    val exactDrop = lab.filter(col(idCol) =!= col("_k1"))
      .select(col(idCol), lit("exact").as("reason"), col("_k1").as("keeper"))
    val bowDrop = lab
      .filter(col(idCol) === col("_k1") && col(idCol) =!= col("_k2"))
      .select(col(idCol), lit("bow").as("reason"), col("_k2").as("keeper"))
    val s2 = base.join(
      lab.filter(col(idCol) === col("_k1") && col(idCol) === col("_k2"))
        .select(col(idCol)),
      Seq(idCol), "left_semi")

    val pairs = minhashNearDups(s2, idCol, col("_text"), threshold)
    val comps = connectedComponents(pairs) // (id, comp), checkpointed
    pairs.unpersist()
    val ck = comps.groupBy("comp").agg(min(col("id")).as("keeper"))
    val nearDrop = comps.join(ck, "comp")
      .filter(col("id") =!= col("keeper"))
      .select(col("id").as(idCol), lit("neardup").as("reason"),
        col("keeper"))

    exactDrop.unionByName(bowDrop).unionByName(nearDrop)
  }

  /** Eval-side leakage report — the reverse view of decontamination:
    * for each EVAL doc, the fraction of its distinct n-gram shingles
    * that appear anywhere in the train corpus ("how compromised is this
    * benchmark item"). Decontamination asks which TRAIN docs to drop;
    * this asks which EVAL items can no longer be trusted even after
    * dropping them — the report every contamination audit publishes.
    *
    * Scale shape: the full-volume train shingle stream is reduced
    * map-only by a broadcast semi-join against the (small by
    * construction) eval shingle set, and only the SURVIVORS — bounded
    * by |eval shingles|, not by train — are distinct-aggregated and
    * joined back. Every shuffled relation is eval-bounded; train text
    * never moves.
    *
    * Output: (idCol, n_shingles, n_leaked, leak_frac) per eval doc with
    * ≥1 shingle; leak_frac = n_leaked/n_shingles exact-double.
    */
  def leakageReport(trainKeys: DataFrame, evalKeys: DataFrame,
      idCol: String, keyCol: String = "sh"): DataFrame = {
    val evalDistinctKeys = evalKeys.select(col(keyCol)).distinct()
    val leaked = trainKeys.select(col(keyCol))
      .join(broadcast(evalDistinctKeys), keyCol, "left_semi")
      .distinct() // eval-bounded: at most |eval shingle set| rows survive
      .withColumn("_leaked", lit(1L))
    evalKeys.join(broadcast(leaked), Seq(keyCol), "left_outer")
      .groupBy(col(idCol)).agg(
        count(lit(1)).as("n_shingles"),
        count(col("_leaked")).as("n_leaked"))
      .withColumn("leak_frac",
        col("n_leaked").cast("double") / col("n_shingles").cast("double"))
  }

  /** Streaming greedy near-dedup: `docs` (a streaming DataFrame) →
    * surviving rows under `outPath`, claimed buckets under `storePath`,
    * both partitioned by micro-batch id so a replayed batch OVERWRITES its
    * own previous partial output instead of double-claiming (the standard
    * idempotent-foreachBatch pattern; each round reads only claims with
    * `claim_batch < batchId`). Claims are never evicted — near-dup state,
    * unlike exact-signature state, has no watermark semantics a newcomer
    * could rely on; at 100 TB the store is a partitioned table compacted
    * offline by [[compactClaims]]. Store reads carry an explicit schema
    * (empty/in-flight stores read as empty); any OTHER store-read failure
    * fails the batch — silently proceeding without prior claims would
    * ship duplicates as survivors.
    */
  def streamingNearDup(docs: DataFrame, idCol: String, text: Column,
      storePath: String, outPath: String, checkpoint: String,
      nGram: Int = 3): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val prior =
          if (claimPartitions(s, storePath).isEmpty) None
          else Some(
            s.read.option("basePath", storePath).schema(ClaimStoreSchema)
              .parquet(storePath)
              .filter(col("claim_batch") < batchId)
              .select("band", "bkey"))
        val cached = batch.persist()
        val claims = bandClaims(cached, idCol, text, nGram).persist()
        try {
          val (surv, newClaims) =
            greedyFromClaims(cached, idCol, claims, prior)
          surv.write.mode("overwrite").parquet(s"$outPath/out_batch=$batchId")
          newClaims.write.mode("overwrite")
            .parquet(s"$storePath/claim_batch=$batchId")
        } finally { claims.unpersist(); cached.unpersist(); () }
      }
      .start()

  // -------------------------------------------------------------------
  // Batch incremental dedup against a persisted claim store — the
  // recurring-crawl shape: day-1 builds the store from the accepted
  // corpus ONCE; every later snapshot dedups against the store without
  // recomputing a single prior signature, then appends only its OWN new
  // claims. Same store layout (and [[compactClaims]] compaction) as
  // [[streamingNearDup]], so a store can be built by either path and
  // consumed by the other.
  // -------------------------------------------------------------------

  /** Bootstrap a claim store from an existing corpus: its distinct band
    * buckets under `claim_batch=0`. One minhash pass + one distinct —
    * the only time the prior corpus is ever signed.
    */
  def buildClaimStore(corpus: DataFrame, idCol: String, text: Column,
      storePath: String, nGram: Int = 3): Unit =
    bandClaims(corpus, idCol, text, nGram)
      .select("band", "bkey").distinct()
      .write.mode("overwrite").parquet(s"$storePath/claim_batch=0")

  /** Dedup a NEW snapshot against a persisted claim store (greedy banded
    * minhash, [[greedyFromClaims]] semantics): a snapshot doc survives
    * iff none of its band buckets is claimed by the store AND it is the
    * min-id claimant of each of its buckets within the snapshot. The
    * snapshot's new claims (buckets not already in the store) land under
    * the next `claim_batch` partition, so consecutive snapshots chain:
    * run N sees the claims of runs 0..N-1 — without ever re-reading or
    * re-signing the prior corpora.
    *
    * Scale shape: the store read is a parquet scan of (band, bkey) only;
    * the block test is one equi-join on that key (never broadcast — the
    * store GROWS with the corpus); signatures are computed for the
    * SNAPSHOT alone. This is what makes day-2 ingest O(|snapshot|), not
    * O(|corpus|): the store is the corpus's signature memo.
    *
    * CONTRACT (the [[segmentDedup]] contract): the returned survivors
    * are persisted (MEMORY_AND_DISK) and materialized — the caller owns
    * the handle and must `unpersist()`. The claim write happens before
    * return; an exception leaves the store without the new partition
    * (re-run converges — `mode("overwrite")` per partition).
    */
  def dedupAgainstStore(snapshot: DataFrame, idCol: String, text: Column,
      storePath: String, nGram: Int = 3): DataFrame = {
    val s = snapshot.sparkSession
    val parts = claimPartitions(s, storePath)
    val prior =
      if (parts.isEmpty) None
      else Some(
        s.read.option("basePath", storePath).schema(ClaimStoreSchema)
          .parquet(storePath).select("band", "bkey"))
    val nextBatch = parts
      .map(p => p.getName.stripPrefix("claim_batch=").toLong)
      .maxOption.map(_ + 1L).getOrElse(0L)
    val cached = snapshot.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val claims = bandClaims(cached, idCol, text, nGram).persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val (surv, newClaims) = greedyFromClaims(cached, idCol, claims, prior)
      // materialize survivors BEFORE the claim write: the converse order
      // would leave the snapshot's own claims persisted when the
      // survivor job fails, and the documented re-run (nextBatch = N+1)
      // would then read them as PRIOR claims and block every shingled
      // snapshot doc against itself — the contract is that a failed run
      // leaves the store without the new partition
      val result = surv.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        result.count() // materialize while the inputs are still cached
        newClaims.write.mode("overwrite")
          .parquet(s"$storePath/claim_batch=$nextBatch")
      } catch { case e: Throwable =>
        // on failure the caller never receives a handle to unpersist
        result.unpersist()
        throw e
      }
      result
    } finally { claims.unpersist(); cached.unpersist(); () }
  }
}
