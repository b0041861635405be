package graft.gates

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Similarity, TextAnalysis}
import graft.fixtures.Tables._
import graft.fixtures.ZipfCorpus._
import graft.fixtures.Staging._
import graft.fixtures.SharedSql._

/** Dedup gates (`qd_*`): exact, MinHash/LSH, SimHash, n-gram, segment
  * and embedding near-duplicates over the documents and embeddings
  * tables, with their streaming runs.
  */
object QdGates extends GateFamily {

  /** Gram document-frequency cap for qd_ngram_jaccard (posting-list
    * truncation bound, shared with the oracle SQL).
    */
  private val NgramDfCap = 20

  private val simSums = (0 until Dedup.SimHashBits).map { b =>
    s"sum(CASE WHEN (h>>$b)&1=1 THEN 1 ELSE -1 END) AS s$b"
  }.mkString(", ")

  private val simAssemble = (0 until Dedup.SimHashBits).map { b =>
    s"(CASE WHEN s$b>0 THEN ${1L << b} ELSE 0 END)"
  }.mkString(" + ")

  private val dotAB = "list_reduce(list_transform(list_zip(a.qe,b.qe), t -> t[1]*t[2]), (x,y) -> x+y)"

  // 4-plane variant for qd_cosine_nn's candidate buckets
  private val nnBucketExpr = (0 until Similarity.NnPlanes).map { p =>
    s"(CASE WHEN list_reduce(list_transform(list_zip(qe, ${planeLits(p)}), t -> t[1]*t[2]), (x,y) -> x+y) >= 0 THEN ${1L << p} ELSE 0 END)"
  }.mkString(" + ")

  val exactStats = gate("qd_exact_stats") { (s, dir) =>
    val d = t(s, dir, "documents")
    val bow = d.groupBy(Dedup.bowSignature(col("text")).as("sig"))
      .agg(count(lit(1)).as("n"))
    d.agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("n_distinct_text"))
      .crossJoin(broadcast(
        bow.agg(
          sum(when(col("n") > 1, 1L).otherwise(0L)).as("n_bow_groups"),
          sum(when(col("n") > 1, col("n")).otherwise(0L)).as("n_bow_dup_docs"))))
  }(
    """WITH bow AS (
      |  SELECT md5(list_aggregate(list_sort(list_distinct(string_split_regex(trim(text),'\s+'))),'string_agg','|')) AS sig,
      |         count(*) AS n
      |  FROM documents GROUP BY 1)
      |SELECT (SELECT count(*) FROM documents) AS n_docs,
      |  (SELECT count(DISTINCT text) FROM documents) AS n_distinct_text,
      |  CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bow_groups,
      |  CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT) AS n_bow_dup_docs
      |FROM bow""".stripMargin)

  val bowGroups = gate("qd_bow_groups") { (s, dir) =>
    Dedup.dupGroups(t(s, dir, "documents"), "doc_id", Dedup.bowSignature(col("text")))
      .orderBy("sig")
  }(
    """SELECT md5(list_aggregate(list_sort(list_distinct(string_split_regex(trim(text),'\s+'))),'string_agg','|')) AS sig,
      |  count(*) AS n_docs, min(doc_id) AS keep_id
      |FROM documents GROUP BY 1 HAVING count(*) > 1 ORDER BY 1""".stripMargin)

  val dedupKeep = gate("qd_dedup_keep") { (s, dir) =>
    // exact dedup keeper set: lowest doc_id per bag-of-words signature
    val d = t(s, dir, "documents")
    d.groupBy(Dedup.bowSignature(col("text")).as("sig"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id").orderBy("doc_id")
  }(
    """SELECT min(doc_id) AS doc_id FROM documents
      |GROUP BY md5(list_aggregate(list_sort(list_distinct(string_split_regex(trim(text),'\s+'))),'string_agg','|'))
      |ORDER BY doc_id""".stripMargin)

  val minhashPairs = gate("qd_minhash_pairs") { (s, dir) =>
    Dedup.minhashNearDups(t(s, dir, "documents"), "doc_id", col("text"))
      .orderBy("doc_a", "doc_b")
  }(
    minhashPairsCtes +
    "\nSELECT doc_a, doc_b, jaccard FROM mp ORDER BY doc_a, doc_b")

  val dupSpans = gate("qd_dup_spans") { (s, dir) =>
    // exact-substring dedup shape: positions whose 5-gram repeats
    // corpus-wide, merged per doc into maximal token intervals
    // (gaps-and-islands); per-doc span stats, zeros for clean docs
    Dedup.duplicatedSpans(
        docsFanned(s, dir).filter(length(trim(col("text"))) > 0),
        "doc_id", col("text"))
      .orderBy("doc_id")
  }(
    s"""WITH tk AS (SELECT doc_id, $toks AS w FROM documents
       |  WHERE length(trim(text)) > 0),
       |g AS (SELECT doc_id, z.pos AS pos, ${h("z.s")} AS gh FROM (
       |  SELECT doc_id, unnest(list_transform(range(len(w)-4),
       |    i -> {'pos': i,
       |          's': w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]||' '||w[i+5]})) AS z
       |  FROM tk WHERE len(w) >= 5)),
       |dup AS (SELECT gh FROM g GROUP BY gh HAVING count(*) > 1),
       |dp AS (SELECT doc_id, pos FROM g JOIN dup USING (gh)),
       |pm AS (SELECT doc_id, pos, max(pos + 5) OVER (PARTITION BY doc_id
       |    ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_e
       |  FROM dp),
       |isl AS (SELECT doc_id, pos,
       |    sum(CASE WHEN prev_e IS NULL OR pos > prev_e THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |  FROM pm),
       |sp AS (SELECT doc_id, island, min(pos) AS s, max(pos) + 5 AS e
       |  FROM isl GROUP BY 1, 2),
       |st AS (SELECT doc_id, count(*) AS n_spans, max(e - s) AS mx,
       |    sum(e - s) AS dup FROM sp GROUP BY 1)
       |SELECT t.doc_id,
       |  coalesce(n_spans, 0) AS n_spans,
       |  CAST(coalesce(mx, 0) AS BIGINT) AS max_span_tokens,
       |  CAST(coalesce(dup, 0) AS BIGINT) AS dup_tokens,
       |  CAST(len(w) AS BIGINT) AS n_tokens
       |FROM tk t LEFT JOIN st USING (doc_id) ORDER BY doc_id""".stripMargin)

  val prefixJoin = gate("qd_prefix_join") { (s, dir) =>
    // EXACT similarity join by prefix filtering (AllPairs/PPJoin
    // lite) on the SAME distinct 3-shingle sets minhash signs:
    // rarity-ordered per-doc shingle prefixes bound the candidate
    // pairs with NO false negatives — the provably-complete
    // counterpart of the minhash pipeline on the identical measure;
    // length filter + rational-integer thresholds, Jaccard ≥ 3/5 —
    // see Dedup.prefixFilterNearDups
    Dedup.prefixFilterNearDups(t(s, dir, "documents"), "doc_id",
        col("text"))
      .orderBy("doc_a", "doc_b")
  }(
    // prefix-filter replay over the SHARED shingle CTE (the same
    // distinct 3-shingle hashes the minhash oracles sign): same
    // rarity order (df ASC, hash ASC), same rational-integer
    // prefix/length/acceptance thresholds; shm and pref are
    // multi-referenced → MATERIALIZED
    shinglesCte + prefixJoinBody)

  val recallAudit = gate("qd_recall_audit") { (s, dir) =>
    // LSH recall against PROVABLE ground truth: every true pair
    // (exact prefix-filter join, J ≥ 3/5 — complete by construction)
    // flagged with whether the capped banded-minhash pipeline also
    // surfaced it at the same threshold. The one number LSH tuning
    // guides ask for ("what does the band/cap setting actually
    // miss?") measured on the identical shingle sets — no sampling,
    // no estimate.
    // one persisted shingle relation feeds BOTH pipelines — see
    // Dedup.recallAudit (the r17 board paid the explode twice)
    Dedup.recallAudit(t(s, dir, "documents"), "doc_id", col("text"),
        lshThreshold = 0.6)
      .orderBy("doc_a", "doc_b")
  }(
    // recall audit: the minhash CTE chain (mp, ≥ 0.4) and the
    // prefix-filter chain share tk/sh; prefix CTEs renamed p* to
    // avoid colliding with the minhash cand; mp re-filtered to the
    // audit threshold 0.6
    minhashPairsCtes + """,
    |shm AS MATERIALIZED (SELECT doc_id, sh FROM sh),
    |pdf AS (SELECT sh, count(*) AS df FROM shm GROUP BY sh),
    |prk AS (SELECT x.doc_id, x.sh, sizes.nsh AS n,
    |    row_number() OVER (PARTITION BY x.doc_id
    |      ORDER BY d.df, x.sh) AS r
    |  FROM shm x JOIN pdf d ON d.sh = x.sh
    |    JOIN sizes ON sizes.doc_id = x.doc_id),
    |ppref AS MATERIALIZED (SELECT doc_id, sh, n FROM prk
    |  WHERE r <= n - ((3*n + 4) // 5) + 1),
    |pcand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
    |    a.n AS na, b.n AS nb
    |  FROM ppref a JOIN ppref b ON a.sh = b.sh
    |    AND a.doc_id < b.doc_id
    |  WHERE 3 * greatest(a.n, b.n) <= 5 * least(a.n, b.n)),
    |pver AS (SELECT c.doc_a, c.doc_b, c.na, c.nb,
    |    CAST(count(*) AS BIGINT) AS pc
    |  FROM pcand c
    |  JOIN shm ta ON ta.doc_id = c.doc_a
    |  JOIN shm tb ON tb.doc_id = c.doc_b AND tb.sh = ta.sh
    |  GROUP BY 1, 2, 3, 4),
    |exact AS (SELECT doc_a, doc_b,
    |    CAST(pc AS DOUBLE) / CAST(na + nb - pc AS DOUBLE) AS jaccard
    |  FROM pver WHERE 5 * pc >= 3 * (na + nb - pc))
    |SELECT e.doc_a, e.doc_b, e.jaccard,
    |  (m.doc_a IS NOT NULL) AS found_by_minhash
    |FROM exact e LEFT JOIN
    |  (SELECT doc_a, doc_b FROM mp WHERE jaccard >= 0.6) m
    |  ON m.doc_a = e.doc_a AND m.doc_b = e.doc_b
    |ORDER BY e.doc_a, e.doc_b""".stripMargin)

  val jaccardEst = gate("qd_jaccard_est") { (s, dir) =>
    // estimator audit: per verified pair, the map-only signature
    // estimate next to the true shingle jaccard — the at-scale
    // pipeline thresholds on the estimate, this measures what that
    // costs
    Dedup.jaccardEstimates(t(s, dir, "documents"), "doc_id", col("text"))
      .orderBy("doc_a", "doc_b")
  }(
    minhashPairsCtes +
    s"""
       |SELECT mp.doc_a, mp.doc_b, mp.jaccard,
       |  CAST((${(0 until Dedup.NumHashes).map(i =>
              s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END")
              .mkString(" + ")}) AS DOUBLE) / ${Dedup.NumHashes}
       |    AS est_jaccard
       |FROM mp
       |JOIN sig sa ON sa.doc_id = mp.doc_a
       |JOIN sig sb ON sb.doc_id = mp.doc_b
       |ORDER BY doc_a, doc_b""".stripMargin)

  val editVerify = gate("qd_edit_verify") { (s, dir) =>
    // the minhash pipeline's exact last stage: bands propose, jaccard
    // screens, levenshtein CONFIRMS on the pair-bounded shortlist —
    // the order-sensitive check that separates true near-copies from
    // same-vocabulary reshuffles
    Dedup.editVerifiedNearDups(t(s, dir, "documents"), "doc_id",
        col("text"))
      .orderBy("doc_a", "doc_b")
  }(
    minhashPairsCtes +
    s"""
       |SELECT mp.doc_a, mp.doc_b, mp.jaccard,
       |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS lev,
       |  1.0 - CAST(levenshtein(a.text, b.text) AS DOUBLE)
       |    / greatest(length(a.text), length(b.text)) AS sim
       |FROM mp
       |JOIN documents a ON a.doc_id = mp.doc_a
       |JOIN documents b ON b.doc_id = mp.doc_b
       |WHERE 1.0 - CAST(levenshtein(a.text, b.text) AS DOUBLE)
       |    / greatest(length(a.text), length(b.text)) >= 0.3
       |ORDER BY doc_a, doc_b""".stripMargin)

  val segmentDedup = gate("qd_segment_dedup") { (s, dir) =>
    // C4-shape segment-level dedup: 10-token segments, global
    // keep-first occurrence per distinct segment, documents rebuilt
    // from their surviving segments in order (losers keep an empty
    // row so the drop policy stays the caller's filter)
    Dedup.segmentDedup(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")
  }(
    s"""WITH tk AS (SELECT doc_id, $toks AS w FROM documents
       |  WHERE length(trim(text)) > 0),
       |sg AS (SELECT doc_id, unnest(range((len(w)+9)//10)) AS seg_id, w FROM tk),
       |sg2 AS (SELECT doc_id, seg_id,
       |  list_aggregate(w[seg_id*10+1 : seg_id*10+10], 'string_agg', ' ') AS seg
       |  FROM sg),
       |wn AS (SELECT doc_id, seg_id, seg, ${h("seg")} AS gh FROM sg2),
       |kp AS (SELECT doc_id, seg_id, seg FROM (
       |  SELECT doc_id, seg_id, seg,
       |      row_number() OVER (PARTITION BY gh ORDER BY doc_id, seg_id) AS rn
       |    FROM wn) WHERE rn = 1),
       |rec AS (SELECT doc_id, count(*) AS n_kept,
       |    string_agg(seg, ' ' ORDER BY seg_id) AS clean_text
       |  FROM kp GROUP BY doc_id),
       |tot AS (SELECT doc_id, (len(w)+9)//10 AS n_total FROM tk)
       |SELECT t.doc_id, coalesce(clean_text, '') AS clean_text,
       |  CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
       |  CAST(n_total AS BIGINT) AS n_total
       |FROM tot t LEFT JOIN rec USING (doc_id) ORDER BY doc_id""".stripMargin)

  val keepBest = gate("qd_keep_best") { (s, dir) =>
    // quality-aware keeper selection: per near-dup component keep the
    // highest-quality member (ties -> lowest id), singletons keep
    // themselves — the curation policy on top of qd_components' labels
    val d = t(s, dir, "documents").filter(length(trim(col("text"))) > 0)
    val r = Dedup.nearDupGroups(d, "doc_id", col("text"))
    try {
      Dedup.keepBestInGroups(d, "doc_id",
          TextAnalysis.qualityScore(col("text")), r.groups)
        .orderBy("doc_id")
    } finally r.pairs.unpersist()
  }(
    minhashPairsCtes.replaceFirst("WITH ", "WITH RECURSIVE ") +
    s""",
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM mp
       |  UNION SELECT doc_b, doc_a FROM mp),
       |reach(id, comp) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r2.comp FROM edges e JOIN reach r2 ON e.dst = r2.id),
       |comps AS (SELECT id AS doc_id, min(comp) AS comp FROM reach GROUP BY 1),
       |qual AS (SELECT doc_id, $qualitySql AS quality FROM documents
       |  WHERE length(trim(text)) > 0),
       |member AS (SELECT c.doc_id, c.comp, q.quality
       |  FROM comps c JOIN qual q USING (doc_id)),
       |keepers AS (SELECT comp, doc_id AS keeper FROM (
       |  SELECT comp, doc_id,
       |      row_number() OVER (PARTITION BY comp ORDER BY quality DESC, doc_id) AS rn
       |    FROM member) WHERE rn = 1),
       |grouped AS (SELECT m.doc_id, m.comp, k.keeper, m.doc_id = k.keeper AS kept
       |  FROM member m JOIN keepers k USING (comp)),
       |singles AS (SELECT q.doc_id, q.doc_id AS comp, q.doc_id AS keeper,
       |    true AS kept
       |  FROM qual q LEFT JOIN comps c USING (doc_id) WHERE c.doc_id IS NULL)
       |SELECT doc_id, comp, keeper, kept FROM grouped
       |UNION ALL SELECT doc_id, comp, keeper, kept FROM singles
       |ORDER BY doc_id""".stripMargin)

  val dropLedger = gate("qd_drop_ledger") { (s, dir) =>
    // dedup provenance ledger: one row per REMOVED doc with the tier
    // that dropped it (exact > bow > neardup, each tier sees only the
    // previous tier's survivors) and the keeper it collapsed into —
    // the audit trail a production pipeline publishes next to the
    // curated corpus.
    Dedup.dropLedger(t(s, dir, "documents"), "doc_id", col("text"))
      .orderBy("doc_id")
  }(
    // the provenance ledger: exact and bow tiers as min-per-signature
    // keeper joins; the near-dup tier is the SAME minhash chain as
    // qd_minhash_pairs but sourced from tier-2 survivors (s2), plus
    // the qd_components recursive closure
    {
    val bowSig =
      """md5(list_aggregate(list_sort(list_distinct(string_split_regex(trim(text),'\s+'))),'string_agg','|'))"""
    val mhOverS2 = minhashPairsCtes.replaceFirst("WITH ", "")
      .replace("FROM documents)", "FROM s2)")
    s"""WITH RECURSIVE
       |t1 AS (SELECT doc_id, md5(text) AS esig, text FROM documents),
       |ek AS (SELECT esig, min(doc_id) AS keeper FROM t1 GROUP BY 1),
       |exact_drop AS (SELECT t1.doc_id, 'exact' AS reason, ek.keeper
       |  FROM t1 JOIN ek USING (esig) WHERE t1.doc_id <> ek.keeper),
       |s1 AS (SELECT doc_id, text FROM t1
       |  WHERE doc_id NOT IN (SELECT doc_id FROM exact_drop)),
       |b1 AS (SELECT doc_id, $bowSig AS bsig FROM s1),
       |bk AS (SELECT bsig, min(doc_id) AS keeper FROM b1 GROUP BY 1),
       |bow_drop AS (SELECT b1.doc_id, 'bow' AS reason, bk.keeper
       |  FROM b1 JOIN bk USING (bsig) WHERE b1.doc_id <> bk.keeper),
       |s2 AS (SELECT doc_id, text FROM s1
       |  WHERE doc_id NOT IN (SELECT doc_id FROM bow_drop)),
       |$mhOverS2,
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM mp
       |  UNION SELECT doc_b, doc_a FROM mp),
       |reach(id, comp) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r2.comp FROM edges e JOIN reach r2 ON e.dst = r2.id),
       |comps AS (SELECT id AS doc_id, min(comp) AS comp FROM reach GROUP BY 1),
       |ck AS (SELECT comp, min(doc_id) AS keeper FROM comps GROUP BY 1),
       |near_drop AS (SELECT c.doc_id, 'neardup' AS reason, ck.keeper
       |  FROM comps c JOIN ck USING (comp) WHERE c.doc_id <> ck.keeper)
       |SELECT doc_id, reason, keeper FROM exact_drop
       |UNION ALL SELECT doc_id, reason, keeper FROM bow_drop
       |UNION ALL SELECT doc_id, reason, keeper FROM near_drop
       |ORDER BY doc_id""".stripMargin
  })

  val components = gate("qd_components") { (s, dir) =>
    // transitive closure of the verified near-dup pairs: min-label
    // propagation collapses chains (A~B, B~C ⇒ one group) the pairwise
    // output alone can't express — the real keeper-selection input
    val pairs = Dedup.minhashNearDups(t(s, dir, "documents"), "doc_id", col("text"))
    try {
      Dedup.connectedComponents(pairs)
        .select(col("id").as("doc_id"), col("comp"))
        .orderBy("doc_id")
    } finally pairs.unpersist() // the labels read the rounds' shuffle files
  }(
    // transitive closure over the SAME verified pair set: every vertex
    // gathers all labels reachable through the (undirected) edges via
    // the recursive CTE, min per vertex = component label
    minhashPairsCtes.replaceFirst("WITH ", "WITH RECURSIVE ") +
    s""",
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM mp
       |  UNION SELECT doc_b, doc_a FROM mp),
       |reach(id, comp) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r2.comp FROM edges e JOIN reach r2 ON e.dst = r2.id)
       |SELECT id AS doc_id, min(comp) AS comp FROM reach
       |GROUP BY 1 ORDER BY 1""".stripMargin)

  val groupsComposed = gate("qd_groups_composed") { (s, dir) =>
    // the composed pairs+groups API end-to-end: ONE Dedup.nearDupGroups
    // call feeds both outputs from a single persisted pair computation
    // (qd_minhash_pairs and qd_components each rebuild the minhash
    // pipeline; this gates the composition itself). n_pairs rides on
    // every group row so one result checks both halves.
    val r = Dedup.nearDupGroups(t(s, dir, "documents"), "doc_id", col("text"))
    try {
      val nPairs = r.pairs.count() // cached count on the persisted pairs
      r.groups.select(col("id").as("doc_id"), col("comp"))
        .withColumn("n_pairs", lit(nPairs))
        .orderBy("doc_id")
    } finally r.pairs.unpersist() // groups read the rounds' shuffle files
  }(
    // same reachability closure as qd_components plus the verified pair
    // count — one oracle result gating both halves of the composed API
    minhashPairsCtes.replaceFirst("WITH ", "WITH RECURSIVE ") +
    s""",
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM mp
       |  UNION SELECT doc_b, doc_a FROM mp),
       |reach(id, comp) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r2.comp FROM edges e JOIN reach r2 ON e.dst = r2.id)
       |SELECT id AS doc_id, min(comp) AS comp,
       |  (SELECT count(*) FROM mp) AS n_pairs
       |FROM reach GROUP BY 1 ORDER BY 1""".stripMargin)

  val compSizes = gate("qd_comp_sizes") { (s, dir) =>
    // dedup audit: the near-dup component SIZE distribution — how big
    // the duplicate clusters are (a heavy tail = template spam). Sizes
    // come from the same banded pairs + pointer-jump closure; the
    // histogram is two aggregations over the pair-bounded label
    // relation, nothing corpus-sized past the minhash spine.
    val pairs = Dedup.minhashNearDups(
      t(s, dir, "documents"), "doc_id", col("text"))
    try {
      Dedup.connectedComponents(pairs)
        .groupBy("comp").agg(count(lit(1)).as("sz"))
        .groupBy("sz").agg(count(lit(1)).as("n_components"))
        .orderBy("sz")
    } finally pairs.unpersist()
  }(
    // same reachability closure as qd_components, folded twice: size
    // per component, then components per size
    minhashPairsCtes.replaceFirst("WITH ", "WITH RECURSIVE ") +
    s""",
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM mp
       |  UNION SELECT doc_b, doc_a FROM mp),
       |reach(id, comp) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r2.comp FROM edges e JOIN reach r2 ON e.dst = r2.id),
       |comps AS (SELECT id, min(comp) AS comp FROM reach GROUP BY 1),
       |sz AS (SELECT comp, count(*) AS sz FROM comps GROUP BY 1)
       |SELECT sz, count(*) AS n_components FROM sz
       |GROUP BY 1 ORDER BY 1""".stripMargin)

  val softWeights = gate("qd_soft_weights") { (s, dir) =>
    // soft dedup (downweight, don't delete): every doc keeps weight
    // 1/|near-dup component| so template spam counts once in
    // expectation while singletons keep weight 1 — the sampler-facing
    // alternative to qd_keep_best's drop policy, over the same
    // verified pair graph and pointer-jump closure
    val d = t(s, dir, "documents")
    val pairs = Dedup.minhashNearDups(d, "doc_id", col("text"))
    try Dedup.softWeights(d, "doc_id", pairs).orderBy("doc_id")
    finally pairs.unpersist()
  }(
    // same reachability closure as qd_components; sizes folded over
    // the label relation, every document left-joined (singleton →
    // own id / size 1), weight = exact-integer quotient
    minhashPairsCtes.replaceFirst("WITH ", "WITH RECURSIVE ") +
    s""",
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM mp
       |  UNION SELECT doc_b, doc_a FROM mp),
       |reach(id, comp) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r2.comp FROM edges e JOIN reach r2 ON e.dst = r2.id),
       |comps AS (SELECT id, min(comp) AS comp FROM reach GROUP BY 1),
       |lab AS (SELECT c.id, c.comp, s.sz FROM comps c
       |  JOIN (SELECT comp, count(*) AS sz FROM comps GROUP BY 1) s USING (comp))
       |SELECT d.doc_id, coalesce(l.comp, d.doc_id) AS comp,
       |  coalesce(l.sz, 1) AS sz,
       |  CAST(1 AS DOUBLE)/coalesce(l.sz, 1) AS weight
       |FROM documents d LEFT JOIN lab l ON d.doc_id = l.id
       |ORDER BY d.doc_id""".stripMargin)

  val simhash = gate("qd_simhash") { (s, dir) =>
    Dedup.simhash(docsFanned(s, dir), "doc_id", col("text")).orderBy("doc_id")
  }(
    s"""WITH tok AS (SELECT doc_id, unnest($toks) AS w FROM documents),
       |th AS (SELECT doc_id, ${h("w")} AS h FROM tok),
       |s AS (SELECT doc_id, $simSums FROM th GROUP BY 1)
       |SELECT doc_id, CAST($simAssemble AS BIGINT) AS simhash FROM s ORDER BY doc_id""".stripMargin)

  val simhashPairs = gate("qd_simhash_pairs") { (s, dir) =>
    // hamming-banded near-dup pairing over the simhash signatures
    Dedup.simhashNearDups(docsFanned(s, dir), "doc_id", col("text"))
      .orderBy("doc_a", "doc_b")
  }(
    s"""WITH tok AS (SELECT doc_id, unnest($toks) AS w FROM documents),
       |th AS (SELECT doc_id, ${h("w")} AS h FROM tok),
       |s AS (SELECT doc_id, $simSums FROM th GROUP BY 1),
       |sig AS (SELECT doc_id, CAST($simAssemble AS BIGINT) AS simhash FROM s),
       |bnd AS (SELECT doc_id, simhash, unnest(range(4)) AS band FROM sig),
       |k AS (SELECT doc_id, simhash, band, (simhash >> (band*12)) & 4095 AS bkey FROM bnd),
       |r AS (SELECT doc_id, simhash, band, bkey,
       |    row_number() OVER (PARTITION BY band, bkey ORDER BY doc_id) AS rn,
       |    first_value(doc_id) OVER (PARTITION BY band, bkey ORDER BY doc_id) AS mn,
       |    first_value(simhash) OVER (PARTITION BY band, bkey ORDER BY doc_id) AS mnsim
       |  FROM k),
       |kc AS (SELECT doc_id, simhash, band, bkey FROM r WHERE rn <= ${Dedup.BandBucketCap}),
       |p AS (SELECT DISTINCT doc_a, doc_b, ha, hb FROM (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.simhash AS ha, b.simhash AS hb
       |  FROM kc a JOIN kc b ON a.band = b.band AND a.bkey = b.bkey
       |    AND a.doc_id < b.doc_id
       |  UNION ALL
       |  SELECT mn, doc_id, mnsim, simhash FROM r WHERE rn > ${Dedup.BandBucketCap}) u)
       |SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
       |FROM p WHERE bit_count(xor(ha, hb)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin)

  val cosineNn = gate("qd_cosine_nn") { (s, dir) =>
    Similarity.nearestNeighborPerVector(t(s, dir, "embeddings"))
  }(
    quantCte +
    s""",
       |bkt AS (SELECT vec_id, label, $nnBucketExpr AS bucket FROM n),
       |bp AS (SELECT a.vec_id AS va, b.vec_id AS vb FROM bkt a JOIN bkt b
       |  ON a.label = b.label AND a.bucket = b.bucket AND a.vec_id <> b.vec_id),
       |rng AS (SELECT vec_id,
       |    lag(vec_id) OVER (PARTITION BY label ORDER BY vec_id) AS pv,
       |    lead(vec_id) OVER (PARTITION BY label ORDER BY vec_id) AS nv FROM n),
       |cand AS (SELECT va, vb FROM bp
       |  UNION SELECT vec_id, pv FROM rng WHERE pv IS NOT NULL
       |  UNION SELECT vec_id, nv FROM rng WHERE nv IS NOT NULL),
       |p AS (SELECT va, vb, $dotAB / (sqrt(a.nrm)*sqrt(b.nrm)) AS cos
       |  FROM cand JOIN n a ON va = a.vec_id JOIN n b ON vb = b.vec_id),
       |r AS (SELECT va, vb, cos,
       |    row_number() OVER (PARTITION BY va ORDER BY cos DESC, vb) AS rn FROM p)
       |SELECT va AS vec_id, vb AS nn_id, cos AS nn_cos FROM r WHERE rn = 1""".stripMargin)

  val embedDups = gate("qd_embed_dups") { (s, dir) =>
    // embedding-cosine near-dup pairs over the bucketed candidate set
    // (the synthetic embeddings are near-orthogonal — max NN cosine
    // ≈0.41 — so the threshold sits where the gate exercises real rows)
    Similarity.embeddingNearDups(t(s, dir, "embeddings"), threshold = 0.3)
      .orderBy("va", "vb")
  }(
    quantCte +
    s""",
       |bkt AS (SELECT vec_id, label, $nnBucketExpr AS bucket FROM n),
       |bp AS (SELECT a.vec_id AS va, b.vec_id AS vb FROM bkt a JOIN bkt b
       |  ON a.label = b.label AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
       |rng AS (SELECT lag(vec_id) OVER (PARTITION BY label ORDER BY vec_id) AS va,
       |    vec_id AS vb FROM n),
       |cand AS (SELECT va, vb FROM bp
       |  UNION SELECT va, vb FROM rng WHERE va IS NOT NULL),
       |p AS (SELECT va, vb, $dotAB / (sqrt(a.nrm)*sqrt(b.nrm)) AS cos
       |  FROM cand JOIN n a ON va = a.vec_id JOIN n b ON vb = b.vec_id)
       |SELECT va, vb, cos FROM p WHERE cos >= 0.3 ORDER BY va, vb""".stripMargin)

  val semantic = gate("qd_semantic") { (s, dir) =>
    // SemDeDup: k-means-clustered embedding dedup — survivors after
    // dropping any vector with a lower-id ≥0.3-cosine neighbor in its
    // trained cluster (threshold per qd_embed_dups: the synthetic
    // corpus's max NN cosine ≈0.41)
    Similarity.semanticDedup(t(s, dir, "embeddings"), threshold = 0.3)
      .orderBy("vec_id")
  }(
    quantCte +
    s""",
       |c0 AS (SELECT vec_id AS cent_id, qe AS cv FROM q WHERE vec_id < 8),
       |${kmRound(1, "c0")},
       |${kmRound(2, "c1")},
       |${kmAssign("af", "c2")},
       |dups AS (SELECT DISTINCT b.vec_id AS vec_id
       |  FROM af a JOIN af b ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
       |  JOIN n na ON a.vec_id = na.vec_id JOIN n nb ON b.vec_id = nb.vec_id
       |  WHERE (list_reduce(list_transform(list_zip(a.qe, b.qe), t -> t[1]*t[2]), (x,y) -> x+y)
       |    / (sqrt(na.nrm) * sqrt(nb.nrm))) >= 0.3)
       |SELECT a.vec_id, a.cent_id FROM af a
       |WHERE a.vec_id NOT IN (SELECT vec_id FROM dups)
       |ORDER BY a.vec_id""".stripMargin)

  val dupNgrams = gate("qd_dup_ngrams") { (s, dir) =>
    // duplicated n-gram fraction (the MassiveText/Gopher exact-substring
    // dedup signal): per doc, how many of its DISTINCT 5-gram shingles
    // occur in at least one OTHER document. One df aggregation keyed by
    // shingle hash, one equi-join back on the same key (partitioning
    // reused), one per-doc aggregation — no pairwise expansion, exact
    // integer counts at any corpus size.
    val sh = Dedup.shingleHashes(t(s, dir, "documents"), "doc_id",
      col("text"), n = 5)
    val dfr = sh.groupBy("sh").agg(countDistinct(col("doc_id")).as("df"))
    sh.join(dfr, "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") > 1, 1L).otherwise(0L)).as("n_dup"))
      .orderBy("doc_id")
  }(
    s"""WITH tk AS (SELECT doc_id, $toks AS w FROM documents),
       |sh AS (SELECT DISTINCT doc_id, ${h("s")} AS sh FROM (
       |  SELECT doc_id, unnest(list_transform(range(len(w)-4),
       |    i -> w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]||' '||w[i+5])) AS s
       |  FROM tk WHERE len(w) >= 5) x),
       |df AS (SELECT sh, count(DISTINCT doc_id) AS df FROM sh GROUP BY 1)
       |SELECT doc_id, count(*) AS n_shingles,
       |  CAST(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
       |FROM sh JOIN df USING (sh)
       |GROUP BY 1 ORDER BY 1""".stripMargin)

  val crossSource = gate("qd_cross_source") { (s, dir) =>
    // contamination check: identical bag-of-words across distinct sources
    t(s, dir, "documents")
      .groupBy(Dedup.bowSignature(col("text")).as("sig"))
      .agg(countDistinct(col("source")).as("n_sources"),
        count(lit(1)).as("n_docs"))
      .filter(col("n_sources") > 1)
      .orderBy("sig")
  }(
    """SELECT md5(list_aggregate(list_sort(list_distinct(string_split_regex(trim(text),'\s+'))),'string_agg','|')) AS sig,
      |  count(DISTINCT source) AS n_sources, count(*) AS n_docs
      |FROM documents GROUP BY 1 HAVING count(DISTINCT source) > 1 ORDER BY 1""".stripMargin)

  val streamNeardup = gate("qd_stream_neardup") { (s, dir) =>
    // STREAMING near-dedup (greedy banded minhash + persisted claim
    // store, Dedup.streamingNearDup) under a DuckDB greedy oracle: a
    // doc survives iff it is the min-id claimant of every one of its
    // LSH band buckets. Single AvailableNow pass (per-bucket min is
    // order-invariant within a batch; the multi-batch/restart behavior
    // is spec'd in StreamingNearDupSpec)
    val tmp = scratchDir("graft_qsn")
    val src = stagedInput("qsn", dir) { p =>
      t(s, dir, "documents").select("doc_id", "text")
        .write.mode("overwrite").parquet(p)
    }
    val stream = s.readStream.schema(
      new org.apache.spark.sql.types.StructType()
        .add("doc_id", "long").add("text", "string")).parquet(src)
    val q = Dedup.streamingNearDup(stream, "doc_id", col("text"),
      s"$tmp/claims", s"$tmp/out", s"$tmp/ckpt")
    q.awaitTermination()
    s.read.parquet(s"$tmp/out").select("doc_id").orderBy("doc_id")
  }(
    // greedy banded near-dedup (the streaming gate's semantics): doc
    // survives iff it is min-id in EVERY of its band buckets; docs too
    // short to shingle have no buckets and survive trivially
    shinglesCte +
    s""",
       |sig AS (SELECT doc_id, $minhashSig FROM sh GROUP BY 1),
       |bands AS ($bandRows),
       |b2 AS (SELECT doc_id,
       |    min(doc_id) OVER (PARTITION BY band, bkey) AS mn FROM bands)
       |SELECT doc_id FROM documents
       |WHERE doc_id NOT IN (SELECT doc_id FROM b2 WHERE mn < doc_id)
       |ORDER BY doc_id""".stripMargin)

  val streamSegdedup = gate("qd_stream_segdedup") { (s, dir) =>
    // STREAMING segment dedup (Dedup.streamingSegmentDedup): the
    // boilerplate rewrite as an ingest stage with a persisted
    // segment-claim store. A single AvailableNow pass reproduces the
    // batch rewrite exactly (shares qd_segment_dedup's oracle);
    // multi-batch order, replay idempotence, and store claims are
    // spec'd in StreamingSegmentDedupSpec
    val tmp = scratchDir("graft_qssd")
    val src = stagedInput("qsn", dir) { p =>
      t(s, dir, "documents").select("doc_id", "text")
        .write.mode("overwrite").parquet(p)
    }
    val stream = s.readStream.schema(
      new org.apache.spark.sql.types.StructType()
        .add("doc_id", "long").add("text", "string")).parquet(src)
    val q = Dedup.streamingSegmentDedup(stream, "doc_id", "text",
      s"$tmp/claims", s"$tmp/out", s"$tmp/ckpt")
    q.awaitTermination()
    s.read.parquet(s"$tmp/out")
      .select("doc_id", "clean_text", "n_kept", "n_total")
      .orderBy("doc_id")
  }(
    // the streaming twin must keep exactly what the batch segment dedup keeps
    segmentDedup.oracle)

  val lineDedup = gate("qd_line_dedup") { (s, dir) =>
    // C4-style LINE-boundary dedup (Dedup.lineDedup): keep the first
    // corpus-wide occurrence of every distinct trimmed line, rebuild
    // docs from their surviving lines. The synthetic corpus is
    // single-line, so the gate first derives a line-structured view —
    // a newline after every token whose md5Long % 5 == 0 (content-
    // dependent variable-length lines, replayed verbatim by the
    // oracle) — then dedups at the natural boundaries.
    val toksC = TextAnalysis.tokens(col("text"))
    val stagedText = concat_ws("", transform(toksC, x =>
      concat(x, when(pmod(TextAnalysis.md5Long(x), lit(5L)) === 0,
        lit("\n")).otherwise(lit(" ")))))
    val staged = docsFanned(s, dir)
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), stagedText.as("text"))
    Dedup.lineDedup(staged, "doc_id", "text").orderBy("doc_id")
  }(
    // line-boundary dedup: stage content-dependent lines (newline
    // after every token with md5Long % 5 == 0), then keep-first per
    // distinct trimmed line and rebuild with newline joins; n_total
    // counts non-blank lines only
    s"""WITH tk AS (SELECT doc_id, $toks AS w FROM documents
       |  WHERE length(trim(text)) > 0),
       |st AS (SELECT doc_id, list_aggregate(list_transform(w, x -> x ||
       |    CASE WHEN (${h("x")}) % 5 = 0 THEN chr(10) ELSE ' ' END),
       |  'string_agg', '') AS s FROM tk),
       |sp AS (SELECT doc_id, string_split(s, chr(10)) AS l FROM st),
       |lr AS (SELECT doc_id, unnest(range(len(l))) AS seg_id, l FROM sp),
       |ln AS (SELECT doc_id, CAST(seg_id AS BIGINT) AS seg_id,
       |    regexp_replace(l[seg_id+1], '^\\s+|\\s+$$', '', 'g') AS seg
       |  FROM lr),
       |nz AS (SELECT doc_id, seg_id, seg, ${h("seg")} AS gh FROM ln
       |  WHERE length(seg) > 0),
       |kp AS (SELECT doc_id, seg_id, seg FROM (
       |  SELECT doc_id, seg_id, seg,
       |      row_number() OVER (PARTITION BY gh ORDER BY doc_id, seg_id)
       |        AS rn
       |    FROM nz) WHERE rn = 1),
       |rec AS (SELECT doc_id, count(*) AS n_kept,
       |    string_agg(seg, chr(10) ORDER BY seg_id) AS clean_text
       |  FROM kp GROUP BY doc_id),
       |tot AS (SELECT doc_id, count(*) AS n_total FROM nz GROUP BY doc_id)
       |SELECT tot.doc_id, coalesce(clean_text, '') AS clean_text,
       |  CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
       |  CAST(n_total AS BIGINT) AS n_total
       |FROM tot LEFT JOIN rec USING (doc_id) ORDER BY doc_id""".stripMargin)

  val cdcDedup = gate("qd_cdc_dedup") { (s, dir) =>
    // content-defined-chunking dedup (Dedup.cdcSegmentDedup): segment
    // boundaries fall after tokens whose hash % 8 == 0, so a
    // duplicated passage keeps its segmentation wherever it sits in a
    // document — the shift-robust complement of qd_segment_dedup's
    // fixed windows (head-to-head case in CdcDedupSpec). Keep-first
    // corpus-wide, rebuild in document order
    Dedup.cdcSegmentDedup(docsFanned(s, dir), "doc_id", "text")
      .orderBy("doc_id")
  }(
    // CDC dedup: qd_line_dedup's replay with chr(1) boundaries after
    // hash%8==0 tokens and a space-joined rebuild
    s"""WITH tk AS (SELECT doc_id, $toks AS w FROM documents
       |  WHERE length(trim(text)) > 0),
       |st AS (SELECT doc_id, list_aggregate(list_transform(w, x -> x ||
       |    CASE WHEN (${h("x")}) % 8 = 0 THEN chr(1) ELSE ' ' END),
       |  'string_agg', '') AS s FROM tk),
       |sp AS (SELECT doc_id, string_split(s, chr(1)) AS l FROM st),
       |lr AS (SELECT doc_id, unnest(range(len(l))) AS seg_id, l FROM sp),
       |ln AS (SELECT doc_id, CAST(seg_id AS BIGINT) AS seg_id,
       |    regexp_replace(l[seg_id+1], '^\\s+|\\s+$$', '', 'g') AS seg
       |  FROM lr),
       |nz AS (SELECT doc_id, seg_id, seg, ${h("seg")} AS gh FROM ln
       |  WHERE length(seg) > 0),
       |kp AS (SELECT doc_id, seg_id, seg FROM (
       |  SELECT doc_id, seg_id, seg,
       |      row_number() OVER (PARTITION BY gh ORDER BY doc_id, seg_id)
       |        AS rn
       |    FROM nz) WHERE rn = 1),
       |rec AS (SELECT doc_id, count(*) AS n_kept,
       |    string_agg(seg, ' ' ORDER BY seg_id) AS clean_text
       |  FROM kp GROUP BY doc_id),
       |tot AS (SELECT doc_id, count(*) AS n_total FROM nz GROUP BY doc_id)
       |SELECT tot.doc_id, coalesce(clean_text, '') AS clean_text,
       |  CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
       |  CAST(n_total AS BIGINT) AS n_total
       |FROM tot LEFT JOIN rec USING (doc_id) ORDER BY doc_id""".stripMargin)

  val incremental = gate("qd_incremental") { (s, dir) =>
    // BATCH incremental dedup against a persisted claim store — the
    // recurring-crawl shape: the prior corpus (doc_id % 3 != 0) signs
    // the store ONCE (Dedup.buildClaimStore); the new snapshot
    // (doc_id % 3 == 0) dedups against it (Dedup.dedupAgainstStore)
    // with greedy banded-minhash semantics, never re-signing a prior
    // doc. The oracle replays store+snapshot as ONE corpus: a snapshot
    // doc survives iff no bucket of its is claimed by any prior doc
    // and it is the min-id snapshot claimant of every one of its
    // buckets. Chaining/store-interop is spec'd in
    // DedupAgainstStoreSpec
    val tmp = scratchDir("graft_qinc")
    val docs = docsFanned(s, dir).select("doc_id", "text")
    Dedup.buildClaimStore(docs.filter(col("doc_id") % 3 =!= 0),
      "doc_id", col("text"), s"$tmp/claims")
    Dedup.dedupAgainstStore(docs.filter(col("doc_id") % 3 === 0),
        "doc_id", col("text"), s"$tmp/claims")
      .select("doc_id").orderBy("doc_id")
  }(
    // batch dedup-against-store: replay store+snapshot as one corpus —
    // a snapshot doc (doc_id % 3 = 0) survives iff no prior doc
    // (doc_id % 3 <> 0) claims any of its buckets AND it is the min-id
    // snapshot claimant of each of its buckets; short docs have no
    // buckets and survive trivially
    shinglesCte +
    s""",
       |sig AS (SELECT doc_id, $minhashSig FROM sh GROUP BY 1),
       |bands AS ($bandRows),
       |prior_b AS (SELECT DISTINCT band, bkey FROM bands
       |  WHERE doc_id % 3 <> 0),
       |snap AS (SELECT doc_id, band, bkey FROM bands WHERE doc_id % 3 = 0),
       |blocked AS (
       |  SELECT DISTINCT s.doc_id FROM snap s
       |    JOIN prior_b p ON s.band = p.band AND s.bkey = p.bkey
       |  UNION
       |  SELECT s.doc_id FROM snap s JOIN (
       |      SELECT band, bkey, min(doc_id) AS mn FROM snap GROUP BY 1, 2) m
       |    ON s.band = m.band AND s.bkey = m.bkey AND s.doc_id > m.mn)
       |SELECT doc_id FROM documents WHERE doc_id % 3 = 0
       |  AND doc_id NOT IN (SELECT doc_id FROM blocked)
       |ORDER BY doc_id""".stripMargin)

  val streamDecontam = gate("qd_stream_decontam") { (s, dir) =>
    // STREAMING fuzzy decontamination (Dedup.streamingDecontaminate):
    // train docs arrive as micro-batches; eval signatures are prepared
    // ONCE from the static table and reused every batch. Stateless per
    // batch (a doc's contamination depends only on the eval set), so
    // the unioned per-batch reports equal the batch operator — shares
    // qp_decontaminate_fuzzy's oracle. Multi-batch + replay behavior is
    // spec'd in StreamingDecontaminateSpec
    val tmp = scratchDir("graft_qsdc")
    val evalPred = TextAnalysis.md5Long(col("text")) % 20 === 1
    val src = stagedInput("qsn", dir) { p =>
      t(s, dir, "documents").select("doc_id", "text")
        .write.mode("overwrite").parquet(p)
    }
    val eval = Dedup.prepareEvalSignatures(
      t(s, dir, "documents").filter(evalPred), "doc_id", col("text"))
    try {
      val stream = s.readStream.schema(
        new org.apache.spark.sql.types.StructType()
          .add("doc_id", "long").add("text", "string")).parquet(src)
        .filter(!evalPred)
      val q = Dedup.streamingDecontaminate(stream, "doc_id", col("text"),
        eval, s"$tmp/out", s"$tmp/ckpt")
      q.awaitTermination()
    } finally eval.unpersist()
    s.read.parquet(s"$tmp/out/contam")
      .select("doc_id", "n_eval_hits", "max_jaccard").orderBy("doc_id")
  }(
    // streaming fuzzy decontamination is stateless per batch, so its
    // unioned reports must equal the batch operator's
    QpGates.decontaminateFuzzy.oracle)

  val streamContainment = gate("qd_stream_containment") { (s, dir) =>
    // STREAMING containment decontamination
    // (Dedup.streamingContainment): the ingest-side form of
    // qp_containment — eval shingles prepared ONCE from the static
    // table, each train micro-batch checked by the same inverted-index
    // join. Stateless per batch, so the unioned reports equal the
    // batch operator — shares qp_containment's oracle. Multi-batch +
    // replay behavior is spec'd in StreamingContainmentSpec
    val tmp = scratchDir("graft_qsct")
    val evalPred = TextAnalysis.md5Long(col("text")) % 20 === 1
    val src = stagedInput("qsn", dir) { p =>
      t(s, dir, "documents").select("doc_id", "text")
        .write.mode("overwrite").parquet(p)
    }
    val eval = Dedup.prepareEvalShingles(
      t(s, dir, "documents").filter(evalPred), "doc_id", col("text"))
    try {
      val stream = s.readStream.schema(
        new org.apache.spark.sql.types.StructType()
          .add("doc_id", "long").add("text", "string")).parquet(src)
        .filter(!evalPred)
      val q = Dedup.streamingContainment(stream, "doc_id", col("text"),
        eval, s"$tmp/out", s"$tmp/ckpt")
      q.awaitTermination()
    } finally eval.unpersist()
    s.read.parquet(s"$tmp/out/contam")
      .select("doc_id", "n_eval_hits", "max_containment").orderBy("doc_id")
  }(
    // streaming containment is stateless per batch the same way
    QpGates.containment.oracle)

  val ngramJaccard = gate("qd_ngram_jaccard") { (s, dir) =>
    // character-trigram Jaccard near-dups within (lang, source) blocks;
    // guard: sequence(1, len-2) runs backwards for texts under 3 chars
    // round-robin BEFORE the explode so the (single-row-group) scan fans
    // out across all cores; the df-cap window's (lang, source, gh)
    // exchange is then the only gram-level shuffle, and the self-join
    // reuses it (ReusedExchange) — a keyed repartition here would add a
    // second full shuffle of the exploded grams for nothing
    val d = t(s, dir, "documents").filter(length(col("text")) >= 3)
      .repartition(s.sparkContext.defaultParallelism)
    val allGrams = d.select(col("doc_id"), col("lang"), col("source"),
        explode(array_distinct(transform(
          sequence(lit(1), length(col("text")) - 2),
          i => col("text").substr(i, lit(3))))).as("gram"))
      .select(col("doc_id"), col("lang"), col("source"),
        graft.ops.TextAnalysis.md5Long(col("gram")).as("gh"))
    // document-frequency cap (posting-list truncation): a gram shared by k
    // docs fans out k² join pairs, and stopword-ish grams ("the", "ing")
    // appear in nearly every doc — quadratic in block size at 100 TB.
    // Dropping grams with df > cap bounds the per-gram fan-out at cap²;
    // near-dups still share plenty of rare grams, and jaccard is computed
    // consistently over the rare-gram subspace (sizes come from the same
    // truncated set).
    val w = org.apache.spark.sql.expressions.Window.partitionBy("lang", "source", "gh")
    val grams = allGrams
      .withColumn("df", count(lit(1)).over(w))
      .filter(col("df") <= NgramDfCap)
      .drop("df")
    val sizes = grams.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // gram-level self-join within blocks: per-gram fan-out now bounded at
    // cap², and the join stays in codegen (a collect_list + combinations
    // rewrite measured slower — HOF pair generation is interpreted)
    val a = grams.select(col("doc_id").as("doc_a"), col("lang"), col("source"), col("gh"))
    val b = grams.select(col("doc_id").as("doc_b"), col("lang"), col("source"), col("gh"))
    a.join(b, Seq("lang", "source", "gh")).filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("common"))
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
      .withColumn("jaccard",
        col("common").cast("double") / (col("na") + col("nb") - col("common")))
      .filter(col("jaccard") >= 0.6)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }(
    s"""WITH g0 AS (
      |  SELECT DISTINCT doc_id, lang, source,
      |    CAST('0x'||substr(md5(unnest(list_transform(range(length(text)-2),
      |      i -> substr(text, i+1, 3)))),1,15) AS BIGINT) AS gh
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, lang, source, gh FROM (
      |    SELECT *, count(*) OVER (PARTITION BY lang, source, gh) AS df
      |    FROM g0) WHERE df <= $NgramDfCap),
      |sizes AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      |  FROM g a JOIN g b
      |    ON a.lang=b.lang AND a.source=b.source AND a.gh=b.gh AND a.doc_id<b.doc_id
      |  GROUP BY 1,2)
      |SELECT doc_a, doc_b,
      |  CAST(common AS DOUBLE)/(x.n+y.n-common) AS jaccard
      |FROM pairs JOIN sizes x ON doc_a=x.doc_id JOIN sizes y ON doc_b=y.doc_id
      |WHERE CAST(common AS DOUBLE)/(x.n+y.n-common) >= 0.6
      |ORDER BY doc_a, doc_b""".stripMargin)
}
