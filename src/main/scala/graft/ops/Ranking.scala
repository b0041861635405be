package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BM25 ranked retrieval over a document corpus — the "find the training
  * examples most relevant to this probe query" primitive a data-curation
  * pipeline uses for targeted sampling and contamination triage.
  *
  * Shape, designed for a 100 TB corpus:
  *   1. ONE projection computes the per-document length and a per-query-term
  *      term frequency via higher-order array functions (`filter`/`size`) —
  *      no explode, no shuffle, stays inside whole-stage codegen. The query
  *      is a small literal term set, so tf is a fixed-width column vector,
  *      not a token relation.
  *   2. ONE single-row global aggregate (N, total length, per-term document
  *      frequency) — the only full shuffle, reduced map-side to one row per
  *      partition — broadcast back with a 1-row cross join.
  *   3. A scoring projection plus `TakeOrderedAndProject` top-k: no global
  *      sort materialization, each partition keeps k candidates.
  *
  * Oracle portability: per-term BM25 contributions are quantized to integer
  * micro-units (`CAST(round(1e6·x) AS BIGINT)`) BEFORE summing, the repo's
  * fixed-point convention, so aggregation order cannot perturb the result
  * and DuckDB reproduces it hash-exactly. All arithmetic is IEEE ops on
  * identically-derived operands evaluated in the same literal term order;
  * the one transcendental (`ln` in idf) matches across engines at this
  * quantization.
  *
  * Tokenization matches the corpus gates: lowercase letter runs
  * (`[^a-z]+` split, empties dropped) — identical under Java regex and RE2.
  */
object Ranking {

  /** Okapi defaults. */
  val K1 = 1.2
  val B = 0.75

  /** Lowercase letter-run tokens of `text` (empties filtered). */
  def letterTokens(text: Column): Column =
    filter(split(lower(text), "[^a-z]+"), t => t =!= "")

  /** Per-document BM25 score against literal `terms`, in integer
    * micro-units (sum over terms of `round(1e6·idf_t·sat_t)`), plus the
    * inputs a caller may want to re-weight (`dl`, per-term tf).
    *
    * idf_t = ln((N − df_t + 0.5)/(df_t + 0.5) + 1)   (BM25+-style floor ≥ 0)
    * sat_t = tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    */
  def bm25Scores(docs: DataFrame, terms: Seq[String], idCol: String = "doc_id",
      textCol: String = "text", k1: Double = K1, b: Double = B): DataFrame = {
    require(terms.nonEmpty && terms == terms.distinct,
      s"terms must be non-empty and distinct: $terms")
    def tfCol(t: String) = s"tf_$t"
    val toks = letterTokens(col(textCol))
    val base = docs.select(
      col(idCol) +: size(toks).cast("long").as("dl") +:
        terms.map(q => size(filter(toks, x => x === q)).cast("long").as(tfCol(q))): _*)
    // single-row corpus stats: N, avgdl numerator, df per term
    val statCols = count(lit(1)).as("n_docs") +: sum(col("dl")).as("sum_dl") +:
      terms.map(q => sum(when(col(tfCol(q)) > 0, 1L).otherwise(0L)).as(s"df_$q"))
    val stats = base.agg(statCols.head, statCols.tail: _*)
    val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
    val perTerm = terms.map { q =>
      val tf = col(tfCol(q)).cast("double")
      val df = col(s"df_$q").cast("double")
      val idf = log((col("n_docs").cast("double") - df + 0.5) / (df + 0.5) + 1.0)
      val sat = tf * (k1 + 1.0) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / avgdl))
      round(idf * sat * 1e6).cast("long")
    }
    base.crossJoin(broadcast(stats))
      .select(
        col(idCol) +: col("dl") +: terms.map(q => col(tfCol(q))) :+
          perTerm.reduce(_ + _).as("bm25_micro"): _*)
  }

  /** Top-`k` documents by BM25 against `terms`; ties broken by id so the
    * result is deterministic (and oracle-hashable).
    */
  def bm25TopK(docs: DataFrame, terms: Seq[String], k: Int,
      idCol: String = "doc_id", textCol: String = "text",
      k1: Double = K1, b: Double = B): DataFrame =
    bm25Scores(docs, terms, idCol, textCol, k1, b)
      .orderBy(col("bm25_micro").desc, col(idCol))
      .limit(k)

  /** Hybrid retrieval by reciprocal-rank fusion — the modern
    * lexical+vector shape: the BM25 top-`n` list and the embedding-cosine
    * top-`n` list fuse by `Σ round(10^6 / (kRrf + rank))`, so a doc
    * strong in either modality surfaces and a doc present in both
    * dominates. RRF is deliberately RANK-based: fusing raw scores would
    * need cross-modality calibration, while ranks are integers and the
    * per-rank reciprocal is one correctly-rounded division — the fused
    * score is exact-integer in every engine.
    *
    * Scale shape: both candidate lists are top-`n` TakeOrdered results
    * (each side's full-corpus scan is the respective operator's cost);
    * ranking and fusion happen on 2n rows — the single-partition window
    * is n-bounded by construction, never corpus-bounded. `docs` ids and
    * `emb.vec_id` must share the id space (the fixture contract);
    * `queryId` is excluded from both lists.
    *
    * Output: (idCol, text_rank, vec_rank, rrf_micro) — ranks null when
    * the doc is absent from that list, ordered by fused score desc, id.
    */
  def hybridRrfTopK(docs: DataFrame, emb: DataFrame, terms: Seq[String],
      queryId: Long, k: Int, n: Int = 50, kRrf: Int = 60,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the fused union holds up to 2n docs (each list can contribute n
    // disjoint members)
    require(k <= 2 * n, s"k=$k exceeds the fused candidate bound 2n=${2 * n}")
    val tList = bm25TopK(docs.filter(col(idCol) =!= queryId), terms, n,
        idCol, textCol)
      .withColumn("text_rank", row_number().over(
        Window.orderBy(col("bm25_micro").desc, col(idCol))))
      .select(col(idCol), col("text_rank"))
    val vList = graft.ops.Similarity.bruteForceTopK(emb, queryId, n)
      .withColumn("vec_rank", row_number().over(
        Window.orderBy(col("score").desc, col("vec_id"))))
      .select(col("vec_id").as(idCol), col("vec_rank"))
    def rrf(rank: Column) = round(lit(1e6) / (lit(kRrf) + rank.cast("double")))
      .cast("long")
    tList.join(vList, Seq(idCol), "full_outer")
      .select(col(idCol),
        col("text_rank").cast("long").as("text_rank"),
        col("vec_rank").cast("long").as("vec_rank"),
        (coalesce(rrf(col("text_rank")), lit(0L)) +
          coalesce(rrf(col("vec_rank")), lit(0L))).as("rrf_micro"))
      .orderBy(col("rrf_micro").desc, col(idCol))
      .limit(k)
  }

  /** Integer-exact PageRank — crawl-scheduling authority over the domain
    * link graph (the Common Crawl frontier-prioritization shape). All
    * arithmetic stays in longs: every node starts at `scale`, each round
    * is `r' = base + floor(dampNum · Σ floor(r_j / deg_j) / dampDen)`
    * with `base = scale/dampDen · (dampDen − dampNum)`. Integer sums are
    * order-independent, so the result is bit-identical across engines
    * and partitionings — which is what lets a SQL oracle replay the
    * unrolled rounds exactly. The two floor-divisions run as INTEGRAL
    * `div` (never through doubles), so exactness holds to the full
    * 64-bit range — floor(a/b) = a div b for the non-negative operands
    * here; a setup-time guard rejects `dampNum·n·scale ≥ 2^63`, the
    * worst-case round sum, so the multiply cannot wrap either.
    *
    * Scale shape: per round ONE equi-join of the rank relation onto the
    * (degree-annotated, persisted) edge list + one hash aggregation on
    * `dst` + one left join back to the node set — the standard
    * distributed PR round, no windows, no driver state beyond the loop
    * counter. Per-round `localCheckpoint` truncates lineage, so a lost
    * block fails the query instead of recomputing. Dangling mass is
    * dropped (nodes with no out-edges contribute nothing), the usual
    * simplification — documented, and replayed identically by the
    * oracle.
    *
    * Output: (`node`, `pr`), every node present.
    */
  def pageRankInt(edges: DataFrame, iters: Int, scale: Long = 1000000L,
      dampNum: Long = 85, dampDen: Long = 100): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(scale % dampDen == 0,
      s"scale=$scale must divide by dampDen=$dampDen for an exact base")
    val mem = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // e feeds THREE consumers (node union, eDeg's probe side, its degree
    // aggregation) — unpersisted, each would re-run the edge-dedup
    // shuffle over the raw input during setup
    val e = edges.select(col("src"), col("dst")).distinct().persist(mem)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().persist(mem)
    val eDeg = e.join(e.groupBy("src").agg(count(lit(1)).as("deg")), "src")
      .persist(mem)
    try {
      // Worst-case round sum puts every node's full rank on one dst:
      // dampNum·n·scale must stay below 2^63 or the damping multiply
      // wraps silently. nodes is persisted, so the count is one cheap
      // setup job; hub-heavy 100 TB graphs hit this loudly, not wrongly.
      val nNodes = nodes.count()
      require(nNodes <= Long.MaxValue / dampNum / scale,
        s"dampNum*n*scale overflows long: n=$nNodes scale=$scale " +
          s"dampNum=$dampNum; lower scale")
      val base = scale / dampDen * (dampDen - dampNum)
      var ranks = nodes.withColumn("pr", lit(scale)).localCheckpoint()
      for (_ <- 1 to iters) {
        val contrib = eDeg
          .join(ranks.withColumnRenamed("node", "src"), "src")
          // integral div: exact at any magnitude (floor == div for the
          // non-negative pr/deg), unlike floor(pr/deg) via doubles
          .select(col("dst").as("node"), expr("pr div deg").as("c"))
          .groupBy("node").agg(sum("c").as("s"))
        ranks = nodes.join(contrib, Seq("node"), "left")
          .select(col("node"),
            (lit(base) + expr(s"($dampNum * coalesce(s, 0L)) div $dampDen"))
              .as("pr"))
          .localCheckpoint()
      }
      ranks
    } finally { eDeg.unpersist(); nodes.unpersist(); e.unpersist() }
  }
}
