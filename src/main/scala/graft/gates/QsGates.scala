package graft.gates

import org.apache.spark.sql.functions._
import graft.ops.{Ranking, Similarity}
import graft.fixtures.Tables._
import graft.fixtures.Staging._
import graft.fixtures.SharedSql._

/** Similarity-search gates (`qs_*`): exact, LSH, IVF and PQ top-k,
  * batch retrieval, k-means and the stored, partition-pruned layouts.
  */
object QsGates extends GateFamily {

  // flat-PQ batch replay through the ranked CTE `r` (rn per query by
  // approx score) — shared by qs_batch_pq and qs_hard_negatives; the
  // hard-negative gate also reuses its qq for the exact tier
  private val pqBatchCtes = quantCte +
    s""",
       |rng AS (SELECT unnest(range(8)) AS s),
       |cents AS (SELECT c.vec_id // 31 AS cent_id, r.s,
       |  c.qe[r.s*8+1 : r.s*8+8] AS cv FROM n c, rng r
       |  WHERE c.vec_id % 31 = 0 AND c.vec_id < 496),
       |asub AS (SELECT a.vec_id, r.s, a.qe[r.s*8+1 : r.s*8+8] AS sv FROM n a, rng r),
       |dist AS (SELECT asub.vec_id, asub.s, cents.cent_id,
       |    list_reduce(list_transform(list_zip(asub.sv, cents.cv),
       |      t -> (t[1]-t[2])*(t[1]-t[2])), (x,y) -> x+y) AS d
       |  FROM asub JOIN cents ON asub.s = cents.s),
       |codes AS (SELECT vec_id, s, cent_id FROM (
       |  SELECT vec_id, s, cent_id,
       |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d, cent_id) AS rn
       |    FROM dist) WHERE rn = 1),
       |qq AS (SELECT vec_id AS query_id, qe, nrm FROM n WHERE vec_id < 8),
       |qsub AS (SELECT qq.query_id, r.s, qq.qe[r.s*8+1 : r.s*8+8] AS qs FROM qq, rng r),
       |adc AS (SELECT codes.vec_id, qsub.query_id, CAST(sum(
       |    list_reduce(list_transform(list_zip(qsub.qs, cents.cv), t -> t[1]*t[2]), (x,y) -> x+y)
       |  ) AS BIGINT) AS ad
       |  FROM codes
       |  JOIN cents ON codes.s = cents.s AND codes.cent_id = cents.cent_id
       |  JOIN qsub ON qsub.s = codes.s
       |  GROUP BY codes.vec_id, qsub.query_id),
       |scored AS (SELECT adc.query_id, a.vec_id,
       |    CASE WHEN a.nrm = 0 OR qq.nrm = 0 THEN 0.0
       |      ELSE adc.ad / (sqrt(a.nrm) * sqrt(qq.nrm)) END AS score
       |  FROM adc JOIN n a ON a.vec_id = adc.vec_id
       |  JOIN qq ON qq.query_id = adc.query_id
       |  WHERE a.vec_id <> adc.query_id),
       |r AS (SELECT query_id, vec_id, score,
       |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn
       |  FROM scored)""".stripMargin

  // IVFPQ corpus-side replay (coarse assign → residuals → stride-31
  // residual codebook → argmin codes), shared by qs_ivf_pq and
  // qs_batch_ivfpq — one definition so the single and batch gates
  // replay the identical encode
  private val ivfPqCorpusCtes = quantCte +
    s""",
       |cents AS (SELECT vec_id AS cent_id, qe AS cv, nrm AS cnrm FROM n WHERE vec_id < 16),
       |scored AS (SELECT n.vec_id, n.qe, n.nrm, cents.cent_id,
       |    list_reduce(list_transform(list_zip(n.qe, cents.cv), t -> t[1]*t[2]), (x,y) -> x+y)
       |      / (sqrt(n.nrm)*sqrt(cents.cnrm)) AS cc
       |  FROM n CROSS JOIN cents),
       |assigned AS (SELECT vec_id, qe, nrm, cent_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, cent_id) AS rn
       |  FROM scored) WHERE rn = 1),
       |resid AS (SELECT a.vec_id, a.nrm, a.cent_id,
       |    list_transform(list_zip(a.qe, c.cv), t -> t[1]-t[2]) AS res
       |  FROM assigned a JOIN cents c USING (cent_id)),
       |rng AS (SELECT unnest(range(8)) AS s),
       |pqc AS (SELECT r.vec_id // 31 AS c, g.s, r.res[g.s*8+1 : g.s*8+8] AS pv
       |  FROM resid r, rng g WHERE r.vec_id % 31 = 0 AND r.vec_id < 496),
       |rsub AS (SELECT r.vec_id, g.s, r.res[g.s*8+1 : g.s*8+8] AS sv FROM resid r, rng g),
       |dist AS (SELECT rsub.vec_id, rsub.s, pqc.c,
       |    list_reduce(list_transform(list_zip(rsub.sv, pqc.pv),
       |      t -> (t[1]-t[2])*(t[1]-t[2])), (x,y) -> x+y) AS d
       |  FROM rsub JOIN pqc ON rsub.s = pqc.s),
       |codes AS (SELECT vec_id, s, c FROM (
       |  SELECT vec_id, s, c,
       |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d, c) AS rn
       |    FROM dist) WHERE rn = 1)""".stripMargin

  // 16 projection rows for qs_rand_proj (same planeWeight family)
  private val projLits = (0 until 16).map { p =>
    "[" + (0 until 64).map(j => Similarity.planeWeight(p, j)).mkString(",") + "]"
  }

  private val projExpr = "[" + (0 until 16).map { i =>
    s"CAST(floor(list_reduce(list_transform(list_zip(qe, ${projLits(i)}), t -> t[1]*t[2]), (x,y) -> x+y) / 1048576.0) AS BIGINT)"
  }.mkString(", ") + "]"

  private val bucketExpr = (0 until Similarity.NumPlanes).map { p =>
    s"(CASE WHEN list_reduce(list_transform(list_zip(qe, ${planeLits(p)}), t -> t[1]*t[2]), (x,y) -> x+y) >= 0 THEN ${1L << p} ELSE 0 END)"
  }.mkString(" + ")

  val annTopk = gate("qs_ann_topk") { (s, dir) =>
    Similarity.bruteForceTopK(t(s, dir, "embeddings"), queryId = 0L, k = 10)
  }(
    quantCte +
    s""",
       |qq AS (SELECT qe, nrm FROM n WHERE vec_id = 0)
       |SELECT a.vec_id,
       |  list_reduce(list_transform(list_zip(a.qe, qq.qe), t -> t[1]*t[2]), (x,y) -> x+y)
       |    / (sqrt(a.nrm)*sqrt(qq.nrm)) AS score
       |FROM n a, qq WHERE a.vec_id <> 0
       |ORDER BY score DESC, a.vec_id LIMIT 10""".stripMargin)

  val hybridRrf = gate("qs_hybrid_rrf") { (s, dir) =>
    // hybrid lexical+vector retrieval by reciprocal-rank fusion: the
    // BM25 top-50 and cosine top-50 lists fuse by Σ round(1e6/(60+rank))
    // — rank-based (no cross-modality score calibration), exact-integer
    // fused score in both engines. Fusion runs on 2n rows; each side's
    // candidate scan is the respective operator's established cost.
    Ranking.hybridRrfTopK(t(s, dir, "documents"), t(s, dir, "embeddings"),
      Bm25Terms, queryId = 0L, k = 20)
  }(
    // hybrid fusion: the bm25 core CTEs (query doc excluded) + the
    // quantized-cosine CTEs, each ranked top-50, full-outer fused by
    // integer micro-reciprocals (no .5 rounding hazard: a half would
    // need a 2^7 factor in 60+rank, impossible at rank <= 50)
    {
    val cos = "list_reduce(list_transform(list_zip(a.qe, qq.qe), " +
      "t -> t[1]*t[2]), (x,y) -> x+y) / (sqrt(a.nrm)*sqrt(qq.nrm))"
    s"""WITH ${bm25CoreCtes("WHERE doc_id <> 0")},
       |sc AS (SELECT doc_id, $bm25ContribsSql AS bm25_micro FROM base, stats),
       |tl AS (SELECT doc_id,
       |    row_number() OVER (ORDER BY bm25_micro DESC, doc_id) AS text_rank
       |  FROM sc ORDER BY bm25_micro DESC, doc_id LIMIT 50),
       |${quantCteBody},
       |qq AS (SELECT qe, nrm FROM n WHERE vec_id = 0),
       |vsc AS (SELECT a.vec_id AS doc_id, $cos AS score
       |  FROM n a, qq WHERE a.vec_id <> 0),
       |vl AS (SELECT doc_id,
       |    row_number() OVER (ORDER BY score DESC, doc_id) AS vec_rank
       |  FROM vsc ORDER BY score DESC, doc_id LIMIT 50),
       |f AS (SELECT coalesce(tl.doc_id, vl.doc_id) AS doc_id,
       |    tl.text_rank, vl.vec_rank
       |  FROM tl FULL OUTER JOIN vl ON tl.doc_id = vl.doc_id)
       |SELECT doc_id, CAST(text_rank AS BIGINT) AS text_rank,
       |  CAST(vec_rank AS BIGINT) AS vec_rank,
       |  coalesce(CAST(round(1000000.0/(60 + text_rank)) AS BIGINT), 0)
       |    + coalesce(CAST(round(1000000.0/(60 + vec_rank)) AS BIGINT), 0)
       |    AS rrf_micro
       |FROM f ORDER BY rrf_micro DESC, doc_id LIMIT 20""".stripMargin
  })

  val randProj = gate("qs_rand_proj") { (s, dir) =>
    // JL random projection prefilter: rank 16 scaled-integer
    // components per vector (cheaper than int8 codes, far cheaper
    // than floats), exact cosine carried for the rerank
    Similarity.projectedTopK(t(s, dir, "embeddings"), queryId = 0L, k = 10)
  }(
    quantCte +
    s""",
       |pp AS (SELECT vec_id, qe, nrm, $projExpr AS pv FROM n),
       |pn AS (SELECT vec_id, qe, nrm, pv, ${listNorm("pv")} AS pn2 FROM pp),
       |qq AS (SELECT qe, nrm, pv, pn2 FROM pn WHERE vec_id = 0)
       |SELECT a.vec_id,
       |  CASE WHEN a.pn2 = 0 OR qq.pn2 = 0 THEN 0.0 ELSE
       |    list_reduce(list_transform(list_zip(a.pv, qq.pv), t -> t[1]*t[2]), (x,y) -> x+y)
       |      / (sqrt(a.pn2)*sqrt(qq.pn2)) END AS proj_score,
       |  CASE WHEN a.pn2 = 0 OR qq.pn2 = 0 THEN 0.0 ELSE
       |    list_reduce(list_transform(list_zip(a.qe, qq.qe), t -> t[1]*t[2]), (x,y) -> x+y)
       |      / (sqrt(a.nrm)*sqrt(qq.nrm)) END AS score
       |FROM pn a, qq WHERE a.vec_id <> 0
       |ORDER BY proj_score DESC, a.vec_id LIMIT 10""".stripMargin)

  val quantizedTopk = gate("qs_quantized_topk") { (s, dir) =>
    // int8 scalar-quantized brute scan (FAISS-SQ8 shape): ranked by
    // the code-space approximate cosine, exact cosine carried for
    // the shortlist rerank
    Similarity.quantizedTopK(t(s, dir, "embeddings"), queryId = 0L, k = 10)
  }(
    quantCte +
    s""",
       |cd AS (SELECT vec_id, qe, nrm,
       |  list_aggregate(list_transform(qe, x -> abs(x)), 'max') AS m FROM n),
       |c8 AS (SELECT vec_id, qe, nrm, m,
       |  list_transform(qe, x -> CASE WHEN m = 0 THEN 0
       |    ELSE CAST(sign(x) AS BIGINT) * ((abs(x)*254 + m) // (m*2)) END) AS code
       |  FROM cd),
       |qq AS (SELECT qe, nrm, m, code FROM c8 WHERE vec_id = 0)
       |SELECT a.vec_id,
       |  CASE WHEN a.m = 0 OR qq.m = 0 THEN 0.0 ELSE
       |    CAST(list_reduce(list_transform(list_zip(a.code, qq.code), t -> t[1]*t[2]), (x,y) -> x+y) AS DOUBLE)
       |      * a.m * qq.m / (16129.0 * sqrt(a.nrm) * sqrt(qq.nrm)) END AS approx_score,
       |  CASE WHEN a.m = 0 OR qq.m = 0 THEN 0.0 ELSE
       |    list_reduce(list_transform(list_zip(a.qe, qq.qe), t -> t[1]*t[2]), (x,y) -> x+y)
       |      / (sqrt(a.nrm)*sqrt(qq.nrm)) END AS score
       |FROM c8 a, qq WHERE a.vec_id <> 0
       |ORDER BY approx_score DESC, a.vec_id LIMIT 10""".stripMargin)

  val pqTopk = gate("qs_pq_topk") { (s, dir) =>
    // product quantization with ADC: 8 subspaces x 16 first-k
    // centroids (~4 bytes/vector), approximate cosine from m table
    // lookups per vector, exact cosine carried for the rerank
    Similarity.pqTopK(t(s, dir, "embeddings"), queryId = 0L, k = 10,
      stride = 31L)
  }(
    quantCte +
    s""",
       |rng AS (SELECT unnest(range(8)) AS s),
       |cents AS (SELECT c.vec_id // 31 AS cent_id, r.s,
       |  c.qe[r.s*8+1 : r.s*8+8] AS cv FROM n c, rng r
       |  WHERE c.vec_id % 31 = 0 AND c.vec_id < 496),
       |asub AS (SELECT a.vec_id, r.s, a.qe[r.s*8+1 : r.s*8+8] AS sv FROM n a, rng r),
       |dist AS (SELECT asub.vec_id, asub.s, cents.cent_id,
       |    list_reduce(list_transform(list_zip(asub.sv, cents.cv),
       |      t -> (t[1]-t[2])*(t[1]-t[2])), (x,y) -> x+y) AS d
       |  FROM asub JOIN cents ON asub.s = cents.s),
       |codes AS (SELECT vec_id, s, cent_id FROM (
       |  SELECT vec_id, s, cent_id,
       |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d, cent_id) AS rn
       |    FROM dist) WHERE rn = 1),
       |qq AS (SELECT qe, nrm FROM n WHERE vec_id = 0),
       |qsub AS (SELECT r.s, qq.qe[r.s*8+1 : r.s*8+8] AS qs FROM qq, rng r),
       |adc AS (SELECT codes.vec_id, CAST(sum(
       |    list_reduce(list_transform(list_zip(qsub.qs, cents.cv), t -> t[1]*t[2]), (x,y) -> x+y)
       |  ) AS BIGINT) AS ad
       |  FROM codes
       |  JOIN cents ON codes.s = cents.s AND codes.cent_id = cents.cent_id
       |  JOIN qsub ON qsub.s = codes.s
       |  GROUP BY codes.vec_id)
       |SELECT a.vec_id,
       |  CASE WHEN a.nrm = 0 THEN 0.0
       |    ELSE adc.ad / (sqrt(a.nrm) * sqrt(qq.nrm)) END AS approx_score,
       |  CASE WHEN a.nrm = 0 THEN 0.0 ELSE
       |    list_reduce(list_transform(list_zip(a.qe, qq.qe), t -> t[1]*t[2]), (x,y) -> x+y)
       |      / (sqrt(a.nrm)*sqrt(qq.nrm)) END AS score
       |FROM n a JOIN adc ON adc.vec_id = a.vec_id CROSS JOIN qq
       |WHERE a.vec_id <> 0
       |ORDER BY approx_score DESC, a.vec_id LIMIT 10""".stripMargin)

  val lshTopk = gate("qs_lsh_topk") { (s, dir) =>
    Similarity.lshTopK(t(s, dir, "embeddings"), queryId = 0L, k = 5)
  }(
    quantCte +
    s""",
       |bkt AS (SELECT vec_id, qe, nrm, $bucketExpr AS bucket FROM n),
       |qq AS (SELECT qe, nrm, bucket FROM bkt WHERE vec_id = 0)
       |SELECT a.vec_id,
       |  list_reduce(list_transform(list_zip(a.qe, qq.qe), t -> t[1]*t[2]), (x,y) -> x+y)
       |    / (sqrt(a.nrm)*sqrt(qq.nrm)) AS score
       |FROM bkt a, qq WHERE a.bucket = qq.bucket AND a.vec_id <> 0
       |ORDER BY score DESC, a.vec_id LIMIT 5""".stripMargin)

  val lshMultiprobe = gate("qs_lsh_multiprobe") { (s, dir) =>
    // hamming-distance-1 probe set: 7 of 64 sign-buckets scanned, the
    // standard recall lift over qs_lsh_topk's single probe
    Similarity.lshMultiProbeTopK(t(s, dir, "embeddings"), queryId = 0L, k = 5)
  }(
    quantCte +
    s""",
       |bkt AS (SELECT vec_id, qe, nrm, $bucketExpr AS bucket FROM n),
       |qq AS (SELECT qe, nrm, bucket FROM bkt WHERE vec_id = 0)
       |SELECT a.vec_id,
       |  list_reduce(list_transform(list_zip(a.qe, qq.qe), t -> t[1]*t[2]), (x,y) -> x+y)
       |    / (sqrt(a.nrm)*sqrt(qq.nrm)) AS score
       |FROM bkt a, qq
       |WHERE bit_count(xor(a.bucket, qq.bucket)) <= 1 AND a.vec_id <> 0
       |ORDER BY score DESC, a.vec_id LIMIT 5""".stripMargin)

  val ivfTopk = gate("qs_ivf_topk") { (s, dir) =>
    Similarity.ivfTopK(t(s, dir, "embeddings"), queryId = 0L, k = 5)
  }(
    quantCte +
    s""",
       |cents AS (SELECT vec_id AS cent_id, qe AS cv, nrm AS cnrm FROM n WHERE vec_id < 16),
       |scored AS (SELECT n.vec_id, n.qe, n.nrm, cents.cent_id,
       |    list_reduce(list_transform(list_zip(n.qe, cents.cv), t -> t[1]*t[2]), (x,y) -> x+y)
       |      / (sqrt(n.nrm)*sqrt(cents.cnrm)) AS cc
       |  FROM n CROSS JOIN cents),
       |assigned AS (SELECT vec_id, qe, nrm, cent_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, cent_id) AS rn
       |  FROM scored) WHERE rn = 1),
       |qq AS (SELECT qe, nrm, cent_id FROM assigned WHERE vec_id = 0)
       |SELECT a.vec_id,
       |  list_reduce(list_transform(list_zip(a.qe, qq.qe), t -> t[1]*t[2]), (x,y) -> x+y)
       |    / (sqrt(a.nrm)*sqrt(qq.nrm)) AS score
       |FROM assigned a, qq WHERE a.cent_id = qq.cent_id AND a.vec_id <> 0
       |ORDER BY score DESC, a.vec_id LIMIT 5""".stripMargin)

  val ivfMultiprobe = gate("qs_ivf_multiprobe") { (s, dir) =>
    // nprobe=2: scan the query's two highest-cosine inverted lists —
    // the IVF analogue of qs_lsh_multiprobe's recall lift
    Similarity.ivfMultiProbeTopK(t(s, dir, "embeddings"), queryId = 0L, k = 5)
  }(
    quantCte +
    s""",
       |cents AS (SELECT vec_id AS cent_id, qe AS cv, nrm AS cnrm FROM n WHERE vec_id < 16),
       |scored AS (SELECT n.vec_id, n.qe, n.nrm, cents.cent_id,
       |    list_reduce(list_transform(list_zip(n.qe, cents.cv), t -> t[1]*t[2]), (x,y) -> x+y)
       |      / (sqrt(n.nrm)*sqrt(cents.cnrm)) AS cc
       |  FROM n CROSS JOIN cents),
       |assigned AS (SELECT vec_id, qe, nrm, cent_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, cent_id) AS rn
       |  FROM scored) WHERE rn = 1),
       |qq AS (SELECT qe, nrm FROM n WHERE vec_id = 0),
       |probes AS (SELECT cent_id FROM scored WHERE vec_id = 0
       |  ORDER BY cc DESC, cent_id LIMIT 2)
       |SELECT a.vec_id,
       |  list_reduce(list_transform(list_zip(a.qe, qq.qe), t -> t[1]*t[2]), (x,y) -> x+y)
       |    / (sqrt(a.nrm)*sqrt(qq.nrm)) AS score
       |FROM assigned a, qq
       |WHERE a.cent_id IN (SELECT cent_id FROM probes) AND a.vec_id <> 0
       |ORDER BY score DESC, a.vec_id LIMIT 5""".stripMargin)

  val kmeansTopk = gate("qs_kmeans_topk") { (s, dir) =>
    // IVF over a REAL Lloyd-trained codebook (2 deterministic rounds:
    // argmax-cosine assign → floor-mean update); the oracle replays the
    // training unrolled in SQL
    Similarity.ivfKmeansTopK(t(s, dir, "embeddings"), queryId = 0L, k = 5)
  }(
    quantCte +
    s""",
       |c0 AS (SELECT vec_id AS cent_id, qe AS cv FROM q WHERE vec_id < 8),
       |${kmRound(1, "c0")},
       |${kmRound(2, "c1")},
       |${kmAssign("af", "c2")},
       |qq AS (SELECT qe AS qqe, cent_id AS qcent FROM af WHERE vec_id = 0)
       |SELECT a.vec_id,
       |  list_reduce(list_transform(list_zip(a.qe, qq.qqe), t -> t[1]*t[2]), (x,y) -> x+y)
       |    / (sqrt(${listNorm("a.qe")}) * sqrt(${listNorm("qq.qqe")})) AS score
       |FROM af a, qq WHERE a.cent_id = qq.qcent AND a.vec_id <> 0
       |ORDER BY score DESC, a.vec_id LIMIT 5""".stripMargin)

  val lshPruned = gate("qs_lsh_pruned") { (s, dir) =>
    // the at-scale ANN scan shape: embeddings partitioned on disk by LSH
    // sign-bucket, probe set pushed as an explicit partition list so the
    // scan reads ONLY the probed directories (PartitionFilters) — vs
    // qs_lsh_multiprobe's full-scan bit_count filter. Same candidates
    // and scores (shares its oracle). The layout is staged once per
    // (sf dir, JVM) — a deployment's stored index already exists, the
    // same reasoning that stages the streaming gates' inputs; the gate
    // measures the pruned probe, not the one-time ingest
    val lsh = stagedInput("qlp", dir)(p =>
      Similarity.writeLshPartitioned(t(s, dir, "embeddings"), p))
    Similarity.lshTopKPartitioned(s, lsh, queryId = 0L, k = 5)
  }(
    // the partition-pruned ANN layouts must return the exact candidates
    // and scores of the full-scan multi-probe paths
    lshMultiprobe.oracle)

  val quantizedPruned = gate("qs_quantized_pruned") { (s, dir) =>
    // the full compressed at-scale ANN shape: int8 codes + norms
    // partitioned by LSH sign-bucket; the probe ball prunes to
    // directories AND the scan reads one byte per dimension instead
    // of the float vectors (which stay in the primary store for the
    // shortlist rerank). Ranked by the code-space cosine.
    val emb = t(s, dir, "embeddings")
    val lay = stagedInput("qqp", dir)(p =>
      Similarity.writeLshQuantized(emb, p))
    val qv = emb.filter(col("vec_id") === 0)
      .select(Similarity.quantize(col("embedding")).as("qv"))
      .collect().head.getSeq[Long](0)
    Similarity.quantizedTopKPruned(s, lay, qv, excludeId = 0L, k = 5)
  }(
    quantCte +
    s""",
       |cd AS (SELECT vec_id, qe, nrm,
       |  list_aggregate(list_transform(qe, x -> abs(x)), 'max') AS m FROM n),
       |c8 AS (SELECT vec_id, qe, nrm, m,
       |  list_transform(qe, x -> CASE WHEN m = 0 THEN 0
       |    ELSE CAST(sign(x) AS BIGINT) * ((abs(x)*254 + m) // (m*2)) END) AS code
       |  FROM cd),
       |bkt AS (SELECT vec_id, nrm, m, code, $bucketExpr AS bucket FROM c8),
       |qq AS (SELECT nrm, m, code, bucket FROM bkt WHERE vec_id = 0)
       |SELECT a.vec_id,
       |  CASE WHEN a.m = 0 OR qq.m = 0 THEN 0.0 ELSE
       |    CAST(list_reduce(list_transform(list_zip(a.code, qq.code), t -> t[1]*t[2]), (x,y) -> x+y) AS DOUBLE)
       |      * a.m * qq.m / (16129.0 * sqrt(a.nrm) * sqrt(qq.nrm)) END AS score
       |FROM bkt a, qq
       |WHERE bit_count(xor(a.bucket, qq.bucket)) <= 1 AND a.vec_id <> 0
       |ORDER BY score DESC, a.vec_id LIMIT 5""".stripMargin)

  val ivfPq = gate("qs_ivf_pq") { (s, dir) =>
    // the full FAISS-IVFPQ index shape: inverted lists as cent_id
    // partition dirs, each vector stored as 8 RESIDUAL PQ codes + one
    // norm (no vector column); the probe prunes to 2 lists and scores
    // ⟨q,v⟩ ≈ ⟨q,c⟩ + residual-ADC — literal table lookups over ~8
    // bytes of I/O per vector. Residual codebook stride-sampled
    // (the pqCodebook first-k lesson).
    val emb = t(s, dir, "embeddings")
    val lay = stagedInput("qivfpq", dir) { p =>
      Similarity.writeIvfPq(emb, p, stride = 31L)
      java.nio.file.Files.createFile(java.nio.file.Paths.get(p, "_SUCCESS"))
      ()
    }
    val qv = emb.filter(col("vec_id") === 0)
      .select(Similarity.quantize(col("embedding")).as("qv"))
      .collect().head.getSeq[Long](0)
    Similarity.ivfPqTopKPruned(s, lay, qv, excludeId = 0L, k = 10)
  }(
    // full IVFPQ replay: coarse assign (qs_ivf_topk's CTEs) →
    // residuals → stride-31 residual codebook → per-subspace argmin
    // codes → 2-list probe → score = (residual ADC + ⟨q,c⟩) over both
    // true norms. Exact-integer until the final division, like the
    // Spark side. Corpus-side CTEs shared with qs_batch_ivfpq via
    // ivfPqCorpusCtes so the two gates cannot drift.
    ivfPqCorpusCtes +
    s""",
       |qq AS (SELECT qe, nrm FROM n WHERE vec_id = 0),
       |qsub AS (SELECT g.s, qq.qe[g.s*8+1 : g.s*8+8] AS qs FROM qq, rng g),
       |probes AS (SELECT cent_id FROM (SELECT c.cent_id,
       |    list_reduce(list_transform(list_zip(qq.qe, c.cv), t -> t[1]*t[2]), (x,y) -> x+y)
       |      / (sqrt(qq.nrm)*sqrt(c.cnrm)) AS cc
       |  FROM cents c, qq) ORDER BY cc DESC, cent_id LIMIT 2),
       |adc AS (SELECT codes.vec_id, CAST(sum(
       |    list_reduce(list_transform(list_zip(qsub.qs, pqc.pv), t -> t[1]*t[2]), (x,y) -> x+y)
       |  ) AS BIGINT) AS ad
       |  FROM codes JOIN pqc ON codes.s = pqc.s AND codes.c = pqc.c
       |  JOIN qsub ON qsub.s = codes.s
       |  GROUP BY 1),
       |qcd AS (SELECT c.cent_id, CAST(
       |    list_reduce(list_transform(list_zip(qq.qe, c.cv), t -> t[1]*t[2]), (x,y) -> x+y)
       |  AS BIGINT) AS qc FROM cents c, qq)
       |SELECT r.vec_id,
       |  CASE WHEN r.nrm = 0 THEN 0.0
       |    ELSE (adc.ad + qcd.qc) / (sqrt(r.nrm) * sqrt(qq.nrm)) END AS score
       |FROM resid r JOIN adc USING (vec_id) JOIN qcd ON qcd.cent_id = r.cent_id
       |CROSS JOIN qq
       |WHERE r.cent_id IN (SELECT cent_id FROM probes) AND r.vec_id <> 0
       |ORDER BY score DESC, r.vec_id LIMIT 10""".stripMargin)

  val batchMrr = gate("qs_batch_mrr") { (s, dir) =>
    // retrieval-quality audit: MRR of the PQ retriever's top-10
    // against the exact top-5, in exact integer micro-units — the
    // per-query metric relation a serving stack publishes next to
    // recall. Top-k-bounded everywhere past the two batch retrievals.
    val emb = t(s, dir, "embeddings")
    val qset = Similarity.batchQueries(emb, col("vec_id") < 8)
    Similarity.mrrAtK(
        Similarity.pqTopKBatch(emb, qset, k = 10, stride = 31L),
        Similarity.bruteForceTopKBatch(emb, qset, k = 5))
      .orderBy("query_id")
  }(
    // MRR over the shared PQ chain: first true-neighbor rank in the
    // retriever's top-10, reciprocal in integer micro-units; no-hit
    // queries surface with rank NULL / rr 0
    pqBatchCtes +
    s""",
       |exact AS (SELECT qq.query_id, a.vec_id,
       |    list_reduce(list_transform(list_zip(a.qe, qq.qe), t -> t[1]*t[2]), (x,y) -> x+y)
       |      / (sqrt(a.nrm)*sqrt(qq.nrm)) AS escore
       |  FROM n a CROSS JOIN qq WHERE a.vec_id <> qq.query_id),
       |truth AS (SELECT query_id, vec_id FROM (
       |  SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY escore DESC, vec_id) AS rn
       |    FROM exact) WHERE rn <= 5),
       |hit AS (SELECT s.query_id, min(s.rn) AS first_hit_rank
       |  FROM r s JOIN truth t ON t.query_id = s.query_id AND t.vec_id = s.vec_id
       |  WHERE s.rn <= 10 GROUP BY 1)
       |SELECT q.query_id, CAST(h.first_hit_rank AS BIGINT) AS first_hit_rank,
       |  coalesce(CAST(round(1e6 / h.first_hit_rank) AS BIGINT), 0) AS rr_micro
       |FROM (SELECT DISTINCT query_id FROM truth) q
       |LEFT JOIN hit h ON h.query_id = q.query_id
       |ORDER BY q.query_id""".stripMargin)

  val hardNegatives = gate("qs_hard_negatives") { (s, dir) =>
    // contrastive-retriever training data: the PQ retriever's top-10
    // shortlist minus the exact top-5 positives, cut to 5 negatives
    // per query by retriever score. Two one-job batch retrievals +
    // top-k-bounded anti-join — nothing corpus-sized past retrieval.
    val emb = t(s, dir, "embeddings")
    Similarity.hardNegatives(emb,
      Similarity.batchQueries(emb, col("vec_id") < 8),
      kPos = 5, nNeg = 5, stride = 31L)
  }(
    // hard-negative mining: the PQ retriever's top-10 shortlist (the
    // shared pqBatchCtes ranking) minus the exact-cosine top-5
    // positives, re-ranked by retriever score and cut to 5 — the
    // contrastive-training export, replayed end to end
    pqBatchCtes +
    s""",
       |exact AS (SELECT qq.query_id, a.vec_id,
       |    list_reduce(list_transform(list_zip(a.qe, qq.qe), t -> t[1]*t[2]), (x,y) -> x+y)
       |      / (sqrt(a.nrm)*sqrt(qq.nrm)) AS escore
       |  FROM n a CROSS JOIN qq WHERE a.vec_id <> qq.query_id),
       |truth AS (SELECT query_id, vec_id FROM (
       |  SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY escore DESC, vec_id) AS rn
       |    FROM exact) WHERE rn <= 5),
       |negs AS (SELECT s.query_id, s.vec_id, s.score FROM r s
       |  WHERE s.rn <= 10 AND NOT EXISTS (SELECT 1 FROM truth t
       |    WHERE t.query_id = s.query_id AND t.vec_id = s.vec_id)),
       |rk2 AS (SELECT query_id, vec_id, score,
       |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn
       |  FROM negs)
       |SELECT query_id, vec_id, score FROM rk2 WHERE rn <= 5""".stripMargin)

  val batchIvfpq = gate("qs_batch_ivfpq") { (s, dir) =>
    // batch ADC over the SAME staged IVFPQ layout as qs_ivf_pq: the
    // probe union pushes as one cent_id partition filter, per-query
    // ADC tables/norms/⟨q,c⟩ are computed distributed on the broadcast
    // probe relation — one pruned scan for the whole query set.
    val emb = t(s, dir, "embeddings")
    val lay = stagedInput("qivfpq", dir) { p =>
      Similarity.writeIvfPq(emb, p, stride = 31L)
      java.nio.file.Files.createFile(java.nio.file.Paths.get(p, "_SUCCESS"))
      ()
    }
    Similarity.ivfPqTopKBatch(s, lay,
      Similarity.batchQueries(emb, col("vec_id") < 8), k = 5)
  }(
    // batch tail over the shared IVFPQ corpus CTEs: per-query probes
    // (2 highest-cosine lists), residual ADC per (query, vector),
    // per-query window rank — mirrors qs_batch_ivf's query-set shape
    ivfPqCorpusCtes +
    s""",
       |qq AS (SELECT vec_id AS query_id, qe AS qqe, nrm AS qnrm FROM n WHERE vec_id < 8),
       |qsub AS (SELECT qq.query_id, g.s, qq.qqe[g.s*8+1 : g.s*8+8] AS qs FROM qq, rng g),
       |qprobes AS (SELECT query_id, cent_id FROM (
       |  SELECT qq.query_id, c.cent_id,
       |      row_number() OVER (PARTITION BY qq.query_id ORDER BY
       |        list_reduce(list_transform(list_zip(qq.qqe, c.cv), t -> t[1]*t[2]), (x,y) -> x+y)
       |          / (sqrt(qq.qnrm)*sqrt(c.cnrm)) DESC, c.cent_id) AS rn
       |    FROM qq CROSS JOIN cents c) WHERE rn <= 2),
       |adc AS (SELECT qsub.query_id, codes.vec_id, CAST(sum(
       |    list_reduce(list_transform(list_zip(qsub.qs, pqc.pv), t -> t[1]*t[2]), (x,y) -> x+y)
       |  ) AS BIGINT) AS ad
       |  FROM codes JOIN pqc ON codes.s = pqc.s AND codes.c = pqc.c
       |  JOIN qsub ON qsub.s = codes.s
       |  GROUP BY 1, 2),
       |qcd AS (SELECT qq.query_id, c.cent_id, CAST(
       |    list_reduce(list_transform(list_zip(qq.qqe, c.cv), t -> t[1]*t[2]), (x,y) -> x+y)
       |  AS BIGINT) AS qc FROM qq CROSS JOIN cents c),
       |cand AS (SELECT p.query_id, r.vec_id,
       |    CASE WHEN r.nrm = 0 OR qq.qnrm = 0 THEN 0.0
       |      ELSE (adc.ad + qcd.qc) / (sqrt(r.nrm) * sqrt(qq.qnrm)) END AS score
       |  FROM resid r
       |  JOIN qprobes p ON p.cent_id = r.cent_id
       |  JOIN qq ON qq.query_id = p.query_id
       |  JOIN adc ON adc.query_id = p.query_id AND adc.vec_id = r.vec_id
       |  JOIN qcd ON qcd.query_id = p.query_id AND qcd.cent_id = r.cent_id
       |  WHERE r.vec_id <> p.query_id),
       |rk AS (SELECT query_id, vec_id, score,
       |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn
       |  FROM cand)
       |SELECT query_id, vec_id, score FROM rk WHERE rn <= 5""".stripMargin)

  val ivfPruned = gate("qs_ivf_pruned") { (s, dir) =>
    // IVF analogue: inverted lists as cent_id partitions + stored
    // codebook; driver-side probe pick (bit-identical cosine), pruned
    // scan of the two probed lists. Shares qs_ivf_multiprobe's oracle;
    // layout staged like qs_lsh_pruned (root marker added by hand —
    // the writer's own _SUCCESS lands in data/ and codebook/)
    val ivf = stagedInput("qip", dir) { p =>
      Similarity.writeIvfPartitioned(t(s, dir, "embeddings"), p)
      java.nio.file.Files.createFile(java.nio.file.Paths.get(p, "_SUCCESS"))
      ()
    }
    Similarity.ivfTopKPartitioned(s, ivf, queryId = 0L, k = 5)
  }(
    // the partition-pruned ANN layouts must return the exact candidates
    // and scores of the full-scan multi-probe paths
    ivfMultiprobe.oracle)

  val streamIndex = gate("qs_stream_index") { (s, dir) =>
    // STREAMING index maintenance: embeddings arrive as micro-batches
    // (4 files, one per trigger) and APPEND to the compressed LSH
    // layout under out_batch=N/bucket=M; the drain is followed by a
    // bucket-preserving compaction, and the index is served by the SAME
    // pruned reader as the batch layout — identical result, shared
    // oracle. Multi-batch equality, replay, and compaction invariants
    // are spec'd in StreamingAnnIndexSpec. The build is STAGED like the
    // sibling layout gates (qs_quantized_pruned/qs_ivf_pruned): bench
    // reps measure serving the streamed index, not rebuilding it.
    val emb = t(s, dir, "embeddings")
    val idx = stagedInput("qsix", dir) { p =>
      val src = stagedInput("qemb4", dir) { sp =>
        emb.repartition(4).write.mode("overwrite").parquet(sp)
      }
      val q = Similarity.streamingLshQuantized(
        s.readStream.schema(emb.schema).option("maxFilesPerTrigger", "1")
          .parquet(src),
        s"$p/idx", s"$p/ckpt")
      q.awaitTermination()
      Similarity.compactLshIndex(s, s"$p/idx")
      java.nio.file.Files.createFile(java.nio.file.Paths.get(p, "_SUCCESS"))
      ()
    }
    val qv = emb.filter(col("vec_id") === 0)
      .select(Similarity.quantize(col("embedding")).as("qv"))
      .collect().head.getSeq[Long](0)
    Similarity.quantizedTopKPruned(s, s"$idx/idx", qv, excludeId = 0L, k = 5)
  }(
    // a streamed-then-compacted index serves the same pruned reads as the
    // batch-written layout
    quantizedPruned.oracle)

  val batchTopk = gate("qs_batch_topk") { (s, dir) =>
    // batch multi-query ANN: a whole query SET (8 probes) scored in ONE
    // job — one corpus scan, one candidate join, one window — where the
    // single-query entry points cost a driver round-trip + a Spark job
    // per query (the scale-killer for matching millions of probes)
    val emb = t(s, dir, "embeddings")
    Similarity.lshTopKBatch(emb,
      Similarity.batchQueries(emb, col("vec_id") < 8), k = 5)
  }(
    quantCte +
    s""",
       |bkt AS (SELECT vec_id, qe, nrm, $bucketExpr AS bucket FROM n),
       |qq AS (SELECT vec_id AS query_id, qe AS qqe, nrm AS qnrm, bucket AS qbucket
       |  FROM bkt WHERE vec_id < 8),
       |cand AS (SELECT qq.query_id, a.vec_id,
       |    list_reduce(list_transform(list_zip(a.qe, qq.qqe), t -> t[1]*t[2]), (x,y) -> x+y)
       |      / (sqrt(a.nrm)*sqrt(qq.qnrm)) AS score
       |  FROM bkt a JOIN qq
       |    ON bit_count(xor(a.bucket, qq.qbucket)) <= 1 AND a.vec_id <> qq.query_id),
       |r AS (SELECT query_id, vec_id, score,
       |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn
       |  FROM cand)
       |SELECT query_id, vec_id, score FROM r WHERE rn <= 5""".stripMargin)

  val batchIvf = gate("qs_batch_ivf") { (s, dir) =>
    // IVF analogue: probe lists picked distributed against the literal
    // codebook, map-side corpus assignment, one window for all queries
    val emb = t(s, dir, "embeddings")
    Similarity.ivfTopKBatch(emb,
      Similarity.batchQueries(emb, col("vec_id") < 8), k = 5)
  }(
    quantCte +
    s""",
       |cents AS (SELECT vec_id AS cent_id, qe AS cv, nrm AS cnrm FROM n WHERE vec_id < 16),
       |scored AS (SELECT n.vec_id, n.qe, n.nrm, cents.cent_id,
       |    list_reduce(list_transform(list_zip(n.qe, cents.cv), t -> t[1]*t[2]), (x,y) -> x+y)
       |      / (sqrt(n.nrm)*sqrt(cents.cnrm)) AS cc
       |  FROM n CROSS JOIN cents),
       |assigned AS (SELECT vec_id, qe, nrm, cent_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, cent_id) AS rn
       |  FROM scored) WHERE rn = 1),
       |qprobes AS (SELECT vec_id AS query_id, cent_id FROM (
       |  SELECT vec_id, cent_id,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, cent_id) AS rn
       |    FROM scored WHERE vec_id < 8) WHERE rn <= 2),
       |qq AS (SELECT vec_id AS query_id, qe AS qqe, nrm AS qnrm FROM n WHERE vec_id < 8),
       |cand AS (SELECT qq.query_id, a.vec_id,
       |    list_reduce(list_transform(list_zip(a.qe, qq.qqe), t -> t[1]*t[2]), (x,y) -> x+y)
       |      / (sqrt(a.nrm)*sqrt(qq.qnrm)) AS score
       |  FROM assigned a
       |  JOIN qprobes p ON a.cent_id = p.cent_id
       |  JOIN qq ON qq.query_id = p.query_id
       |  WHERE a.vec_id <> qq.query_id),
       |r AS (SELECT query_id, vec_id, score,
       |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn
       |  FROM cand)
       |SELECT query_id, vec_id, score FROM r WHERE rn <= 5""".stripMargin)

  val batchPruned = gate("qs_batch_pruned") { (s, dir) =>
    // batch ANN over the stored LSH layout (same staged index as
    // qs_lsh_pruned): the UNION of all 8 probe balls pushed as ONE
    // static partition IN filter — one pruned scan for the whole set
    val emb = t(s, dir, "embeddings")
    val lsh = stagedInput("qlp", dir)(p =>
      Similarity.writeLshPartitioned(emb, p))
    Similarity.lshTopKBatchPartitioned(s, lsh,
      Similarity.batchQueries(emb, col("vec_id") < 8), k = 5)
  }(
    // batch ANN over the stored layout must return exactly the full-scan
    // batch result
    batchTopk.oracle)

  val batchKmeans = gate("qs_batch_kmeans") { (s, dir) =>
    // trained-codebook batch IVF: the full batch matrix point — Lloyd
    // training (2 deterministic rounds), map-side assignment, per-query
    // top-2 probe lists picked distributed, one window for all queries;
    // the oracle replays training AND batch probing unrolled in SQL
    val emb = t(s, dir, "embeddings")
    val cb = Similarity.kmeansCodebook(emb, 8, 2)
    Similarity.ivfTopKBatch(emb,
      Similarity.batchQueries(emb, col("vec_id") < 8),
      k = 5, centroids = 8, nprobe = 2, codebook = Some(cb))
  }(
    quantCte +
    s""",
       |c0 AS (SELECT vec_id AS cent_id, qe AS cv FROM q WHERE vec_id < 8),
       |${kmRound(1, "c0")},
       |${kmRound(2, "c1")},
       |${kmAssign("af", "c2")},
       |qq AS (SELECT vec_id AS query_id, qe AS qqe FROM n WHERE vec_id < 8),
       |qsc AS (SELECT qq.query_id, c.cent_id,
       |    list_reduce(list_transform(list_zip(qq.qqe, c.cv), t -> t[1]*t[2]), (x,y) -> x+y)
       |      / (sqrt(${listNorm("qq.qqe")}) * sqrt(${listNorm("c.cv")})) AS cc
       |  FROM qq CROSS JOIN c2 c),
       |qpr AS (SELECT query_id, cent_id FROM (SELECT query_id, cent_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cc DESC, cent_id) AS rn
       |  FROM qsc) WHERE rn <= 2),
       |cand AS (SELECT qq.query_id, a.vec_id,
       |    list_reduce(list_transform(list_zip(a.qe, qq.qqe), t -> t[1]*t[2]), (x,y) -> x+y)
       |      / (sqrt(${listNorm("a.qe")}) * sqrt(${listNorm("qq.qqe")})) AS score
       |  FROM af a
       |  JOIN qpr p ON a.cent_id = p.cent_id
       |  JOIN qq ON qq.query_id = p.query_id
       |  WHERE a.vec_id <> qq.query_id),
       |r AS (SELECT query_id, vec_id, score,
       |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn
       |  FROM cand)
       |SELECT query_id, vec_id, score FROM r WHERE rn <= 5""".stripMargin)

  val batchPq = gate("qs_batch_pq") { (s, dir) =>
    // batch PQ with ADC: per-query dot tables computed distributed
    // from the literal codebook, m element_at lookups per (vector,
    // query) pair — completes the batch matrix with the compressed-
    // storage scoring shape
    val emb = t(s, dir, "embeddings")
    Similarity.pqTopKBatch(emb,
      Similarity.batchQueries(emb, col("vec_id") < 8), k = 5,
      stride = 31L)
  }(
    pqBatchCtes +
    "\nSELECT query_id, vec_id, score FROM r WHERE rn <= 5")

  val batchBrute = gate("qs_batch_brute") { (s, dir) =>
    // exact ground truth for the whole query set in ONE job (corpus
    // scan x broadcast fan-out, no candidate bound — that's what exact
    // costs) — the recall-evaluation baseline at scale
    val emb = t(s, dir, "embeddings")
    Similarity.bruteForceTopKBatch(emb,
      Similarity.batchQueries(emb, col("vec_id") < 8), k = 5)
  }(
    quantCte +
    s""",
       |qq AS (SELECT vec_id AS query_id, qe AS qqe, nrm AS qnrm FROM n WHERE vec_id < 8),
       |cand AS (SELECT qq.query_id, a.vec_id,
       |    list_reduce(list_transform(list_zip(a.qe, qq.qqe), t -> t[1]*t[2]), (x,y) -> x+y)
       |      / (sqrt(a.nrm)*sqrt(qq.qnrm)) AS score
       |  FROM n a CROSS JOIN qq WHERE a.vec_id <> qq.query_id),
       |r AS (SELECT query_id, vec_id, score,
       |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn
       |  FROM cand)
       |SELECT query_id, vec_id, score FROM r WHERE rn <= 5""".stripMargin)

  val batchRecall = gate("qs_batch_recall") { (s, dir) =>
    // the measurement op that closes the ANN loop: per-query recall@5
    // of the banded LSH batch against the exact batch — both one-job,
    // join cost is top-k-sized regardless of corpus size
    val emb = t(s, dir, "embeddings")
    val q = Similarity.batchQueries(emb, col("vec_id") < 8)
    Similarity.recallAtK(
        Similarity.lshTopKBatch(emb, q, k = 5),
        Similarity.bruteForceTopKBatch(emb, q, k = 5))
      .orderBy("query_id")
  }(
    quantCte +
    s""",
       |bkt AS (SELECT vec_id, qe, nrm, $bucketExpr AS bucket FROM n),
       |qq AS (SELECT vec_id AS query_id, qe AS qqe, nrm AS qnrm, bucket AS qbucket
       |  FROM bkt WHERE vec_id < 8),
       |acand AS (SELECT qq.query_id, a.vec_id,
       |    list_reduce(list_transform(list_zip(a.qe, qq.qqe), t -> t[1]*t[2]), (x,y) -> x+y)
       |      / (sqrt(a.nrm)*sqrt(qq.qnrm)) AS score
       |  FROM bkt a JOIN qq
       |    ON bit_count(xor(a.bucket, qq.qbucket)) <= 1 AND a.vec_id <> qq.query_id),
       |approx AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn
       |  FROM acand) WHERE rn <= 5),
       |tcand AS (SELECT qq.query_id, a.vec_id,
       |    list_reduce(list_transform(list_zip(a.qe, qq.qqe), t -> t[1]*t[2]), (x,y) -> x+y)
       |      / (sqrt(a.nrm)*sqrt(qq.qnrm)) AS score
       |  FROM n a CROSS JOIN qq WHERE a.vec_id <> qq.query_id),
       |truth AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn
       |  FROM tcand) WHERE rn <= 5)
       |SELECT t.query_id, CAST(count(a.vec_id) AS DOUBLE)/count(*) AS recall
       |FROM truth t LEFT JOIN approx a
       |  ON t.query_id = a.query_id AND t.vec_id = a.vec_id
       |GROUP BY 1 ORDER BY 1""".stripMargin)
}
