package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Scores are computed on integer-quantized vectors (`round(x*1000)`) so
  * dot products and norms are exact integers; the final cosine is a
  * deterministic double (same integer operands → same IEEE result in every
  * engine), which makes brute-force and LSH variants oracle-checkable.
  *
  * Scale design: each ANN index has ONE top-k path, its `*TopKBatch`
  * entry — a query SET joined against the corpus or layout in one job and
  * ranked per query by a `row_number` window cut at `rn <= k`. A single
  * query is a batch of one: the single-query entries ([[bruteForceTopK]],
  * [[lshTopK]], [[ivfTopK]], …) build the one-row `(query_id, qv)` set
  * and call their batch twin. Brute-force top-k is the correctness
  * baseline (every vector scored against the broadcast query set); the
  * LSH variant buckets vectors by hyperplane sign bits so a 100 TB corpus
  * only scans the query's bucket (candidates ≈ N / 2^planes), at a recall
  * cost; both are exposed side by side.
  *
  * The recall cost is MEASURED, not guessed (`AnnRecallSpec`, clustered
  * 500×64 corpus, recall@10 vs [[bruteForceTopK]] ground truth, floors
  * asserted in the spec):
  *   - [[lshTopK]] at NumPlanes=6: 0.50 — a single sign-bucket probe is
  *     the cheapest and coarsest path (candidates ≈ N/64; a cluster
  *     straddling a hyperplane splits across buckets);
  *   - [[lshMultiProbeTopK]] at maxHamming=1: 0.84 — probing the 7
  *     distance-≤1 buckets recovers most straddled clusters at 7/64 of
  *     the corpus scanned;
  *   - [[ivfTopK]] (first-k codebook, 16 centroids): 0.70;
  *   - [[ivfMultiProbeTopK]] (nprobe=2): 0.875 — scanning the second-
  *     closest inverted list recovers queries near Voronoi boundaries;
  *   - [[ivfKmeansTopK]] (trained codebook, 8 centroids, 2 iters): 1.00 —
  *     trained centroids align inverted lists with the actual cluster
  *     structure, the scale path of choice when a training pass is
  *     affordable.
  */
object Similarity {

  /** Integer quantization of a float vector (exact arithmetic downstream). */
  def quantize(v: Column, scale: Int = 1000): Column =
    transform(v, x => round(x * scale).cast("long"))

  /** Exact integer dot product of two quantized vectors — native codegen
    * expression (HOF `zip_with`+`aggregate` stays interpreted; the custom
    * `ArrayDotProduct` loop keeps the scan in whole-stage codegen).
    */
  def qdot(a: Column, b: Column): Column = graft.plans.ArrayDotProduct(a, b)

  /** Exact integer squared norm. */
  def qnorm2(a: Column): Column = qdot(a, a)

  /** Deterministic cosine from quantized vectors. */
  def cosine(a: Column, b: Column): Column =
    qdot(a, b).cast("double") / (sqrt(qnorm2(a).cast("double")) * sqrt(qnorm2(b).cast("double")))

  /** Fail-fast existence check for the query id: a typoed id must fail,
    * not return an EMPTY top-k indistinguishable from "no neighbors".
    */
  private def requireQueryExists(emb: DataFrame, queryId: Long): Unit =
    require(!emb.filter(col("vec_id") === queryId).isEmpty, notInCorpus(queryId))

  private def notInCorpus(queryId: Long): String =
    s"query vec_id=$queryId not found in the embedding corpus"

  /** The single-query entries' one path: `batch` (a `*TopKBatch` twin)
    * over the one-row query set `query` (query_id, qv), `query_id`
    * dropped, rows in (score desc, vec_id) order (the window already cut
    * to k; the `limit` plans the sort as one `TakeOrderedAndProject`).
    * The set is collected here in one job, so an absent id fails with
    * `notFound`, and the twin reads a driver-local relation. `nonZero`
    * refuses a zero-norm query, whose probe pick would divide by zero.
    */
  private def oneQuery(query: DataFrame, k: Int, notFound: => String,
      nonZero: Boolean = false)(batch: DataFrame => DataFrame): DataFrame = {
    val rows = query.collect()
    require(rows.nonEmpty, notFound)
    require(!nonZero || rows.forall(_.getSeq[Long](1).map(x => x * x).sum != 0L),
      "zero-norm query vector")
    batch(localRelation(query, rows)).drop("query_id")
      .orderBy(col("score").desc, col("vec_id")).limit(k)
  }

  private def corpusTopK(emb: DataFrame, queryId: Long, k: Int)(
      batch: DataFrame => DataFrame): DataFrame =
    oneQuery(batchQueries(emb, col("vec_id") === queryId), k,
      notInCorpus(queryId))(batch)

  /** A layout entry's one-row query set: the caller's quantized
    * `queryVec`, else the `qv` stored for `queryId` in the layout `data`.
    */
  private def layoutQuery(spark: org.apache.spark.sql.SparkSession, data: String,
      queryId: Long, queryVec: Option[Seq[Long]]): DataFrame = queryVec match {
    case Some(v) => spark.createDataFrame(Seq((queryId, v))).toDF("query_id", "qv")
    case None => spark.read.parquet(data).filter(col("vec_id") === queryId)
      .select(col("vec_id").as("query_id"), col("qv"))
  }

  private def localRelation(like: DataFrame,
      rows: Array[org.apache.spark.sql.Row]): DataFrame =
    like.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), like.schema)

  /** Brute-force top-k nearest to the vector with id `queryId`:
    * [[bruteForceTopKBatch]] over the one-row query set.
    */
  def bruteForceTopK(emb: DataFrame, queryId: Long, k: Int): DataFrame =
    corpusTopK(emb, queryId, k)(bruteForceTopKBatch(emb, _, k))

  /** Per-vector symmetric int8 codes of a quantized vector: each
    * component maps to `round(|x|*127/maxabs) * sign(x)` with the
    * vector's own `maxabs` as the scale — the FAISS-`SQ8` storage
    * layout that cuts the ANN scan's bytes ~4× (one signed byte per
    * dimension plus one scale per vector) at a recall cost measured in
    * `AnnRecallSpec`, not guessed. The rounding `(|x|*254 + m) / 2m`
    * (round-half-up, truncated) is exact — and therefore bit-identical
    * across engines, the property the DuckDB oracle parity hangs on —
    * as long as `|x|·254 + m < 2^53`: Spark's `/` on longs is DOUBLE
    * division before the long cast, so components beyond ~3.5e13 could
    * round differently from a pure integer `div`. Quantized embedding
    * components are ~1e6, eight orders inside the bound; callers
    * feeding larger scales must re-derive. A zero vector (`m = 0`)
    * codes to all zeros.
    */
  def int8Codes(qv: Column, m: Column): Column =
    transform(qv, x =>
      when(m === 0, lit(0L)).otherwise(
        signum(x).cast("long") *
          ((abs(x) * 254 + m) / (m * 2)).cast("long")))

  /** Quantized top-k: brute scan over int8 codes (asymmetric-style —
    * the approximate cosine rescales the code dot product by both
    * vectors' scales against their TRUE norms), with the exact cosine
    * carried alongside for the rerank the real pipeline would do on
    * the shortlist. Ranking (and the gate's hash) is by the
    * APPROXIMATE score — that is what a code-only 100 TB scan can
    * order by; at 100 TB the codes are precomputed once into the
    * stored layout (like [[writeLshPartitioned]]'s bucket dirs) so the scan
    * reads ~n_dims bytes + one scale per vector instead of 4×n_dims.
    * All operands reaching the final double expression are exact
    * integers (code dot ≤ dims·127², times two scales ≤ ~2^53), so the
    * score is the same IEEE double everywhere.
    */
  def quantizedTopK(emb: DataFrame, queryId: Long, k: Int): DataFrame = {
    requireQueryExists(emb, queryId)
    val coded = emb
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .withColumn("m", array_max(transform(col("qv"), x => abs(x))))
      .withColumn("code", int8Codes(col("qv"), col("m")))
    val q = coded.filter(col("vec_id") === queryId)
      .select(col("qv").as("q_qv"), col("m").as("q_m"),
        col("code").as("q_code"))
    // a zero vector on either side makes both cosines 0/0; NaN sorts
    // ABOVE every real score in a DESC order, so guard to 0 instead of
    // letting a degenerate vector capture the top of every shortlist
    // (the oracle SQL carries the same CASE)
    val zero = col("m") === 0 || col("q_m") === 0
    coded.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        when(zero, lit(0.0)).otherwise(
          qdot(col("code"), col("q_code")).cast("double") * col("m") * col("q_m") /
            (lit(16129.0) * sqrt(qnorm2(col("qv")).cast("double")) *
              sqrt(qnorm2(col("q_qv")).cast("double")))).as("approx_score"),
        when(zero, lit(0.0))
          .otherwise(cosine(col("qv"), col("q_qv"))).as("score"))
      .orderBy(col("approx_score").desc, col("vec_id"))
      .limit(k)
  }

  /** Product-quantization codebook (stride-sampled, SQL-replayable like
    * [[ivfTopK]]'s first-k): subspace `s`'s centroid `c` is the `s`-th
    * subvector of the vector with `vec_id = c·stride`. Returns
    * `cb(s)(c)` = quantized subvector — `m × kCent` arrays of `dims/m`
    * longs, driver-sized by construction (e.g. 8×16×8 longs).
    *
    * `stride = 1` is the plain first-k codebook; a stride spreads the
    * sample across the id range, which matters when ids are clustered.
    * Measured on `BatchAnnSpec`'s random clustered corpus: 16 sample
    * centroids per 8-dim subspace CANNOT rank a top-10 directly
    * (recall@10 ≈ 0.37 — code-space cosine is coarse on random data),
    * but the true top-10 is fully contained in the PQ top-50 shortlist
    * (containment 1.00 strided, 0.90 when the first-16 sample saw only
    * one cluster) — so the operating shape is shortlist → exact rerank,
    * which is what the carried exact-score column in [[pqTopK]] is
    * for. A trained variant would run [[kmeansCodebook]] per subspace;
    * the sampled form keeps the codebook bit-replayable in the DuckDB
    * oracle, which is what makes the gates hash-exact rather than
    * rows-only.
    */
  def pqCodebook(emb: DataFrame, m: Int = 8, kCent: Int = 16,
      dims: Int = 64, stride: Long = 1L): Array[Array[Array[Long]]] = {
    require(dims % m == 0, s"dims=$dims not divisible by m=$m subspaces")
    require(stride >= 1, s"stride must be >= 1, got $stride")
    val sub = dims / m
    val first = emb
      .filter(col("vec_id") % stride === 0 && col("vec_id") < kCent * stride)
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .collect().sortBy(_.getLong(0))
      .map(_.getSeq[Long](1).toArray)
    require(first.length == kCent,
      s"need vec_ids {0, $stride, …, ${(kCent - 1) * stride}} for the " +
        s"stride-$stride codebook, found ${first.length}")
    Array.tabulate(m)(s => first.map(_.slice(s * sub, (s + 1) * sub)))
  }

  private def ldot(a: Array[Long], b: Array[Long]): Long =
    a.iterator.zip(b.iterator).map { case (x, y) => x * y }.sum

  /** PQ top-k with asymmetric distance computation (ADC) — the standard
    * 100 TB ANN compression: each vector is stored as `m` small codes
    * (here 8 codes of 4 bits each ≈ 4 bytes/vector vs 256 for floats),
    * and a query scores a vector WITHOUT reconstructing it, by summing
    * `m` precomputed table lookups.
    *
    * Scale shape: the codebook and the single query vector are driver
    * collects (both tiny by construction; the batch entry points score
    * query SETS in one job; this is the single-probe form). Encoding
    * is a one-time map-only pass whose inner loop is `m × kCent`
    * codegen [[qdot]]s per row against literal centroids — at 100 TB
    * codes are written once into the stored layout and every later
    * query reads codes + one norm per vector. The ADC tables
    * (`m × kCent` longs) fold into the scan as literal `element_at`
    * lookups, so the per-row query cost is `m` array indexings and one
    * divide — no vector arithmetic at all.
    *
    * Parity: codes pick `argmin_c ‖v_s − C_sc‖²` with ties to the
    * lowest code; the Spark side ranks by the equivalent integer key
    * `‖C_sc‖² − 2·⟨v_s, C_sc⟩` (the `‖v_s‖²` term is constant within
    * the argmin), while the oracle computes the full squared distance —
    * same argmin, cheaper codegen. The approximate cosine divides the
    * exact-integer ADC dot by both TRUE norms (stored alongside codes,
    * as real PQ layouts do); zero-norm vectors guard to 0 like
    * [[quantizedTopK]]. The exact cosine rides along for the shortlist
    * rerank.
    */
  def pqTopK(emb: DataFrame, queryId: Long, k: Int, m: Int = 8,
      kCent: Int = 16, dims: Int = 64, stride: Long = 1L): DataFrame = {
    val sub = dims / m
    val cb = pqCodebook(emb, m, kCent, dims, stride)
    val cc2 = cb.map(_.map(c => ldot(c, c)))

    val qRow = emb.filter(col("vec_id") === queryId)
      .select(quantize(col("embedding")).as("qv")).collect()
    require(qRow.nonEmpty, s"query vector $queryId not found")
    val qv = qRow.head.getSeq[Long](0).toArray
    require(qv.length == dims, s"query has ${qv.length} dims, expected $dims")
    val qn = ldot(qv, qv)
    require(qn != 0L, "zero-norm query vector")
    // ADC tables: tab(s)(c) = <query subvector s, centroid C_sc>
    val tab = Array.tabulate(m, kCent) { (s, c) =>
      ldot(qv.slice(s * sub, (s + 1) * sub), cb(s)(c))
    }

    val coded = emb.filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .withColumn("codes", graft.plans.PqEncode(col("qv"), cb, cc2))
      // materialize the row norm ONCE (the pqTopKBatch _vn pattern):
      // inside when-branches codegen CSE skips conditionally-executed
      // subtrees, so an inline qnorm2 would re-run the 64-multiply dot
      // per branch per row on the scan this op exists to make cheap
      .withColumn("_vn", qnorm2(col("qv")))
    val approxDot = (0 until m).map { s =>
      element_at(typedLit(tab(s).toSeq), col("codes")(s) + 1)
    }.reduce(_ + _)
    coded
      .select(col("vec_id"),
        when(col("_vn") === 0, lit(0.0)).otherwise(
          approxDot.cast("double") /
            (sqrt(col("_vn").cast("double")) * sqrt(lit(qn).cast("double"))))
          .as("approx_score"),
        when(col("_vn") === 0, lit(0.0)).otherwise(
          qdot(col("qv"), typedLit(qv.toSeq)).cast("double") /
            (sqrt(col("_vn").cast("double")) * sqrt(lit(qn).cast("double"))))
          .as("score"))
      .orderBy(col("approx_score").desc, col("vec_id"))
      .limit(k)
  }

  /** Johnson–Lindenstrauss-style random projection: `outDims` integer
    * components `⟨qv, W_i⟩`, with the deterministic [[planeWeight]] rows
    * as the projection matrix (the same family the LSH planes use, so
    * the oracle replays it bit-for-bit). Each component is scaled by
    * `floor(x / 2^20)` — headroom control, NOT a hash: unscaled
    * projected dot products reach ~1.5e23 and overflow long (|p_i| ≤
    * dims·max|qv|·max|w| ≈ 9.6e10, squared and summed over 16 dims).
    * The scale uses `floor` of an exact double division (values <
    * 2^53), which is the portable negative-value floor — integer `/`
    * truncates toward zero in Spark but floors in DuckDB.
    *
    * This is the cheap prefilter tier below [[int8Codes]]: a 100 TB
    * scan can rank 16 longs per vector (4× fewer multiplies than the
    * int8 codes, 16× fewer than floats) before any exact rerank.
    * Recall@10 measured 0.47 on the clustered spec corpus — the
    * coarsest rung of the ladder (int8-pruned 0.82, float multiprobe
    * 0.84), priced accordingly.
    */
  def randomProject(qv: Column, outDims: Int = 16, dims: Int = 64): Column = {
    // same guard as lshBucket, same additive-0 shape (an array-wide
    // when-wrapper would make every projection dot conditionally
    // executed): ArrayDotProduct truncates to the shorter operand, so a
    // vector longer than `dims` would silently rank on its first `dims`
    // components — the prefilter tier must raise, not quietly drop half
    // the vector. The guard rides component 0 as a +0 term.
    val guard = when(size(qv) > dims,
      raise_error(concat(lit(s"randomProject: vector longer than $dims dims: "),
        size(qv).cast("string"))).cast("long"))
      .otherwise(lit(0L))
    array((0 until outDims).map { i =>
      val w = typedLit((0 until dims).map(j => planeWeight(i, j)))
      val comp = floor(qdot(qv, w) / lit(1048576.0)).cast("long")
      if (i == 0) comp + guard else comp
    }: _*)
  }

  /** Brute top-k in the PROJECTED space, exact cosine carried for the
    * rerank — [[quantizedTopK]]'s shape one compression tier down.
    * Ranking is by the projected cosine (what a projection-only scan
    * can order by); zero-norm projections guard to 0.
    */
  def projectedTopK(emb: DataFrame, queryId: Long, k: Int,
      outDims: Int = 16): DataFrame = {
    requireQueryExists(emb, queryId)
    val coded = emb
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .withColumn("pv", randomProject(col("qv"), outDims))
    val q = coded.filter(col("vec_id") === queryId)
      .select(col("qv").as("q_qv"), col("pv").as("q_pv"))
    val zero = qnorm2(col("pv")) === 0 || qnorm2(col("q_pv")) === 0
    coded.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        when(zero, lit(0.0)).otherwise(
          qdot(col("pv"), col("q_pv")).cast("double") /
            (sqrt(qnorm2(col("pv")).cast("double")) *
              sqrt(qnorm2(col("q_pv")).cast("double")))).as("proj_score"),
        when(zero, lit(0.0))
          .otherwise(cosine(col("qv"), col("q_qv"))).as("score"))
      .orderBy(col("proj_score").desc, col("vec_id"))
      .limit(k)
  }

  /** Deterministic hyperplane weights (shared with the oracle SQL). */
  val NumPlanes = 6
  def planeWeight(plane: Int, dim: Int): Long =
    ((plane * 64L + dim) * 2654435761L) % 1000003L - 501001L

  /** LSH bucket id from hyperplane sign bits. Each plane's dot product is
    * the codegen [[qdot]] ([[graft.plans.ArrayDotProduct]]) against a
    * literal weight array — a tight primitive loop, where the previous
    * `zip_with`+`aggregate` form paid one interpreted lambda call per
    * element per row (and a `slice` variant additionally copied the
    * 64-literal array per plane per row; the ladder measured on the
    * sf0.1 bucketed top-k: slice 1.0 s → zip_with 0.36 s → qdot here).
    * `ArrayDotProduct` truncates to the shorter operand, so any vector
    * length up to `dims` gets a real signature over the first `size(qv)`
    * weights; longer vectors raise. The driver-side twin [[lshBucketOf]]
    * applies the same first-`length` rule, keeping stored and recomputed
    * buckets in lockstep at every length. (Null ELEMENTS inside a vector
    * are out of contract here — [[quantize]] never produces them.)
    */
  def lshBucket(qv: Column, dims: Int = 64, numPlanes: Int = NumPlanes): Column = {
    val bucket = (0 until numPlanes).map { p =>
      val w = typedLit((0 until dims).map(j => planeWeight(p, j)))
      when(qdot(qv, w) >= 0, lit(1L << p)).otherwise(0L)
    }.reduce(_ + _)
    // the length check is an additive 0-term, NOT a wrapper around the
    // bucket: wrapping makes all numPlanes dot products conditionally
    // executed, which exiles them from codegen subexpression elimination
    // (measured 2× on the bucketed top-k); an add of a conditional scalar
    // leaves the hot terms unconditional and costs one comparison
    bucket + when(size(qv) > dims,
      raise_error(concat(lit(s"lshBucket: vector longer than $dims dims: "),
        size(qv).cast("string"))).cast("long"))
      .otherwise(lit(0L))
  }

  /** LSH-bucketed top-k: scan only the query's bucket —
    * [[lshMultiProbeTopK]] at `maxHamming = 0`.
    */
  def lshTopK(emb: DataFrame, queryId: Long, k: Int): DataFrame =
    lshMultiProbeTopK(emb, queryId, k, maxHamming = 0)

  /** Multi-probe LSH top-k: scan the query's sign-bucket AND every bucket
    * within hamming distance `maxHamming` of it — the standard recall lift
    * for hyperplane LSH (a cluster that straddles one hyperplane splits
    * across exactly the distance-1 buckets, which a single probe misses).
    * [[lshTopKBatch]] over the one-row query set.
    *
    * Candidate bound: sum_{i<=h} C(p, i) / 2^p of the corpus — at the
    * default p=6 planes, h=1 that is 7/64 ≈ 11% of rows scanned (vs 1/64
    * single-probe). Measured recall@10 on the AnnRecallSpec clustered
    * corpus: 0.84 (vs 0.50 single-probe; floor asserted ≥ 0.8).
    *
    * This form SCANS the full corpus to bucket it; the at-scale form is
    * [[lshTopKPartitioned]], whose scan reads only the probed directories
    * of a [[writeLshPartitioned]] layout (plan-asserted in AnnRecallSpec).
    */
  def lshMultiProbeTopK(emb: DataFrame, queryId: Long, k: Int,
      maxHamming: Int = 1): DataFrame =
    corpusTopK(emb, queryId, k)(lshTopKBatch(emb, _, k, maxHamming))

  /** Materialize the ANN-ready LSH layout: quantized vectors partitioned
    * on disk by sign-bucket id (`.../bucket=N/`). The multi-probe
    * `bit_count(XOR)` filter in [[lshMultiProbeTopK]] is a cheap one-pass
    * filter but still SCANS the full corpus; on this layout the probe set
    * becomes an explicit partition list, so a query reads ONLY the probed
    * directories — C(p, ≤h) of 2^p at 100 TB. The quantized vector is
    * stored so queries skip re-quantization.
    */
  /** Layout metadata sidecar (`_graft_num_planes`, underscore-prefixed
    * so Spark's parquet reader ignores it like `_SUCCESS`): records the
    * `numPlanes` a bucketed layout was written with, so a reader called
    * with a mismatched value fails loudly instead of silently probing
    * wrong buckets (an 8-plane layout probed with the 6-plane default
    * matches only vectors whose planes 6-7 both dot negative and misses
    * every distance-1 flip of those planes — plausible-looking, wrong).
    * Absent sidecar (a pre-metadata layout) is accepted as-is.
    */
  private val PlanesMetaName = "_graft_num_planes"

  private def writePlanesMeta(spark: org.apache.spark.sql.SparkSession,
      path: String, numPlanes: Int): Unit = {
    val p = new org.apache.hadoop.fs.Path(path, PlanesMetaName)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(numPlanes.toString.getBytes("UTF-8")) finally out.close()
  }

  /** [[writePlanesMeta]] only when no sidecar exists — the append-mode
    * variant for streaming maintenance, where an existing sidecar is the
    * authority on how the already-written buckets were keyed.
    */
  private def writePlanesMetaIfAbsent(spark: org.apache.spark.sql.SparkSession,
      path: String, numPlanes: Int): Unit = {
    val p = new org.apache.hadoop.fs.Path(path, PlanesMetaName)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) writePlanesMeta(spark, path, numPlanes)
  }

  private def requirePlanesMatch(spark: org.apache.spark.sql.SparkSession,
      path: String, numPlanes: Int): Unit = {
    val p = new org.apache.hadoop.fs.Path(path, PlanesMetaName)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) {
      val in = fs.open(p)
      val stored =
        try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
          "UTF-8").trim
        finally in.close()
      require(stored == numPlanes.toString,
        s"layout at $path was written with numPlanes=$stored but is being " +
          s"probed with numPlanes=$numPlanes — the probe ball would " +
          s"silently miss buckets; pass numPlanes=$stored")
    }
  }

  def writeLshPartitioned(emb: DataFrame, path: String,
      numPlanes: Int = NumPlanes): Unit = {
    emb.select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .withColumn("bucket", lshBucket(col("qv"), numPlanes = numPlanes))
      .write.partitionBy("bucket").mode("overwrite").parquet(path)
    writePlanesMeta(emb.sparkSession, path, numPlanes) // after the overwrite
  }

  /** Driver-side LSH bucket of a quantized vector — the same integer
    * dot-product signs over the same first-`length` weights as the
    * [[lshBucket]] Column expression, so a vector's driver bucket and
    * stored bucket always agree (both sides reject vectors longer than
    * `dims` — see [[lshBucket]]).
    */
  def lshBucketOf(qv: Seq[Long], dims: Int = 64, numPlanes: Int = NumPlanes): Long = {
    require(qv.length <= dims,
      s"lshBucketOf: vector longer than $dims dims: ${qv.length}")
    (0 until numPlanes).map { p =>
      val dot = qv.iterator.zipWithIndex
        .map { case (x, j) => x * planeWeight(p, j) }.sum
      if (dot >= 0) 1L << p else 0L
    }.sum
  }

  /** Multi-probe LSH top-k over a [[writeLshPartitioned]] layout:
    * [[lshTopKBatchPartitioned]] over the one-row query set, so the scan
    * prunes to the query's probe ball (`PartitionFilters`, plan-asserted
    * in AnnRecallSpec). Candidates, scores, and ordering are identical to
    * [[lshMultiProbeTopK]] on the same corpus.
    *
    * AT SCALE pass `queryVec` (the already-quantized query — external
    * queries are usually not corpus members anyway): the `queryId`
    * fallback is a convenience point-lookup that, while a pushed data
    * filter, still lists/touches every partition directory once.
    */
  def lshTopKPartitioned(spark: org.apache.spark.sql.SparkSession, path: String,
      queryId: Long, k: Int, maxHamming: Int = 1,
      numPlanes: Int = NumPlanes,
      queryVec: Option[Seq[Long]] = None): DataFrame =
    oneQuery(layoutQuery(spark, path, queryId, queryVec), k,
      s"query vector $queryId not found in layout $path")(
      lshTopKBatchPartitioned(spark, path, _, k, maxHamming, numPlanes))

  /** The quantized-layout projection shared by the batch writer and the
    * streaming index maintainer: (vec_id, code `array<tinyint>`, scale m,
    * true norm², LSH sign-bucket).
    */
  private def quantizedLayoutRows(emb: DataFrame, numPlanes: Int): DataFrame =
    emb.select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .withColumn("m", array_max(transform(col("qv"), x => abs(x))))
      .select(col("vec_id"),
        transform(int8Codes(col("qv"), col("m")), x => x.cast("byte"))
          .as("code"),
        col("m"), qnorm2(col("qv")).as("nrm2"),
        lshBucket(col("qv"), numPlanes = numPlanes).as("bucket"))

  /** Materialize the COMPRESSED partitioned ANN layout — the shape a
    * 100 TB index actually stores: int8 codes (`array<tinyint>`, one
    * byte per dimension), the per-vector scale and true squared norm,
    * partitioned on disk by LSH sign-bucket. A probe reads only the
    * probed directories AND only ~dims bytes + two longs per vector —
    * the full float embeddings stay in the primary store, touched only
    * for the shortlist rerank. No `qv` column on purpose: storing it
    * would silently quadruple the scan the layout exists to shrink.
    */
  def writeLshQuantized(emb: DataFrame, path: String,
      numPlanes: Int = NumPlanes): Unit = {
    quantizedLayoutRows(emb, numPlanes)
      .write.partitionBy("bucket").mode("overwrite").parquet(path)
    writePlanesMeta(emb.sparkSession, path, numPlanes) // after the overwrite
  }

  /** STREAMING maintenance of the [[writeLshQuantized]] layout — the
    * "index freshness" story at 100 TB: new embeddings append to the
    * compressed partitioned index as they arrive instead of rebuilding
    * it. Each micro-batch lands under `out_batch=N/bucket=M` (its OWN
    * out_batch partition, overwritten on replay — the same idempotence-
    * by-overwrite contract as [[graft.streaming.CanStream
    * .partitionedParquetSink]]), so the directory tree stays
    * hive-discoverable and [[quantizedTopKPruned]] works UNCHANGED on a
    * live index: `bucket` is still a partition column at every nesting
    * level, so probe pruning survives; the extra `out_batch` column is
    * dropped by the reader's projection.
    *
    * Long-running streams accumulate O(batches) file sets — fold them
    * with [[compactLshIndex]] between drains.
    */
  def streamingLshQuantized(emb: DataFrame, path: String, checkpoint: String,
      numPlanes: Int = NumPlanes)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // Streaming APPENDS to an existing layout (unlike writeLsh*, whose
    // mode=overwrite wipes the old bucketing along with the sidecar), so
    // the sidecar must be verified, not clobbered: resuming a stream with
    // a different numPlanes would rewrite the sidecar while existing
    // out_batch=*/compacted dirs keep the old plane bucketing — readers
    // would then pass requirePlanesMatch and probe wrong buckets, the
    // exact silent miss the sidecar exists to prevent. Verify first;
    // write only when absent. Batches land under out_batch=N and never
    // touch the root, so the sidecar survives every micro-batch/replay.
    requirePlanesMatch(emb.sparkSession, path, numPlanes)
    writePlanesMetaIfAbsent(emb.sparkSession, path, numPlanes)
    emb.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        quantizedLayoutRows(batch, numPlanes)
          .write.partitionBy("bucket").mode("overwrite")
          .parquet(s"$path/out_batch=$batchId")
      }
      .start()
  }

  /** Fold a [[streamingLshQuantized]] index's finalized batches into a
    * compacted base WITHOUT losing the `bucket=N` partition dirs (the
    * pruning the layout exists for) — delegates to the staged-manifest
    * compaction of [[graft.streaming.CanStream.compactParquetSink]]
    * with `bucket` as a preserved partition column. Run between drains.
    */
  def compactLshIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, targetBytesPerFile: Long = 128L << 20): Unit =
    graft.streaming.CanStream.compactParquetSink(spark, path,
      targetBytesPerFile, partitionCols = Seq("bucket"))

  /** Driver-side int8 codes of a quantized vector — the same integer
    * round-half-up as the [[int8Codes]] Column expression, so external
    * query codes and stored codes always agree.
    */
  def int8CodesOf(qv: Seq[Long]): (Array[Byte], Long) = {
    val m = if (qv.isEmpty) 0L else qv.iterator.map(math.abs).max
    val codes = qv.iterator.map { x =>
      if (m == 0L) 0L else math.signum(x) * ((math.abs(x) * 254 + m) / (m * 2))
    }.map(_.toByte).toArray
    (codes, m)
  }

  /** Multi-probe top-k over a [[writeLshQuantized]] layout: the probe
    * ball prunes to the probed bucket directories (like
    * [[lshTopKPartitioned]]) and the scan scores CODES — [[qdot]] over
    * `array<tinyint>` stays a codegen byte loop — rescaled by both
    * scales against the stored true norms, exactly [[quantizedTopK]]'s
    * approximate cosine. The query must arrive as its quantized vector
    * (`queryVec`): the layout deliberately has no float vectors to look
    * it up from, which is also why there is no exact-score column here
    * — the rerank fetches the shortlist's full vectors from the primary
    * store. Zero-norm vectors guard to 0 like [[quantizedTopK]].
    */
  def quantizedTopKPruned(spark: org.apache.spark.sql.SparkSession,
      path: String, queryVec: Seq[Long], excludeId: Long, k: Int,
      maxHamming: Int = 1, numPlanes: Int = NumPlanes): DataFrame = {
    requirePlanesMatch(spark, path, numPlanes)
    val (qCodes, qm) = int8CodesOf(queryVec)
    val qn = queryVec.iterator.map(x => x * x).sum
    require(qn != 0L, "zero-norm query vector")
    val qbucket = lshBucketOf(queryVec, numPlanes = numPlanes)
    val probes = (0 to maxHamming).flatMap(h =>
      (0 until numPlanes).combinations(h).map(
        _.foldLeft(qbucket)((b, i) => b ^ (1L << i))))
    spark.read.parquet(path)
      .filter(col("bucket").isin(probes: _*) && col("vec_id") =!= excludeId)
      .select(col("vec_id"),
        when(col("m") === 0, lit(0.0)).otherwise(
          qdot(col("code"), typedLit(qCodes.toSeq)).cast("double") *
            col("m") * lit(qm) /
            (lit(16129.0) * sqrt(col("nrm2").cast("double")) *
              sqrt(lit(qn).cast("double")))).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(k)
  }

  /** Materialize the IVF layout: quantized vectors partitioned by inverted
    * list (`.../data/cent_id=N/`) plus the codebook at `<path>/codebook`
    * (k × dims longs — driver-sized by definition). Default codebook is
    * the deterministic first-`centroids` one ([[ivfTopK]] parity); pass
    * a trained [[kmeansCodebook]] for the k-means path — the layout and
    * probe mechanics are identical.
    */
  def writeIvfPartitioned(emb: DataFrame, path: String, centroids: Int = 16,
      codebook: Option[DataFrame] = None): Unit = {
    val q = emb.select(col("vec_id"), quantize(col("embedding")).as("qv"))
    val cents = codebook.getOrElse(
      q.filter(col("vec_id") < centroids)
        .select(col("vec_id").as("cent_id"), col("qv").as("cv")))
    cents.coalesce(1).write.mode("overwrite").parquet(s"$path/codebook")
    assignToCentroids(q, cents)
      .write.partitionBy("cent_id").mode("overwrite").parquet(s"$path/data")
  }

  /** Multi-probe IVF top-k over a [[writeIvfPartitioned]] layout:
    * [[ivfTopKBatchPartitioned]] over the one-row query set — probe
    * centroids picked against the stored codebook (bit-identical to
    * [[ivfMultiProbeTopK]]'s pick) and pushed as an IN filter on the
    * `cent_id` partition column, so the scan reads only the probed
    * inverted lists. AT SCALE pass `queryVec` — see [[lshTopKPartitioned]].
    */
  def ivfTopKPartitioned(spark: org.apache.spark.sql.SparkSession, path: String,
      queryId: Long, k: Int, nprobe: Int = 2,
      queryVec: Option[Seq[Long]] = None): DataFrame =
    oneQuery(layoutQuery(spark, s"$path/data", queryId, queryVec), k,
      s"query vector $queryId not found in layout $path", nonZero = true)(
      ivfTopKBatchPartitioned(spark, path, _, k, nprobe))

  /** Materialize the IVF+PQ layout — the full FAISS-IVFPQ index shape:
    * inverted lists as `cent_id` partition directories, each vector
    * stored as `m` PQ codes over its RESIDUAL (vector − assigned
    * centroid) plus its true squared norm — ~`m` bytes + one long per
    * vector on disk, no vector column at all (the
    * [[writeLshQuantized]] reasoning). Residual encoding is what makes
    * IVFPQ beat flat PQ: within an inverted list the residuals are
    * small and centered, so 16 centroids per subspace rank them far
    * better than they rank raw corpus geometry.
    *
    * The PQ codebook trains on STRIDE-SAMPLED residuals (the
    * [[pqCodebook]] lesson: a first-k sample sees one cluster's
    * residual geometry); both codebooks persist with the layout
    * (`<path>/codebook`, `<path>/pq` — k×dims and m×kCent×sub longs,
    * driver-sized by definition). Encoding is one map-only pass whose
    * inner loop is the native [[graft.plans.PqEncode]] codegen loop.
    */
  def writeIvfPq(emb: DataFrame, path: String, centroids: Int = 16,
      m: Int = 8, kCent: Int = 16, dims: Int = 64, stride: Long = 1L,
      codebook: Option[DataFrame] = None): Unit = {
    require(dims % m == 0, s"dims=$dims not divisible by m=$m subspaces")
    require(stride >= 1, s"stride must be >= 1, got $stride")
    // signed-byte storage: a code >= 128 would wrap negative and index
    // the ADC tables from the wrong end at query time
    require(kCent <= 128, s"kCent=$kCent > 128 does not fit a signed byte")
    // Degeneracy guard: the default coarse codebook seeds from
    // vec_id < centroids, and the residual sample always includes
    // vec_id 0 — a centroid, whose residual is the zero vector. With
    // stride < centroids MANY sampled ids are centroids (at stride=1,
    // ALL of them), and the PQ codebook trains on zeros: every vector
    // encodes to code 0 and ranking silently collapses to inverse-norm
    // order. Require the stride to clear the seed range (at most the
    // one zero residual from vec_id 0), or an explicit codebook.
    require(codebook.isDefined || stride >= centroids,
      s"stride=$stride < centroids=$centroids trains the residual PQ " +
        s"codebook mostly on the coarse centroids' own zero residuals " +
        s"(fully degenerate at stride=1); use stride >= $centroids or " +
        s"pass an explicit codebook")
    val sub = dims / m
    val spark = emb.sparkSession
    import spark.implicits._
    val q = emb.select(col("vec_id"), quantize(col("embedding")).as("qv"))
    val cents = codebook.getOrElse(
      q.filter(col("vec_id") < centroids)
        .select(col("vec_id").as("cent_id"), col("qv").as("cv")))
    val cb = cents.select(col("cent_id"), col("cv")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq.sortBy(_._1)
    // the codebook was JUST collected — write the driver rows back out
    // instead of re-running the corpus scan that derived them
    cb.toDF("cent_id", "cv").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/codebook")
    val cvMap = map_from_arrays(
      typedLit(cb.map(_._1)), typedLit(cb.map(_._2)))
    // assigned feeds TWO consumers (the stride-sample collect and the
    // encode write) — persist, or the quantize+assign pass over the
    // whole corpus runs twice
    val assigned = assignToCentroidsLit(q, cb)
      .withColumn("res",
        zip_with(col("qv"), element_at(cvMap, col("cent_id")), (a, b) => a - b))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val sampled = assigned
        .filter(col("vec_id") % stride === 0 && col("vec_id") < kCent * stride)
        .select(col("vec_id"), col("res")).collect().sortBy(_.getLong(0))
        .map(_.getSeq[Long](1).toArray)
      require(sampled.length == kCent,
        s"need vec_ids {0, $stride, …, ${(kCent - 1) * stride}} for the " +
          s"stride-$stride residual codebook, found ${sampled.length}")
      val cbRes = Array.tabulate(m)(s => sampled.map(_.slice(s * sub, (s + 1) * sub)))
      val cc2 = cbRes.map(_.map(c => ldot(c, c)))
      (for (s <- 0 until m; c <- 0 until kCent) yield (s, c, cbRes(s)(c).toSeq))
        .toDF("s", "c", "pv").coalesce(1)
        .write.mode("overwrite").parquet(s"$path/pq")
      assigned.select(col("vec_id"),
          transform(graft.plans.PqEncode(col("res"), cbRes, cc2),
            x => x.cast("byte")).as("code"),
          qnorm2(col("qv")).as("nrm2"), col("cent_id"))
        .write.partitionBy("cent_id").mode("overwrite").parquet(s"$path/data")
    } finally { assigned.unpersist(); () }
  }

  /** Pruned ADC top-k over a [[writeIvfPq]] layout: [[ivfPqTopKBatch]]
    * over the one-row query set `(excludeId, queryVec)` — probe lists
    * picked against the stored coarse codebook and pushed as a `cent_id`
    * partition IN filter, each vector scored by the residual-ADC identity
    * `⟨q, v⟩ ≈ ⟨q, c⟩ + Σ_s tab_s[code_s]`. Zero-norm vectors guard to 0;
    * the rerank fetches shortlist vectors from the primary store
    * ([[quantizedTopKPruned]] contract).
    */
  def ivfPqTopKPruned(spark: org.apache.spark.sql.SparkSession, path: String,
      queryVec: Seq[Long], excludeId: Long, k: Int, nprobe: Int = 2,
      m: Int = 8): DataFrame =
    oneQuery(layoutQuery(spark, path, excludeId, Some(queryVec)), k,
      "no query vector", nonZero = true)(ivfPqTopKBatch(spark, path, _, k, nprobe, m))

  /** Build a batch-query relation from corpus members: (query_id, qv)
    * with the vector already quantized — the input contract of the
    * `*TopKBatch` entry points. External (non-corpus) queries just build
    * the same two columns themselves.
    */
  def batchQueries(emb: DataFrame, pred: Column): DataFrame =
    emb.filter(pred)
      .select(col("vec_id").as("query_id"), quantize(col("embedding")).as("qv"))

  /** Per-query top-k rank over a scored candidate relation
    * (query_id, vec_id, score): ONE window partitioned by query — a
    * shuffle of the candidate-bounded set only, never the corpus.
    * row_number (not limit) because limit is global; (score desc, vec_id)
    * is the order the single-query entry points return.
    */
  private def rankPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("query_id", "vec_id", "score")
  }

  /** Broadcast-or-shuffle guard for the batch probe relation — the same
    * conditional-hint pattern as [[Dedup.fuzzyDecontaminate]]: a query SET
    * is small by contract (probes ≪ corpus), but the hint must not be
    * unconditional, because a caller who feeds a corpus-sized query set
    * would otherwise push it through the driver. Above the threshold the
    * same join runs as a shuffle — correct, just no longer map-only on
    * the corpus side.
    */
  private def bjIf(small: Boolean)(df: DataFrame): DataFrame =
    if (small) broadcast(df) else df

  /** The query set (query_id, qv) and whether it is broadcast-sized: at
    * most `maxBroadcastQueries + 1` rows collected in one pass. At or
    * under the bound they come back as a driver-local relation, which the
    * probe-union collect and the candidate join read without re-evaluating
    * the caller's expression (commonly a corpus filter), and no block is
    * left to lose; over it the caller's expression is returned, for each
    * consumer to recompute.
    */
  private def materializedQueries(queries: DataFrame,
      maxBroadcastQueries: Long): (DataFrame, Boolean) = {
    val qs = queries.select(col("query_id"), col("qv"))
    val cap = (math.max(-1L, math.min(maxBroadcastQueries, Int.MaxValue - 1L)) + 1).toInt
    val rows = qs.limit(cap).collect()
    if (rows.length <= maxBroadcastQueries) (localRelation(qs, rows), true)
    else (qs, false)
  }

  /** Batch multi-probe LSH top-k: score a whole query SET in ONE job —
    * the at-scale retrieval shape for matching millions of eval/dedup
    * probes against a corpus, where the single-query entry points
    * ([[lshMultiProbeTopK]]) would cost one driver round-trip and one
    * Spark job per query.
    *
    * Shape: the probe ball of each query (C(p, ≤h) bucket ids, driver-
    * enumerated flip masks XOR'd distributed — never a per-query driver
    * call) joins the bucketed corpus on `bucket`; the probe side is
    * broadcast while the query set is small (guarded — see [[bjIf]]), so
    * the corpus side stays a single map-only scan; exact cosine re-rank
    * runs per query inside ONE window over the candidate-bounded set.
    * Distinct flip masks XOR'd with one fixed bucket stay distinct, so a
    * (query, vector) pair matches at most one probe — no dedup pass.
    *
    * `queries` contract: (query_id, qv) — see [[batchQueries]].
    */
  def lshTopKBatch(emb: DataFrame, queries: DataFrame, k: Int,
      maxHamming: Int = 1, numPlanes: Int = NumPlanes,
      maxBroadcastQueries: Long = 100000L): DataFrame = {
    val (q0, small) = materializedQueries(queries, maxBroadcastQueries)
    val withBucket = emb
      .withColumn("qv", quantize(col("embedding")))
      .withColumn("bucket", lshBucket(col("qv"), numPlanes = numPlanes))
    val probes = lshProbes(q0, maxHamming, numPlanes)
    val cand = withBucket
      .join(bjIf(small)(probes), "bucket")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(col("qv"), col("query_v")).as("score"))
    rankPerQuery(cand, k)
  }

  /** (query_id, query_v, bucket) — one row per probed bucket per query:
    * the hamming-≤h ball around each query's sign-bucket, flip masks
    * enumerated driver-side (C(p, ≤h) longs), applied as a distributed
    * explode.
    */
  private def lshProbes(queries: DataFrame, maxHamming: Int,
      numPlanes: Int): DataFrame = {
    val masks = (0 to maxHamming).flatMap(h =>
      (0 until numPlanes).combinations(h).map(
        _.foldLeft(0L)((b, i) => b ^ (1L << i))))
    queries
      .withColumn("qbucket", lshBucket(col("qv"), numPlanes = numPlanes))
      .select(col("query_id"), col("qv").as("query_v"),
        explode(transform(typedLit(masks),
          m => col("qbucket").bitwiseXOR(m))).as("bucket"))
  }

  /** Batch multi-probe LSH top-k over a [[writeLshPartitioned]] layout:
    * [[lshTopKBatch]]'s one-job shape PLUS static partition pruning — the
    * union of all queries' probe balls (bounded by min(|Q|·C(p,≤h), 2^p)
    * DISTINCT bucket ids) is collected in ONE aggregation job over the
    * probe relation (query-set-sized, never per-query) and pushed as an
    * IN filter on the partition column, so the single corpus scan reads
    * only the probed directories. If the union exceeds
    * `maxProbeLiterals` the static filter is skipped — at that point the
    * queries collectively probe most of the index anyway and the
    * bucket-equi-join still bounds candidates.
    */
  def lshTopKBatchPartitioned(spark: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, k: Int, maxHamming: Int = 1,
      numPlanes: Int = NumPlanes, maxBroadcastQueries: Long = 100000L,
      maxProbeLiterals: Int = 4096): DataFrame = {
    requirePlanesMatch(spark, path, numPlanes)
    val (q0, small) = materializedQueries(queries, maxBroadcastQueries)
    val layout = spark.read.parquet(path)
    val probes = lshProbes(q0, maxHamming, numPlanes)
    val probedBuckets =
      probes.select("bucket").distinct().limit(maxProbeLiterals + 1).collect()
        .map(_.getLong(0)).toSeq
    val pruned =
      if (probedBuckets.length <= maxProbeLiterals)
        layout.filter(col("bucket").isin(probedBuckets: _*))
      else layout
    val cand = pruned
      .join(bjIf(small)(probes), "bucket")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(col("qv"), col("query_v")).as("score"))
    rankPerQuery(cand, k)
  }

  /** Batch brute-force top-k: exact ground truth for a whole query set in
    * ONE job — corpus scan × broadcast probe fan-out + one window. This
    * is the recall-evaluation baseline of an ANN pipeline at scale: the
    * per-row cost is |Q| dot products (no candidate bound — that is what
    * "exact" costs), but it is still one scan and zero per-query driver
    * work, where N [[bruteForceTopK]] calls are N scans. Keep |Q| small
    * (an eval probe sample); the guarded broadcast demotes to a shuffle
    * above the threshold like every batch entry point.
    */
  def bruteForceTopKBatch(emb: DataFrame, queries: DataFrame, k: Int,
      maxBroadcastQueries: Long = 100000L): DataFrame = {
    val (q0, small) = materializedQueries(queries, maxBroadcastQueries)
    val q = bjIf(small)(q0.select(col("query_id"), col("qv").as("query_v")))
    val cand = emb
      .withColumn("qv", quantize(col("embedding")))
      .crossJoin(q)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(col("qv"), col("query_v")).as("score"))
    rankPerQuery(cand, k)
  }

  /** Batch PQ top-k: the whole query set scores in ONE job, like
    * [[lshTopKBatch]] — no per-query driver work, no per-query jobs.
    * Each query's ADC tables (`m × kCent` dot products against
    * the literal codebook) are computed DISTRIBUTED as a projection of
    * the query relation itself, then ride the (size-guarded) broadcast
    * into the scan; per (vector, query) pair the score costs `m`
    * `element_at` lookups into the query's table array and one divide
    * — the corpus-side vector arithmetic happened once, at encode.
    *
    * Like [[bruteForceTopKBatch]] this scans corpus × |Q| pairs — PQ's
    * win is bytes per vector (codes + one norm instead of the float
    * array), not candidate pruning; at 100 TB it composes with the
    * LSH/IVF partitioned layouts, which cut the candidate set BEFORE
    * this scoring shape is applied to it.
    *
    * Output: (query_id, vec_id, score) with `score` the APPROXIMATE
    * cosine (rank-defining, like the other batch entry points —
    * [[recallAtK]] against [[bruteForceTopKBatch]] measures the
    * accuracy); zero-norm pairs guard to 0 like [[quantizedTopK]].
    */
  def pqTopKBatch(emb: DataFrame, queries: DataFrame, k: Int, m: Int = 8,
      kCent: Int = 16, dims: Int = 64, stride: Long = 1L,
      maxBroadcastQueries: Long = 100000L): DataFrame = {
    val sub = dims / m
    val cb = pqCodebook(emb, m, kCent, dims, stride)
    val cc2 = cb.map(_.map(c => ldot(c, c)))
    val (q0, small) = materializedQueries(queries, maxBroadcastQueries)
    val tabs = array((for (s <- 0 until m; c <- 0 until kCent)
      yield qdot(slice(col("qv"), s * sub + 1, sub),
        typedLit(cb(s)(c).toSeq))): _*)
    val q = bjIf(small)(q0.select(col("query_id"), tabs.as("_tabs"),
      qnorm2(col("qv")).as("_qn")))
    val coded = emb.select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .withColumn("codes", graft.plans.PqEncode(col("qv"), cb, cc2))
      .withColumn("_vn", qnorm2(col("qv")))
    val approxDot = (0 until m).map { s =>
      element_at(col("_tabs"), lit(s * kCent) + col("codes")(s) + 1)
    }.reduce(_ + _)
    val cand = coded.crossJoin(q)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        when(col("_vn") === 0 || col("_qn") === 0, lit(0.0)).otherwise(
          approxDot.cast("double") /
            (sqrt(col("_vn").cast("double")) * sqrt(col("_qn").cast("double"))))
          .as("score"))
    rankPerQuery(cand, k)
  }

  /** Hard-negative mining — the training-data op for contrastive
    * retrievers: per query, the documents the PRODUCTION retriever
    * ranks highest that are NOT true neighbors. Shortlist = PQ-ADC
    * batch top-(kPos + nNeg) (the cheap tier a 100 TB serving stack
    * actually runs); positives = exact-cosine batch top-kPos; negatives
    * = shortlist ∖ positives, re-ranked by retriever score and cut to
    * nNeg. Both inputs are top-k-bounded relations, so the anti-join
    * and the final window cost nothing at corpus scale — the expensive
    * parts are the two batch retrievals, each ONE job for the whole
    * query set.
    *
    * A query whose shortlist is fully swallowed by the positives yields
    * fewer than nNeg rows (never padded — padding would fabricate
    * negatives).
    *
    * Output: (query_id, vec_id, score) — `score` is the RETRIEVER's
    * approximate score, the quantity hard-negative training calibrates
    * against.
    */
  def hardNegatives(emb: DataFrame, queries: DataFrame, kPos: Int,
      nNeg: Int, m: Int = 8, kCent: Int = 16, dims: Int = 64,
      stride: Long = 1L, maxBroadcastQueries: Long = 100000L): DataFrame = {
    require(kPos >= 1 && nNeg >= 1, s"kPos=$kPos and nNeg=$nNeg must be >= 1")
    val shortlist = pqTopKBatch(emb, queries, kPos + nNeg, m, kCent, dims,
      stride, maxBroadcastQueries)
    val truth = bruteForceTopKBatch(emb, queries, kPos, maxBroadcastQueries)
    rankPerQuery(
      shortlist.join(truth.select(col("query_id"), col("vec_id")),
        Seq("query_id", "vec_id"), "left_anti"),
      nNeg)
  }

  /** Recall@k of an approximate batch top-k against an exact one — the
    * measurement operator that closes the ANN loop (the AnnRecallSpec
    * methodology as a first-class DataFrame op): per query,
    * |approx ∩ truth| / |truth|. Both inputs are (query_id, vec_id, ...)
    * relations as returned by the `*TopKBatch` entry points; the join is
    * an equi-join on (query_id, vec_id) — top-k-sized relations, so this
    * costs nothing at any corpus size. Queries with no truth rows are
    * absent from the output (recall undefined).
    */
  def recallAtK(approx: DataFrame, truth: DataFrame): DataFrame = {
    val a = approx.select(col("query_id"), col("vec_id"))
    val t = truth.select(col("query_id"), col("vec_id"))
    val hits = t.join(a, Seq("query_id", "vec_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
    t.groupBy("query_id").agg(count(lit(1)).as("n_truth"))
      .join(hits, Seq("query_id"), "left_outer")
      .select(col("query_id"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_truth"))
          .as("recall"))
  }

  /** Mean-reciprocal-rank companion to [[recallAtK]]: per query, the
    * rank of the FIRST true neighbor in the approximate list and its
    * reciprocal in exact integer micro-units (`round(1e6/rank)` — one
    * correctly-rounded division per row, the qs_hybrid_rrf reasoning,
    * so the metric is bit-identical across engines; averaging is left
    * to the caller as an exact integer sum). Queries with no hit get
    * rank NULL and rr 0 — absent hits must not silently vanish from a
    * quality report. Both inputs are top-k-bounded `(query_id, vec_id,
    * …)` relations; everything here is top-k-sized.
    */
  def mrrAtK(approx: DataFrame, truth: DataFrame): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("vec_id"))
    val first = approx.withColumn("rnk", row_number().over(w))
      .join(truth.select(col("query_id"), col("vec_id")),
        Seq("query_id", "vec_id"), "left_semi")
      .groupBy("query_id").agg(min("rnk").cast("long").as("first_hit_rank"))
    truth.select("query_id").distinct()
      .join(first, Seq("query_id"), "left")
      .select(col("query_id"), col("first_hit_rank"),
        coalesce(round(lit(1e6) / col("first_hit_rank")).cast("long"), lit(0L))
          .as("rr_micro"))
  }

  /** Batch multi-probe IVF top-k: the IVF analogue of [[lshTopKBatch]].
    * The codebook (k × dims longs — driver-sized by contract, same as
    * [[assignToCentroids]]) is collected once; each query's `nprobe`
    * highest-cosine centroids are picked DISTRIBUTED by a literal-codebook
    * projection — an array of (cc, -cent_id) structs sorted descending
    * (cc desc, cent_id asc; the cent_id negation keeps the tie-break
    * ascending without negating doubles, which would mint -0.0s the
    * oracle's ORDER BY never sees), sliced to `nprobe`, exploded. The
    * corpus is assigned map-side ([[assignToCentroidsLit]], zero
    * exchange), candidates come from an equi-join on `cent_id`, and ONE
    * window ranks all queries. At `nprobe = 1` a query's probe IS its
    * assigned centroid (same exact-integer dot, same double cosine, same
    * lowest-id tie break as [[assignToCentroidsLit]]), which is what
    * [[ivfTopK]] and [[ivfKmeansTopK]] rely on.
    */
  def ivfTopKBatch(emb: DataFrame, queries: DataFrame, k: Int,
      centroids: Int = 16, nprobe: Int = 2,
      maxBroadcastQueries: Long = 100000L,
      codebook: Option[DataFrame] = None): DataFrame = {
    val (q0, small) = materializedQueries(queries, maxBroadcastQueries)
    val q = emb.select(col("vec_id"), quantize(col("embedding")).as("qv"))
    // default codebook = deterministic first-k ([[writeIvfPartitioned]]
    // parity); pass a trained [[kmeansCodebook]] for the k-means path —
    // probe mechanics identical, only training differs
    val cb = codebook
      .map(_.select(col("cent_id"), col("cv")))
      .getOrElse(q.filter(col("vec_id") < centroids)
        .select(col("vec_id"), col("qv")))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq.sortBy(_._1)
    val assigned = assignToCentroidsLit(q, cb)
    val probes = ivfProbes(q0, cb, nprobe)
    val cand = assigned
      .join(bjIf(small)(probes), "cent_id")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(col("qv"), col("query_v")).as("score"))
    rankPerQuery(cand, k)
  }

  /** (query_id, query_v, cent_id) — each query's `nprobe` highest-cosine
    * centroids from a literal codebook, computed map-side (no per-query
    * driver work). Centroid norms are precomputed with the same Long-exact
    * sum + Math.sqrt as [[assignToCentroidsLit]], so a query's top probe
    * is its assigned centroid bit-for-bit.
    */
  private def ivfProbes(queries: DataFrame, cb: Seq[(Long, Seq[Long])],
      nprobe: Int): DataFrame = {
    require(cb.nonEmpty, "ivfProbes: empty codebook")
    val qn = sqrt(qnorm2(col("qv")).cast("double"))
    val entries = cb.map { case (id, cv) =>
      val cvn = math.sqrt(cv.map(x => x * x).sum.toDouble)
      require(cvn != 0.0, s"zero-norm centroid $id in the IVF codebook")
      struct(
        (qdot(col("qv"), typedLit(cv)).cast("double") / (qn * lit(cvn))).as("cc"),
        lit(-id).as("ncid"))
    }
    queries
      .select(col("query_id"), col("qv").as("query_v"),
        explode(slice(sort_array(array(entries: _*), asc = false), 1, nprobe)).as("pr"))
      .select(col("query_id"), col("query_v"),
        (-col("pr.ncid")).as("cent_id"))
  }

  /** Batch multi-probe IVF top-k over a [[writeIvfPartitioned]] layout:
    * stored codebook collected once (driver-sized by definition), probe
    * lists picked distributed per query, and the UNION of probed
    * `cent_id`s (≤ codebook size) pushed as a static partition IN filter —
    * one pruned scan of only the probed inverted lists for the whole
    * query set.
    */
  def ivfTopKBatchPartitioned(spark: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, k: Int, nprobe: Int = 2,
      maxBroadcastQueries: Long = 100000L): DataFrame = {
    val (q0, small) = materializedQueries(queries, maxBroadcastQueries)
    val cb = spark.read.parquet(s"$path/codebook").collect()
      .map(r => (r.getLong(r.fieldIndex("cent_id")),
        r.getSeq[Long](r.fieldIndex("cv")))).toSeq.sortBy(_._1)
    val layout = spark.read.parquet(s"$path/data")
    val probes = ivfProbes(q0, cb, nprobe)
    // the probe union is bounded by the codebook size — always literal-safe
    val probedCents = probes.select("cent_id").distinct().collect()
      .map(_.getLong(0)).toSeq
    val cand = layout.filter(col("cent_id").isin(probedCents: _*))
      .join(bjIf(small)(probes), "cent_id")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(col("qv"), col("query_v")).as("score"))
    rankPerQuery(cand, k)
  }

  /** Batch ADC retrieval over a [[writeIvfPq]] layout — the full
    * 100 TB batch-serving shape: a query SET scores the compressed
    * partitioned index in ONE job. Probe lists come from [[ivfProbes]]
    * (distributed, bit-identical to [[ivfTopKBatchPartitioned]]'s); the probe
    * UNION (codebook-bounded) pushes as a static `cent_id` partition IN
    * filter; each query's `m × kCent` ADC tables, its norm, and its
    * per-probed-list `⟨q, c⟩` constant are computed DISTRIBUTED as a
    * projection of the probe relation riding the size-guarded broadcast
    * (no per-query driver work, no per-query jobs — the [[pqTopKBatch]]
    * lesson); the scan then costs `m` array indexings + one add + one
    * divide per (query, vector) over `m` bytes of I/O.
    */
  def ivfPqTopKBatch(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, k: Int, nprobe: Int = 2, m: Int = 8,
      maxBroadcastQueries: Long = 100000L): DataFrame = {
    val (q0, small) = materializedQueries(queries, maxBroadcastQueries)
    val cb = spark.read.parquet(s"$path/codebook").collect()
      .map(r => (r.getLong(r.fieldIndex("cent_id")),
        r.getSeq[Long](r.fieldIndex("cv")))).toSeq.sortBy(_._1)
    val pqRows = spark.read.parquet(s"$path/pq").collect()
      .map(r => ((r.getInt(r.fieldIndex("s")), r.getInt(r.fieldIndex("c"))),
        r.getSeq[Long](r.fieldIndex("pv")))).toMap
    val kCent = pqRows.keys.map(_._2).max + 1
    val dims = cb.head._2.length
    require(dims % m == 0, s"dims=$dims not divisible by m=$m")
    val sub = dims / m
    val probes = ivfProbes(q0, cb, nprobe)
    // the probe union is bounded by the codebook size — always literal-safe
    val probedCents = probes.select("cent_id").distinct().collect()
      .map(_.getLong(0)).toSeq
    val cvMap = map_from_arrays(
      typedLit(cb.map(_._1)), typedLit(cb.map(_._2)))
    // the m·kCent ADC table computes ONCE per query on the query
    // relation (q0: one row per query), not on the exploded probe rows —
    // on probes it would run nprobe× per query; the per-probe ⟨q,c⟩ is
    // one dot and stays on the probe rows
    val tabs = array((for (s <- 0 until m; c <- 0 until kCent)
      yield qdot(slice(col("qv"), s * sub + 1, sub),
        typedLit(pqRows((s, c)).toSeq))): _*)
    val perQuery = q0.select(col("query_id"),
      tabs.as("_tabs"), qnorm2(col("qv")).as("_qn"))
    val enriched = probes.select(col("query_id"), col("cent_id"),
        qdot(col("query_v"), element_at(cvMap, col("cent_id"))).as("_qc"))
      .join(perQuery, "query_id")
    val adc = (0 until m).map { s =>
      element_at(col("_tabs"), lit(s * kCent) + col("code")(s).cast("int") + 1)
    }.reduce(_ + _)
    val cand = spark.read.parquet(s"$path/data")
      .filter(col("cent_id").isin(probedCents: _*))
      .join(bjIf(small)(enriched), "cent_id")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        when(col("nrm2") === 0 || col("_qn") === 0, lit(0.0)).otherwise(
          (adc + col("_qc")).cast("double") /
            (sqrt(col("nrm2").cast("double")) * sqrt(col("_qn").cast("double"))))
          .as("score"))
    rankPerQuery(cand, k)
  }

  /** Assign every vector to its highest-cosine centroid from an explicit
    * codebook `cents(cent_id, cv)` (ties → lowest cent_id). The codebook
    * is k × dims longs — driver-sized by contract — so it is collected
    * and the assignment runs through [[assignToCentroidsLit]]: a pure
    * map-side argmax with ZERO exchange. (The previous form — broadcast
    * cross join + a `row_number` window over vec_id — shuffled the whole
    * corpus by vec_id just to rank k rows per vector; at 100 TB that is a
    * full-corpus shuffle per assignment and per k-means round, for an
    * argmax a projection can compute.)
    */
  def assignToCentroids(q: DataFrame, cents: DataFrame): DataFrame = {
    val cb = cents.select(col("cent_id"), col("cv")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq
    assignToCentroidsLit(q, cb)
  }

  /** Map-side argmax-cosine assignment against a literal codebook: k
    * codegen dot products per row assembled into ONE array, `array_max`
    * for the maximum, and `array_position`'s first-occurrence rule for
    * the (cosine desc, cent_id asc) tie break. Each cosine is computed
    * exactly once per row — a `greatest` + first-match `when`-chain form
    * re-evaluates the max (all k dots) inside every branch condition,
    * because codegen subexpression elimination deliberately skips
    * conditionally-executed subtrees (measured ~2.4× slower on the IVF
    * gate). Value-identical to the window form both replaced, including
    * the edge cases: an all-null cosine row (null qv) falls through
    * `array_position`'s null result to the lowest cent_id via coalesce;
    * a zero-norm row throws under ANSI division (the session default —
    * identically in the window form, which computes the same division),
    * and with ANSI off its all-NaN cosines resolve to the lowest cent_id
    * because Spark ranks NaN above every double and defines `NaN = NaN`
    * as true for `array_max`/`array_position`. Centroid norms are
    * precomputed driver-side with the same Long-exact sum and
    * `Math.sqrt` the distributed expression uses, so the cosine bits
    * match [[cosine]] exactly.
    */
  def assignToCentroidsLit(q: DataFrame, cents: Seq[(Long, Seq[Long])]): DataFrame = {
    require(cents.nonEmpty, "assignToCentroidsLit: empty codebook")
    val sorted = cents.sortBy(_._1)
    val qn = sqrt(qnorm2(col("qv")).cast("double"))
    val ccs = sorted.map { case (id, cv) =>
      val cvn = math.sqrt(cv.map(x => x * x).sum.toDouble)
      (id, qdot(col("qv"), typedLit(cv)).cast("double") / (qn * lit(cvn)))
    }
    val ids = typedLit(sorted.map(_._1))
    val arr = array(ccs.map(_._2): _*)
    val cid = coalesce(
      element_at(ids, array_position(arr, array_max(arr)).cast("int")),
      lit(sorted.head._1))
    q.select(col("vec_id"), col("qv"), cid.as("cent_id"))
  }

  /** Deterministic Lloyd's k-means over quantized vectors: init = first-k
    * codebook, then `iters` rounds of (argmax-cosine assignment →
    * element-wise floor-mean centroid update). All arithmetic is exact
    * (integer sums, `floor` of a deterministic double division), so a SQL
    * oracle replays the training bit-for-bit — this is a real trained
    * codebook, not a stand-in. Empty clusters keep their previous centroid.
    *
    * Each round is one broadcast-assign scan plus one (cent_id, dim)
    * aggregation — both fully parallel; the codebook (k × dims longs) stays
    * driver/broadcast-sized.
    */
  def kmeansCodebook(emb: DataFrame, k: Int, iters: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val q = emb.select(col("vec_id"), quantize(col("embedding")).as("qv"))
    // The codebook is k × dims longs — driver-sized BY DEFINITION, so each
    // round collects it and re-broadcasts a literal relation (the textbook
    // distributed-k-means shape). Keeping the codebook as a lazy plan
    // instead would nest every round's tree inside the next (repeated
    // recomputation) and plan tiny-side joins as sort-merge.
    var cents: Seq[(Long, Seq[Long])] = q.filter(col("vec_id") < k)
      .as[(Long, Seq[Long])].collect().toSeq.sortBy(_._1)
    for (_ <- 0 until iters) {
      // straight to the literal form: the codebook is ALREADY a driver
      // Seq — round-tripping it through a DataFrame just so
      // assignToCentroids can collect it back costs one redundant Spark
      // job per round (and per caller: ivfKmeansTopK, semanticDedup)
      val updated = assignToCentroidsLit(q, cents)
        .select(col("cent_id"), posexplode(col("qv")).as(Seq("dim", "v")))
        .groupBy("cent_id", "dim")
        .agg(floor(sum(col("v")).cast("double") / count(lit(1))).cast("long").as("cv_d"))
        .groupBy("cent_id")
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("cv_d")))),
          x => x.getField("cv_d")).as("cv_new"))
        .as[(Long, Seq[Long])].collect().toMap
      // empty clusters keep their previous centroid
      cents = cents.map { case (id, cv) => (id, updated.getOrElse(id, cv)) }
    }
    cents.toDF("cent_id", "cv")
  }

  /** IVF top-k over a k-means-trained codebook: train, assign, scan only
    * the query's inverted list — [[ivfTopKBatch]] at `nprobe = 1` over
    * the one-row query set, with the [[kmeansCodebook]] codebook.
    */
  def ivfKmeansTopK(emb: DataFrame, queryId: Long, k: Int,
      centroids: Int = 8, iters: Int = 2): DataFrame =
    corpusTopK(emb, queryId, k)(ivfTopKBatch(emb, _, k, centroids,
      nprobe = 1, codebook = Some(kmeansCodebook(emb, centroids, iters))))

  /** Multi-probe IVF top-k: scan the inverted lists of the query's
    * `nprobe` highest-cosine centroids instead of only the nearest — the
    * standard IVF recall lift (a query near a Voronoi boundary finds its
    * neighbors in the second-closest list). Candidates ≈ nprobe/centroids
    * of the corpus on balanced data. [[ivfTopKBatch]] over the one-row
    * query set. Measured recall@10 on the AnnRecallSpec clustered corpus
    * at 16 centroids: 0.70 single-probe → 0.875 at nprobe=2 (floor
    * asserted ≥ 0.8).
    */
  def ivfMultiProbeTopK(emb: DataFrame, queryId: Long, k: Int,
      centroids: Int = 16, nprobe: Int = 2): DataFrame =
    corpusTopK(emb, queryId, k)(ivfTopKBatch(emb, _, k, centroids, nprobe))

  /** IVF top-k over the deterministic first-`centroids` codebook (the
    * first vectors by vec_id act as centroids — the assignment and search
    * mechanics of a k-means codebook, without the training): scan only
    * the query vector's inverted list — [[ivfMultiProbeTopK]] at
    * `nprobe = 1`.
    */
  def ivfTopK(emb: DataFrame, queryId: Long, k: Int, centroids: Int = 16): DataFrame =
    ivfMultiProbeTopK(emb, queryId, k, centroids, nprobe = 1)

  /** Hyperplane count for [[nearestNeighborPerVector]]'s candidate buckets
    * (shared with the oracle SQL): 2^NnPlanes buckets per label block.
    */
  val NnPlanes = 4

  /** Per-vector nearest neighbor within the same label block (embedding
    * near-dup detection). Deterministic via (cosine desc, vec_id) rank.
    *
    * Scale path: an all-pairs block join is k² per label, which dies on a
    * 100 TB label block. Candidates instead come from (a) LSH sign-buckets
    * within the label — pairs only form inside a (label, bucket) cell,
    * ≈ k/2^NnPlanes per cell — and (b) an id-adjacency "ring" fallback
    * (each vector paired with its lag/lead by vec_id within the label),
    * which guarantees every vector in a ≥2-vector block still gets a
    * candidate (bounded at 2 extra pairs per vector). Exact cosine re-rank
    * runs over candidates only. Approximate by construction: a vector whose
    * true NN lands in another bucket reports its best candidate instead
    * ([[nearestNeighborPerVectorExact]] is the small-block differential
    * baseline).
    */
  def nearestNeighborPerVector(emb: DataFrame): DataFrame = {
    val q = quantized(emb)
    val pairs = candidateCosines(q, ordered = false)
    val wr = Window.partitionBy("va").orderBy(col("cos").desc, col("vb"))
    pairs.withColumn("rn", row_number().over(wr))
      .filter(col("rn") === 1)
      .select(col("va").as("vec_id"), col("vb").as("nn_id"), col("cos").as("nn_cos"))
  }

  private def quantized(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("label"), quantize(col("embedding")).as("qv"))

  /** Shared candidate generator for the bucketed NN/near-dup operators:
    * same-(label, LSH-bucket) pairs plus the id-adjacency ring fallback,
    * deduplicated, with the exact cosine computed per candidate.
    * `ordered = true` emits each unordered pair once (va < vb, prev-only
    * ring); `false` emits both directions (per-vector consumers).
    */
  private def candidateCosines(q0: DataFrame, ordered: Boolean): DataFrame = {
    // a NULL label is an unknown block: the (label, bucket) equi-join
    // already drops it, but the adjacency-ring window would lump every
    // null-label vector into ONE partition and pair semantically
    // unrelated vectors — drop them up front so the approximate form
    // agrees with nearestNeighborPerVectorExact (whose label join drops
    // nulls) on exactly this input
    val q = q0.filter(col("label").isNotNull)
    val withB = q.withColumn("bucket", lshBucket(col("qv"), numPlanes = NnPlanes))
    val bkA = withB.select(col("vec_id").as("va"), col("label"), col("bucket"))
    val bkB = withB.select(col("vec_id").as("vb"), col("label"), col("bucket"))
    val pairFilter = if (ordered) col("va") < col("vb") else col("va") =!= col("vb")
    val bucketPairs = bkA.join(bkB, Seq("label", "bucket"))
      .filter(pairFilter).select("va", "vb")
    val w = Window.partitionBy("label").orderBy("vec_id")
    val ring = q.select(col("vec_id"), col("label"))
      .withColumn("prev", lag(col("vec_id"), 1).over(w))
      .withColumn("next", lead(col("vec_id"), 1).over(w))
    val prevPairs =
      if (ordered) ring.filter(col("prev").isNotNull)
        .select(col("prev").as("va"), col("vec_id").as("vb"))
      else ring.filter(col("prev").isNotNull)
        .select(col("vec_id").as("va"), col("prev").as("vb"))
    val ringPairs =
      if (ordered) prevPairs
      else prevPairs.union(ring.filter(col("next").isNotNull)
        .select(col("vec_id").as("va"), col("next").as("vb")))
    val cand = bucketPairs.union(ringPairs).distinct()
    cand
      .join(q.select(col("vec_id").as("va"), col("qv").as("qa")), "va")
      .join(q.select(col("vec_id").as("vb"), col("qv").as("qb")), "vb")
      .select(col("va"), col("vb"), cosine(col("qa"), col("qb")).as("cos"))
  }

  /** Embedding near-duplicate pairs: candidate pairs from the same
    * (label, LSH-bucket) cells plus the id-adjacency ring (the
    * [[nearestNeighborPerVector]] candidate generator), kept when exact
    * cosine ≥ threshold. Approximate like any LSH dedup — a dup pair split
    * across buckets and non-adjacent ids is missed — with the same bounded
    * join fan-out.
    */
  def embeddingNearDups(emb: DataFrame, threshold: Double): DataFrame =
    candidateCosines(quantized(emb), ordered = true)
      .filter(col("cos") >= threshold)

  /** SemDeDup-style semantic dedup (Abbas et al. 2023): cluster the
    * embeddings with the deterministic Lloyd codebook
    * ([[kmeansCodebook]]), then within each cluster drop every vector
    * that has a LOWER-id neighbor at cosine ≥ `threshold`. Survivors are
    * returned as (vec_id, cent_id). Unlike [[embeddingNearDups]] (LSH
    * buckets + ring, no training), the candidate structure here is the
    * trained cluster — the semantic-dedup tradeoff: a training pass buys
    * candidate cells aligned with the actual data clusters.
    *
    * Drop rule: "has any earlier neighbor", not transitive-closure —
    * order-invariant (no dependence on scan order) and identical to the
    * greedy keep-first semantics of the other dedup family members.
    *
    * Scale shape: assignment is a broadcast scan (codebook is k × dims);
    * the candidate join is an equi-join on cent_id, so pair expansion is
    * bounded per cluster at ~(N/k)² on balanced data. At 100 TB you raise
    * k with N (clusters stay roughly constant-sized), keeping per-cluster
    * work flat while the cent_id shuffle stays an ordinary hash
    * partition; no all-pairs product ever forms.
    */
  def semanticDedup(emb: DataFrame, threshold: Double,
      centroids: Int = 8, iters: Int = 2): DataFrame = {
    val cents = kmeansCodebook(emb, centroids, iters)
    val q = emb.select(col("vec_id"), quantize(col("embedding")).as("qv"))
    val assigned = assignToCentroids(q, cents)
    val a = assigned.select(col("cent_id"), col("vec_id").as("va"), col("qv").as("qa"))
    val b = assigned.select(col("cent_id"), col("vec_id").as("vb"), col("qv").as("qb"))
    val dups = a.join(b, "cent_id")
      .filter(col("va") < col("vb") && cosine(col("qa"), col("qb")) >= threshold)
      .select(col("vb").as("vec_id")).distinct()
    assigned.join(dups, Seq("vec_id"), "left_anti")
      .select("vec_id", "cent_id")
  }

  /** All-pairs exact form of [[nearestNeighborPerVector]] — correctness
    * baseline for small blocks and the differential test; k² per label, so
    * not the scale path.
    */
  def nearestNeighborPerVectorExact(emb: DataFrame): DataFrame = {
    val q = emb.select(col("vec_id"), col("label"), quantize(col("embedding")).as("qv"))
    val a = q.select(col("vec_id").as("va"), col("label"), col("qv").as("qa"))
    val b = q.select(col("vec_id").as("vb"), col("label"), col("qv").as("qb"))
    val pairs = a.join(b, "label").filter(col("va") =!= col("vb"))
      .select(col("va"), col("vb"), cosine(col("qa"), col("qb")).as("cos"))
    val w = Window.partitionBy("va").orderBy(col("cos").desc, col("vb"))
    pairs.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("va").as("vec_id"), col("vb").as("nn_id"), col("cos").as("nn_cos"))
  }
}
