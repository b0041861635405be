package graft.fixtures

import graft.ops.{Dedup, Ranking, Similarity, TextAnalysis}
import ZipfCorpus.h

/** DuckDB SQL shared by the oracles of several gate families,
  * generated from the same Scala constants the Spark side uses (the BM25
  * probe terms are read by the build functions too).
  */
private[graft] object SharedSql {

  /** Probe query for the BM25 gate — terms with spread document
    * frequencies in the synthetic corpus (shared with the oracle SQL).
    */
  val Bm25Terms = Seq("spark", "vector", "stream", "customer")

  /** The tok/base/stats CTE chain of the BM25 oracle (no leading WITH),
    * with an optional doc filter — shared by qt_bm25 and the hybrid
    * fusion oracle so the arithmetic can never drift between gates.
    */
  def bm25CoreCtes(where: String): String = {
    val tfs = Bm25Terms.map(q =>
      s"len(list_filter(toks, x -> x = '$q')) AS tf_$q").mkString(",\n    ")
    val dfs = Bm25Terms.map(q =>
      s"sum(CASE WHEN tf_$q > 0 THEN 1 ELSE 0 END) AS df_$q").mkString(",\n    ")
    s"""tok AS (SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS toks
       |  FROM documents $where),
       |base AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
       |    $tfs
       |  FROM tok),
       |stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl,
       |    $dfs
       |  FROM base)""".stripMargin
  }

  def bm25ContribsSql: String = {
    val k1 = Ranking.K1; val b = Ranking.B
    val kp1 = k1 + 1.0; val omb = 1.0 - b
    Bm25Terms.map { q =>
      s"CAST(round((ln((CAST(n_docs AS DOUBLE) - CAST(df_$q AS DOUBLE) + 0.5)" +
        s" / (CAST(df_$q AS DOUBLE) + 0.5) + 1.0)" +
        s" * (CAST(tf_$q AS DOUBLE) * $kp1 / (CAST(tf_$q AS DOUBLE)" +
        s" + $k1 * ($omb + $b * CAST(dl AS DOUBLE)" +
        s" / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))) * 1000000.0) AS BIGINT)"
    }.mkString("\n  + ")
  }

  val P = Dedup.P

  val toks = """string_split_regex(trim(text),'\s+')"""

  def shinglesCteFrom(src: String, prefix: String = "") =
    s"""WITH ${prefix}tk AS (SELECT doc_id, $toks w FROM $src),
       |sh AS (SELECT DISTINCT doc_id, ${h("s")} AS sh FROM (
       |  SELECT doc_id, unnest(list_transform(range(len(w)-2),
       |    i -> w[i+1]||' '||w[i+2]||' '||w[i+3])) AS s
       |  FROM tk WHERE len(w) >= 3) x)""".stripMargin

  val shinglesCte = shinglesCteFrom("documents")

  // top-20 Dice collocations, parameterized on the corpus source —
  // shared by qt_collocations (documents) and qz_collocations (zdocs)
  def collocationsSql(prefix: String, src: String) =
    s"""WITH ${prefix}base AS (SELECT $toks AS w FROM $src
         |  WHERE length(trim(text)) > 0),
         |uni AS (SELECT unnest(w) AS t FROM base),
         |c1t AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY 1),
         |bg AS (SELECT unnest(list_transform(range(len(w)-1),
         |    i -> w[i+1]||' '||w[i+2])) AS g FROM base WHERE len(w) >= 2),
         |cb AS (SELECT g, CAST(count(*) AS BIGINT) AS c12 FROM bg
         |  GROUP BY 1 HAVING count(*) >= 5)
         |SELECT cb.g, c12, a.c AS c1, b.c AS c2,
         |  (2 * c12 * 1000000) // (a.c + b.c) AS dice_micro
         |FROM cb JOIN c1t a ON split_part(cb.g, ' ', 1) = a.t
         |JOIN c1t b ON split_part(cb.g, ' ', 2) = b.t
         |ORDER BY dice_micro DESC, g LIMIT 20""".stripMargin

  // the exact prefix-filter join body (PPJoin-lite on 3-shingles),
  // shared by qd_prefix_join (documents) and qz_prefix_join (zdocs)
  val prefixJoinBody = """,
      |shm AS MATERIALIZED (SELECT doc_id, sh FROM sh),
      |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM shm
      |  GROUP BY doc_id),
      |dfreq AS (SELECT sh, count(*) AS df FROM shm GROUP BY sh),
      |rk AS (SELECT x.doc_id, x.sh, sz.n,
      |    row_number() OVER (PARTITION BY x.doc_id
      |      ORDER BY d.df, x.sh) AS r
      |  FROM shm x JOIN dfreq d ON d.sh = x.sh
      |    JOIN sz ON sz.doc_id = x.doc_id),
      |pref AS MATERIALIZED (SELECT doc_id, sh, n FROM rk
      |  WHERE r <= n - ((3*n + 4) // 5) + 1),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    a.n AS na, b.n AS nb
      |  FROM pref a JOIN pref b ON a.sh = b.sh
      |    AND a.doc_id < b.doc_id
      |  WHERE 3 * greatest(a.n, b.n) <= 5 * least(a.n, b.n)),
      |ver AS (SELECT c.doc_a, c.doc_b, c.na, c.nb,
      |    CAST(count(*) AS BIGINT) AS common
      |  FROM cand c
      |  JOIN shm ta ON ta.doc_id = c.doc_a
      |  JOIN shm tb ON tb.doc_id = c.doc_b AND tb.sh = ta.sh
      |  GROUP BY 1, 2, 3, 4)
      |SELECT doc_a, doc_b,
      |  CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE)
      |    AS jaccard
      |FROM ver WHERE 5 * common >= 3 * (na + nb - common)
      |ORDER BY doc_a, doc_b""".stripMargin

  val minhashSig = (0 until Dedup.NumHashes).map { i =>
    s"min((${Dedup.hashA(i)}*(sh%$P)+${Dedup.hashB(i)})%$P) AS m$i"
  }.mkString(", ")

  val bandRows = (0 until Dedup.numBands).map { b =>
    val cols = (0 until Dedup.BandSize).map(r => s"m${b * Dedup.BandSize + r}").mkString(", ")
    s"SELECT doc_id, $b AS band, md5(concat_ws(',', $cols)) AS bkey FROM sig"
  }.mkString(" UNION ALL ")

  // the full minhash near-dup pair derivation, ending in CTE `mp`
  // (doc_a, doc_b, jaccard) — shared by the pairs query and the
  // connected-components query so the two gates can never drift
  val minhashPairsCtes = shinglesCte +
    s""",
       |sig AS (SELECT doc_id, $minhashSig FROM sh GROUP BY 1),
       |bands AS ($bandRows),
       |r AS (SELECT doc_id, band, bkey,
       |    row_number() OVER (PARTITION BY band, bkey ORDER BY doc_id) AS rn,
       |    first_value(doc_id) OVER (PARTITION BY band, bkey ORDER BY doc_id) AS mn
       |  FROM bands),
       |cb AS (SELECT doc_id, band, bkey FROM r WHERE rn <= ${Dedup.BandBucketCap}),
       |cand AS (SELECT DISTINCT doc_a, doc_b FROM (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM cb a JOIN cb b ON a.band=b.band AND a.bkey=b.bkey AND a.doc_id<b.doc_id
       |  UNION ALL
       |  SELECT mn, doc_id FROM r WHERE rn > ${Dedup.BandBucketCap}) u),
       |sizes AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY 1),
       |common AS (SELECT doc_a, doc_b, count(*) AS n_common
       |  FROM cand JOIN sh sa ON sa.doc_id=doc_a JOIN sh sb ON sb.doc_id=doc_b AND sa.sh=sb.sh
       |  GROUP BY 1,2),
       |mp AS (SELECT doc_a, doc_b,
       |  CAST(n_common AS DOUBLE)/(na+nb-n_common) AS jaccard
       |FROM common
       |JOIN (SELECT doc_id, nsh AS na FROM sizes) x ON doc_a = x.doc_id
       |JOIN (SELECT doc_id, nsh AS nb FROM sizes) y ON doc_b = y.doc_id
       |WHERE CAST(n_common AS DOUBLE)/(na+nb-n_common) >= 0.4)""".stripMargin

  // language-id profiles (same constants as TextAnalysis)
  def profCount(ws: Seq[String]) =
    s"len(list_filter($toks, x -> list_contains([${ws.map("'" + _ + "'").mkString(",")}], x)))"

  // the quality-score formula, shared verbatim by every oracle that
  // mirrors TextAnalysis.qualityScore (qt_quality, qt_quality_topk,
  // qp_curation, qp_token_budget) — ONE definition so the gates can't
  // drift from each other when the score changes
  val qualitySql =
    s"""(CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) / length(text)) * 0.4 + least(CAST(${profCount(TextAnalysis.StopwordProfiles.head._2)} AS DOUBLE) / len($toks) * 4.0, 1.0) * 0.3 + least(CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) / len($toks) / 8.0, 1.0) * 0.3"""

  // WordPiece shared CTEs: one round = segment, pair-count +
  // SYMBOL-count, likelihood-score join (pico-unit floor division in
  // HUGEINT, BIGINT on selection), argmax, replace-apply; the 3-round
  // prefix is shared by qt_wordpiece (merge table) and
  // qt_wordpiece_encode (corpus apply). m$r is one row, so the
  // multi-reference inlining hazard the unigram prb tables needed
  // MATERIALIZED for does not arise (w$r references m$r once; the
  // round chain is linear, not 4-way).
  def wpRound(r: Int, prev: String) =
    s"""s$r AS (SELECT string_split(trim(seg, '|'), '||') AS sy, cnt FROM $prev),
       |sy$r AS (SELECT s, CAST(sum(cnt) AS BIGINT) AS c FROM (
       |    SELECT unnest(sy) AS s, cnt FROM s$r) GROUP BY 1),
       |pr$r AS (SELECT z.a AS a, z.b AS b, CAST(sum(cnt) AS BIGINT) AS c FROM (
       |    SELECT unnest(list_transform(range(1, len(sy)),
       |      i -> {'a': sy[i], 'b': sy[i+1]})) AS z, cnt
       |    FROM s$r) GROUP BY 1, 2),
       |m$r AS (SELECT p.a AS a, p.b AS b, p.c AS c,
       |    CAST((CAST(p.c AS HUGEINT) * 1000000000000) //
       |      (CAST(x.c AS HUGEINT) * y.c) AS BIGINT) AS sp
       |  FROM pr$r p JOIN sy$r x ON x.s = p.a JOIN sy$r y ON y.s = p.b
       |  ORDER BY sp DESC, c DESC, a, b LIMIT 1),
       |w$r AS (SELECT replace(seg, '|'||a||'||'||b||'|', '|'||a||b||'|') AS seg, cnt
       |  FROM $prev CROSS JOIN m$r)""".stripMargin

  def wpTrainCtesFrom(src: String, prefix: String = "") =
    s"""WITH ${prefix}tok AS (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w
       |  FROM $src),
       |wf AS (SELECT w, count(*) AS cnt FROM tok
       |  WHERE regexp_matches(w, '^[A-Za-z]+$$') GROUP BY 1),
       |w0 AS (SELECT regexp_replace(w, '(.)', '|\\1|', 'g') AS seg, cnt FROM wf),
       |${wpRound(1, "w0")},
       |${wpRound(2, "w1")},
       |${wpRound(3, "w2")}""".stripMargin

  val profiles = TextAnalysis.StopwordProfiles.filter(_._2.nonEmpty)

  val profCols = profiles.map { case (l, ws) => s"${profCount(ws)} AS c_$l" }.mkString(", ")

  val mx = s"greatest(${profiles.map(p => s"c_${p._1}").mkString(",")})"

  val pickCase = profiles.map { case (l, _) => s"WHEN c_$l = mx THEN '$l'" }.mkString(" ")

  val langPred =
    s"""CASE WHEN cjk*5 > len THEN 'zh'
       |     WHEN mx > 0 THEN CASE $pickCase END
       |     ELSE 'unknown' END""".stripMargin

  // cosine plumbing over quantized embeddings; the product is taken in
  // DOUBLE, exact for a float32 times 1000 as in Similarity.quantize — a
  // FLOAT product rounds 0.3195f*1000 up to 319.5 and then to 320
  val quantCteBody =
    """q AS (SELECT vec_id, label,
      |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS qe
      |  FROM embeddings),
      |n AS (SELECT vec_id, label, qe,
      |  list_reduce(list_transform(qe, x -> x*x), (a,b) -> a+b) AS nrm FROM q)""".stripMargin

  val quantCte = "WITH " + quantCteBody

  val planeLits = (0 until Similarity.NumPlanes).map { p =>
    "[" + (0 until 64).map(j => Similarity.planeWeight(p, j)).mkString(",") + "]"
  }

  // k-means oracle plumbing: squared norm of a list column, one Lloyd
  // round (assign → floor-mean update, empty clusters keep centroids),
  // and an assignment-only CTE — generated so the SQL replays
  // Similarity.kmeansCodebook bit-for-bit, unrolled per iteration
  def listNorm(cv: String) = s"list_reduce(list_transform($cv, x -> x*x), (a,b) -> a+b)"

  def kmAssign(name: String, cents: String) =
    s"""$name AS (SELECT vec_id, qe, cent_id FROM (
       |  SELECT n.vec_id, n.qe, c.cent_id,
       |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
       |      (list_reduce(list_transform(list_zip(n.qe, c.cv), t -> t[1]*t[2]), (x,y) -> x+y)
       |        / (sqrt(n.nrm) * sqrt(${listNorm("c.cv")}))) DESC, c.cent_id) AS rn
       |  FROM n CROSS JOIN $cents c) WHERE rn = 1)""".stripMargin

  def kmRound(r: Int, prev: String) =
    s"""${kmAssign(s"a$r", prev)},
       |u$r AS (SELECT cent_id, generate_subscripts(qe, 1) AS dim, unnest(qe) AS v FROM a$r),
       |m$r AS (SELECT cent_id, dim,
       |    CAST(floor(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT) AS cv_d
       |  FROM u$r GROUP BY 1, 2),
       |c$r AS (SELECT p.cent_id, coalesce(nc.cv, p.cv) AS cv FROM $prev p
       |  LEFT JOIN (SELECT cent_id, list(cv_d ORDER BY dim) AS cv FROM m$r GROUP BY 1) nc
       |    USING (cent_id))""".stripMargin
}
