package graft.gates

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Graphs, Ranking, TextAnalysis}
import graft.fixtures.Tables._
import graft.fixtures.ZipfCorpus._
import graft.fixtures.Staging._
import graft.fixtures.SharedSql._

/** Data-pipeline gates (`qp_*`): ingest, decontamination, curation,
  * token budgets and corpus reports over the documents table.
  */
object QpGates extends GateFamily {

  val domainRank = gate("qp_domain_rank") { (s, dir) =>
    // crawl-frontier authority: integer-exact PageRank (3 rounds) over
    // a synthesized domain link graph — two deterministic edge rules
    // per doc, mod-60 node space, self-loops dropped. All-long
    // arithmetic makes the fixpoint bit-identical across engines and
    // partitionings; per round: one equi-join + one hash agg, no
    // windows, no driver state.
    val d = t(s, dir, "documents").select(col("doc_id"))
    val e1 = d.select((col("doc_id") % 60).as("src"),
      ((col("doc_id") * 13 + 7) % 60).as("dst"))
    val e2 = d.select((col("doc_id") % 60).as("src"),
      ((col("doc_id") * 17 + 3) % 60).as("dst"))
    Ranking.pageRankInt(
        e1.unionByName(e2).filter(col("src") =!= col("dst")), iters = 3)
      .orderBy("node")
  }(
    // integer PageRank unrolled: every round is
    // base + (85 · Σ (pr div deg)) div 100; all-long arithmetic
    // (order-independent sums, INTEGRAL divisions — `//` here, `div`
    // in Spark, exact at any magnitude) is what makes three rounds
    // replayable bit-for-bit. See Ranking.pageRankInt's scaladoc.
    {
    def round(prev: String, out: String) =
      s"""c$out AS (SELECT ed.dst AS node,
         |    CAST(sum($prev.pr // ed.deg) AS BIGINT) AS s
         |  FROM ed JOIN $prev ON $prev.node = ed.src GROUP BY 1),
         |$out AS (SELECT n.node,
         |    150000 + CAST(85 * coalesce(c$out.s, 0) // 100 AS BIGINT) AS pr
         |  FROM nodes n LEFT JOIN c$out ON c$out.node = n.node)""".stripMargin
    s"""WITH e AS (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT doc_id % 60 AS src, (doc_id*13+7) % 60 AS dst FROM documents
       |    UNION ALL
       |    SELECT doc_id % 60, (doc_id*17+3) % 60 FROM documents) u
       |  WHERE src <> dst),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |od AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
       |ed AS (SELECT e.src, e.dst, od.deg FROM e JOIN od USING (src)),
       |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS pr FROM nodes),
       |${round("r0", "r1")},
       |${round("r1", "r2")},
       |${round("r2", "r3")}
       |SELECT node, pr FROM r3 ORDER BY node""".stripMargin
  })

  val skewReport = gate("qp_skew_report") { (s, dir) =>
    // partition-key skew profile — the operability report before
    // picking a partition/bucket column: per source, row share and
    // ratio to the MEDIAN group in exact micro-units. The median is
    // RobustStats' exact k-th over the GROUP-COUNT table
    // (group-sized, never corpus-sized); the total rides a single-row
    // cross join, so the per-group pass stays one aggregation.
    val counts = t(s, dir, "documents").groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
    val med = graft.ops.RobustStats.lowerMedian(counts, "n_docs")
    counts.crossJoin(counts.agg(sum("n_docs").as("_tot")))
      .select(col("source"), col("n_docs"), col("sum_chars"),
        expr("(n_docs * 1000000) div _tot").as("share_micro"),
        expr(s"(n_docs * 1000000) div $med").as("ratio_med_micro"))
      .withColumn("skewed", col("ratio_med_micro") > 2000000L)
      .orderBy("source")
  }(
    // skew replay: the lower median IS quantile_disc(0.5) (the
    // RobustStats contract); c is multi-referenced → MATERIALIZED
    """WITH c AS MATERIALIZED (SELECT source,
      |    CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |  FROM documents GROUP BY source),
      |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS tot FROM c),
      |m AS (SELECT quantile_disc(n_docs, 0.5) AS med FROM c)
      |SELECT c.source, c.n_docs, c.sum_chars,
      |  (c.n_docs * 1000000) // t.tot AS share_micro,
      |  (c.n_docs * 1000000) // m.med AS ratio_med_micro,
      |  (c.n_docs * 1000000) // m.med > 2000000 AS skewed
      |FROM c, t, m ORDER BY c.source""".stripMargin)

  val triangles = gate("qp_triangles") { (s, dir) =>
    // link-graph transitivity: triangle count + global clustering
    // coefficient by degree-ordered orientation (hubs orient INWARD,
    // so out-degree is O(√E) and the wedge join never explodes on a
    // power-law hub) — same synthesized domain graph as
    // qp_domain_rank; see Graphs.triangleStats
    val d = t(s, dir, "documents").select(col("doc_id"))
    val e1 = d.select((col("doc_id") % 60).as("src"),
      ((col("doc_id") * 13 + 7) % 60).as("dst"))
    val e2 = d.select((col("doc_id") % 60).as("src"),
      ((col("doc_id") * 17 + 3) % 60).as("dst"))
    Graphs.triangleStats(e1.unionByName(e2))
  }(
    // triangle replay: same canonical undirected edges, same
    // (degree, id) orientation, same ordered wedge join; e/deg/o are
    // multi-referenced → MATERIALIZED
    """WITH raw AS (
      |  SELECT doc_id % 60 AS src, (doc_id*13+7) % 60 AS dst FROM documents
      |  UNION ALL
      |  SELECT doc_id % 60, (doc_id*17+3) % 60 FROM documents),
      |e AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u,
      |    greatest(src, dst) AS v FROM raw WHERE src <> dst),
      |deg AS MATERIALIZED (SELECT node, CAST(count(*) AS BIGINT) AS d
      |  FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
      |  GROUP BY node),
      |o AS MATERIALIZED (SELECT
      |    CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
      |         THEN e.u ELSE e.v END AS src,
      |    CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
      |         THEN e.v ELSE e.u END AS dst,
      |    CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
      |         THEN dv.d ELSE du.d END AS ddst
      |  FROM e JOIN deg du ON du.node = e.u
      |         JOIN deg dv ON dv.node = e.v),
      |tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
      |  FROM o a JOIN o b ON a.src = b.src
      |    AND (a.ddst < b.ddst OR (a.ddst = b.ddst AND a.dst < b.dst))
      |  JOIN o c ON c.src = a.dst AND c.dst = b.dst),
      |cn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
      |    CAST(sum((d * (d - 1)) // 2) AS BIGINT) AS n_wedges FROM deg),
      |ce AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
      |SELECT cn.n_nodes, ce.n_edges, tri.n_triangles, cn.n_wedges,
      |  CASE WHEN cn.n_wedges > 0
      |    THEN (3000000 * tri.n_triangles) // cn.n_wedges
      |  END AS cc_micro
      |FROM cn, ce, tri""".stripMargin)

  val tableChecksum = gate("qp_table_checksum") { (s, dir) =>
    // order-independent table fingerprint (the anti-entropy /
    // replication-validation primitive): per-row md5 over a canonical
    // rendering folded by COMMUTATIVE aggregates (modular sum,
    // min/max, count), so any partitioning, arrival order, or cluster
    // size yields the same fingerprint — one map-only pass + one
    // scalar aggregation at any table size
    t(s, dir, "documents")
      .select(TextAnalysis.md5Long(concat_ws("|",
        col("doc_id"), col("lang"), col("source"), col("n_chars"),
        md5(col("text")))).as("h"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("h") % 1000003L).as("checksum"),
        min("h").as("min_h"), max("h").as("max_h"))
  }(
    // checksum replay: concat_ws in both engines (same NULL-skipping
    // semantics), modular sum keeps the fold inside BIGINT at any
    // table size
    s"""WITH hh AS (SELECT ${h("concat_ws('|', doc_id, lang, source, n_chars, md5(text))")} AS h
       |  FROM documents)
       |SELECT CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(sum(h % 1000003) AS BIGINT) AS checksum,
       |  min(h) AS min_h, max(h) AS max_h
       |FROM hh""".stripMargin)

  val urlCanon = gate("qp_url_canon") { (s, dir) =>
    // URL canonicalization + domain blocklist — the crawl-frontier
    // dedup key: the corpus has no URL column, so the gate injects
    // deterministically messy ones (cased scheme/host, default port,
    // utm_* tracking params, fragments) from doc fields with the same
    // concat in both engines, then canonicalizes, extracts the
    // registered domain, and flags blocklisted domains. Entirely
    // map-only regexp/concat — zero shuffle at any corpus size.
    val d = col("doc_id")
    val url = concat(
      lit("HTTPS://WWW."), col("source"), (d % 4).cast("string"),
      lit(".CoM"),
      when(d % 3 === 0, lit(":443")).otherwise(lit("")),
      lit("/docs/"), d.cast("string"),
      when(d % 2 === 0,
        concat(lit("?utm_source=feed&utm_campaign=c"), (d % 7).cast("string"),
          lit("&ref=r"), (d % 5).cast("string")))
        .otherwise(concat(lit("?ref=r"), (d % 5).cast("string"))),
      when(d % 5 === 0, lit("#sec")).otherwise(lit("")))
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.canonicalUrl(url).as("url_canon"),
        TextAnalysis.urlDomain(url).as("domain"))
      .withColumn("blocked", col("domain").isin("src30.com", "src111.com"))
      .orderBy("doc_id")
  }(
    {
    import TextAnalysis._
    // scheme-conditional default-port strip, mirroring canonHost
    val host0 = s"lower(regexp_extract(url, '$UrlHostRe', 1))"
    val scheme = s"lower(regexp_extract(url, '$UrlSchemeRe'))"
    val dePorted =
      s"""CASE WHEN $scheme = 'https://'
         |      THEN regexp_replace($host0, '$UrlHttpsPortRe', '', 'g')
         |    WHEN $scheme = 'http://'
         |      THEN regexp_replace($host0, '$UrlHttpPortRe', '', 'g')
         |    ELSE $host0 END""".stripMargin.replace('\n', ' ')
    val host =
      s"regexp_replace($dePorted, '$UrlWwwRe', '', 'g')"
    val rest =
      s"regexp_replace(regexp_replace(regexp_replace(regexp_extract(url, '$UrlRestRe', 1), '$UrlUtmAmpRe', '', 'g'), '$UrlUtmLeadRe', '?', 'g'), '$UrlUtmTailRe', '', 'g')"
    s"""WITH u AS (SELECT doc_id,
       |  'HTTPS://WWW.' || source || CAST(doc_id % 4 AS VARCHAR) || '.CoM' ||
       |  CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END ||
       |  '/docs/' || CAST(doc_id AS VARCHAR) ||
       |  CASE WHEN doc_id % 2 = 0
       |    THEN '?utm_source=feed&utm_campaign=c' || CAST(doc_id % 7 AS VARCHAR)
       |      || '&ref=r' || CAST(doc_id % 5 AS VARCHAR)
       |    ELSE '?ref=r' || CAST(doc_id % 5 AS VARCHAR) END ||
       |  CASE WHEN doc_id % 5 = 0 THEN '#sec' ELSE '' END AS url
       | FROM documents),
       |c AS (SELECT doc_id,
       |  lower(regexp_extract(url, '$UrlSchemeRe')) || $host || $rest AS url_canon,
       |  regexp_extract(regexp_replace($host, '$UrlAnyPortRe', '', 'g'), '$UrlDomainRe') AS domain
       | FROM u)
       |SELECT doc_id, url_canon, domain,
       |  domain IN ('src30.com', 'src111.com') AS blocked
       |FROM c ORDER BY doc_id""".stripMargin
  })

  val qualityHist = gate("qp_quality_hist") { (s, dir) =>
    // quality-threshold calibration: 20-bin histogram of the composite
    // score with a cumulative at-or-above count — the curve a filter
    // threshold is read off. Binning is floor(q·20) on doubles both
    // engines compute bit-identically; the cumulative window runs over
    // a ≤20-row relation (driver-sized by construction).
    import org.apache.spark.sql.expressions.Window
    t(s, dir, "documents").filter(length(trim(col("text"))) > 0)
      .select(least(
        floor(TextAnalysis.qualityScore(col("text")) * 20).cast("long"),
        lit(19L)).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n_docs"))
      .withColumn("n_at_or_above", sum("n_docs").over(
        Window.orderBy(col("bin").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy("bin")
  }(
    s"""WITH q AS (SELECT least(CAST(floor(($qualitySql) * 20) AS BIGINT), 19) AS bin
       |  FROM documents WHERE length(trim(text)) > 0),
       |h AS (SELECT bin, count(*) AS n_docs FROM q GROUP BY 1)
       |SELECT bin, n_docs,
       |  CAST(sum(n_docs) OVER (ORDER BY bin DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS n_at_or_above
       |FROM h ORDER BY bin""".stripMargin)

  val pipelineE2e = gate("qp_pipeline_e2e") { (s, dir) =>
    // the WHOLE preprocessing recipe as ONE Spark plan — the front-door
    // composition a reference user runs end to end: exact-dedup keepers
    // (one window shuffle on the signature, qp_curation's gated shape),
    // eval-shingle decontamination (broadcast eval set, train streams
    // map-only; contaminated ids drop via anti-join), quality + length
    // filter (codegen projections), leakage-free fold by source hash
    // (map-only), per-(fold, lang) accounting in integer micro-units.
    // Every stage is individually oracle-gated elsewhere; this gates
    // their COMPOSITION — plan reuse, filter ordering, null paths.
    import org.apache.spark.sql.expressions.Window
    val base = t(s, dir, "documents").filter(length(trim(col("text"))) > 0)
    val isEval = TextAnalysis.md5Long(col("text")) % 20 === 1
    val keep = base
      .withColumn("keep_id",
        min("doc_id").over(Window.partitionBy(md5(col("text")))))
      .filter(col("doc_id") === col("keep_id")).drop("keep_id")
    val evalSh = Dedup.shingleHashes(base.filter(isEval), "doc_id", col("text"))
      .select("sh").distinct()
    val contam = Dedup.shingleHashes(base.filter(!isEval), "doc_id", col("text"))
      .join(broadcast(evalSh), "sh").select("doc_id").distinct()
    keep.filter(!isEval)
      .join(contam, Seq("doc_id"), "left_anti")
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
      .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")).cast("long"))
      .filter(col("quality") >= 0.45 && col("n_tokens") >= 5)
      .groupBy((TextAnalysis.md5Long(col("source")) % 10).as("fold"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"),
        sum(round(col("quality") * 1000000).cast("long")).as("quality_micro"))
      .orderBy("fold", "lang")
  }(
    // the composed recipe, each stage its gated fragment: exact-dedup
    // keepers, shingle decontamination over the non-empty base, quality
    // + length filter, fold by source hash, micro-unit accounting
    s"""WITH base AS (SELECT * FROM documents WHERE length(trim(text)) > 0),
       |ek AS (SELECT md5(text) AS sig, min(doc_id) AS keeper FROM base GROUP BY 1),
       |k AS (SELECT b.* FROM base b
       |  JOIN ek ON md5(b.text) = ek.sig AND b.doc_id = ek.keeper),
       |tk AS (SELECT doc_id, ${h("text")} % 20 = 1 AS is_eval, $toks w FROM base),
       |sh AS (SELECT DISTINCT doc_id, is_eval, ${h("s")} AS sh FROM (
       |  SELECT doc_id, is_eval, unnest(list_transform(range(len(w)-2),
       |    i -> w[i+1]||' '||w[i+2]||' '||w[i+3])) AS s
       |  FROM tk WHERE len(w) >= 3) x),
       |ev AS (SELECT DISTINCT sh FROM sh WHERE is_eval),
       |contam AS (SELECT DISTINCT s.doc_id FROM sh s JOIN ev USING (sh)
       |  WHERE NOT s.is_eval),
       |clean AS (SELECT k.* FROM k
       |  WHERE ${h("k.text")} % 20 <> 1
       |    AND k.doc_id NOT IN (SELECT doc_id FROM contam)),
       |q AS (SELECT lang, source, $qualitySql AS quality,
       |    CAST(len($toks) AS BIGINT) AS n_tokens FROM clean),
       |f AS (SELECT ${h("source")} % 10 AS fold, lang, n_tokens, quality
       |  FROM q WHERE quality >= 0.45 AND n_tokens >= 5)
       |SELECT fold, lang, count(*) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       |  CAST(sum(CAST(round(quality * 1000000) AS BIGINT)) AS BIGINT) AS quality_micro
       |FROM f GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  val decontaminate = gate("qp_decontaminate") { (s, dir) =>
    // eval-set decontamination — the standard pre-training pass: find
    // train docs sharing any word-trigram shingle with a held-out eval
    // slice. Eval is selected by deterministic hash residue (≈5%) and its
    // distinct shingle set is BROADCAST (the scale shape: eval sets are
    // small by construction; the 100 TB train side streams past it with
    // no shuffle).
    val d = t(s, dir, "documents")
    val isEval = TextAnalysis.md5Long(col("text")) % 20 === 1
    val evalSh = Dedup.shingleHashes(d.filter(isEval), "doc_id", col("text"))
      .select("sh").distinct()
    val trainSh = Dedup.shingleHashes(d.filter(!isEval), "doc_id", col("text"))
    trainSh.join(broadcast(evalSh), "sh")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
      .orderBy("doc_id")
  }(
    s"""WITH tk AS (SELECT doc_id, ${h("text")} % 20 = 1 AS is_eval, $toks w FROM documents),
       |sh AS (SELECT DISTINCT doc_id, is_eval, ${h("s")} AS sh FROM (
       |  SELECT doc_id, is_eval, unnest(list_transform(range(len(w)-2),
       |    i -> w[i+1]||' '||w[i+2]||' '||w[i+3])) AS s
       |  FROM tk WHERE len(w) >= 3) x),
       |ev AS (SELECT DISTINCT sh FROM sh WHERE is_eval),
       |tr AS (SELECT doc_id, sh FROM sh WHERE NOT is_eval)
       |SELECT doc_id, count(*) AS n_hits
       |FROM tr JOIN ev USING (sh)
       |GROUP BY 1 ORDER BY 1""".stripMargin)

  val leakageReport = gate("qp_leakage_report") { (s, dir) =>
    // contamination audit from the eval side: per eval doc, the fraction
    // of its distinct trigram shingles found anywhere in train — the
    // "which benchmark items are compromised" report. Train streams
    // map-only past a broadcast of the eval shingle set; everything that
    // shuffles is eval-bounded.
    val d = t(s, dir, "documents")
    val isEval = TextAnalysis.md5Long(col("text")) % 20 === 1
    val evalSh = Dedup.shingleHashes(d.filter(isEval), "doc_id", col("text"))
    val trainSh = Dedup.shingleHashes(d.filter(!isEval), "doc_id", col("text"))
    Dedup.leakageReport(trainSh, evalSh, "doc_id").orderBy("doc_id")
  }(
    s"""WITH tk AS (SELECT doc_id, ${h("text")} % 20 = 1 AS is_eval, $toks w FROM documents),
       |sh AS (SELECT DISTINCT doc_id, is_eval, ${h("s")} AS sh FROM (
       |  SELECT doc_id, is_eval, unnest(list_transform(range(len(w)-2),
       |    i -> w[i+1]||' '||w[i+2]||' '||w[i+3])) AS s
       |  FROM tk WHERE len(w) >= 3) x),
       |ev AS (SELECT doc_id, sh FROM sh WHERE is_eval),
       |leaked AS (SELECT DISTINCT sh FROM sh
       |  WHERE NOT is_eval AND sh IN (SELECT sh FROM ev))
       |SELECT e.doc_id, count(*) AS n_shingles, count(l.sh) AS n_leaked,
       |  CAST(count(l.sh) AS DOUBLE)/count(*) AS leak_frac
       |FROM ev e LEFT JOIN leaked l USING (sh)
       |GROUP BY 1 ORDER BY 1""".stripMargin)

  val bloomDecontam = gate("qp_bloom_decontam") { (s, dir) =>
    // same semantics as qp_decontaminate, computed through the bloom
    // runtime-filter shape: the train shingle stream is screened by a
    // map-side might_contain literal BEFORE the confirm join, so the
    // exchange under the join carries ~fpp of the corpus instead of all
    // of it. Identical result (no false negatives; confirm join kills
    // false positives) — the gate shares qp_decontaminate's oracle.
    val d = t(s, dir, "documents")
    val isEval = TextAnalysis.md5Long(col("text")) % 20 === 1
    val evalSh = Dedup.shingleHashes(d.filter(isEval), "doc_id", col("text"))
      .select("sh")
    val trainSh = Dedup.shingleHashes(d.filter(!isEval), "doc_id", col("text"))
    Dedup.bloomDecontaminate(trainSh, evalSh, "doc_id",
        expectedEvalKeys = 1L << 18, numBits = 1L << 21)
      .orderBy("doc_id")
  }(
    // the bloom prefilter has no false negatives and the confirm join
    // removes its false positives, so the result must be EXACTLY the plain
    // exact-join decontamination
    decontaminate.oracle)

  val curation = gate("qp_curation") { (s, dir) =>
    // flagship composition — the end-to-end training-set curation pass a
    // 100 TB pipeline runs: BOW-dedup keeper selection, language ID,
    // quality scoring, token bounds, per-language corpus accounting. One
    // plan: codegen'd per-doc features, ONE shuffle on the dedup
    // signature (window keeper), then a hash aggregation. Quality sums go
    // through exact integer micro-units so aggregation order can't move
    // low bits.
    import org.apache.spark.sql.expressions.Window
    val d = t(s, dir, "documents").filter(length(trim(col("text"))) > 0)
    val featured = d.select(col("doc_id"), col("lang"),
      Dedup.bowSignature(col("text")).as("sig"),
      TextAnalysis.langId(col("text")).as("lang_id"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
      TextAnalysis.qualityScore(col("text")).as("quality"))
    val keeper = featured
      .withColumn("keep_id", min("doc_id").over(Window.partitionBy("sig")))
      .filter(col("doc_id") === col("keep_id"))
    keeper
      .filter(col("n_tokens") >= 5 && col("quality") >= 0.45)
      .groupBy("lang", "lang_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        (sum(round(col("quality") * 1000000).cast("long")) / 1000000.0).as("quality_sum"))
      .orderBy("lang", "lang_id")
  }(
    s"""WITH c AS (SELECT doc_id, lang,
       |    md5(list_aggregate(list_sort(list_distinct($toks)),'string_agg','|')) AS sig,
       |    length(text) AS len,
       |    len(regexp_extract_all(text, '[一-鿿]')) AS cjk, $profCols,
       |    CAST(len($toks) AS BIGINT) AS n_tokens,
       |    $qualitySql AS quality
       |  FROM documents WHERE length(trim(text)) > 0),
       |m AS (SELECT *, $mx AS mx FROM c),
       |f AS (SELECT doc_id, lang, sig, $langPred AS lang_id, n_tokens, quality FROM m),
       |k AS (SELECT * FROM (
       |    SELECT *, min(doc_id) OVER (PARTITION BY sig) AS keep_id FROM f)
       |  WHERE doc_id = keep_id)
       |SELECT lang, lang_id, count(*) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |  sum(CAST(round(quality*1000000) AS BIGINT))/1000000.0 AS quality_sum
       |FROM k WHERE n_tokens >= 5 AND quality >= 0.45
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  val corpusDiff = gate("qp_corpus_diff") { (s, dir) =>
    // snapshot diff between two corpus versions (pipeline monitoring):
    // the new version drops every 10th doc, edits every 7th-residue
    // text, and adds a shifted-id derivative of every 13th-residue doc;
    // the diff aligns by id and compares content signatures — map-side
    // hashing, one shuffle, no text ever moves
    val d = t(s, dir, "documents").select("doc_id", "text")
    val newV = d.filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 1, concat(col("text"), lit(" edited")))
          .otherwise(col("text")).as("text"))
      .unionByName(d.filter(col("doc_id") % 13 === 2)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(lit("new "), col("text")).as("text")))
    graft.ops.CorpusSelect.corpusDiff(d, newV, "doc_id", md5(col("text")))
      .groupBy("change").agg(count(lit(1)).as("n_docs"))
      .orderBy("change")
  }(
    """WITH old AS (SELECT doc_id, md5(text) AS sig FROM documents),
      |newv AS (
      |  SELECT doc_id,
      |    md5(CASE WHEN doc_id % 7 = 1 THEN text || ' edited' ELSE text END) AS sig
      |  FROM documents WHERE doc_id % 10 <> 0
      |  UNION ALL
      |  SELECT doc_id + 1000000, md5('new ' || text)
      |  FROM documents WHERE doc_id % 13 = 2),
      |j AS (SELECT
      |    CASE WHEN o.sig IS NULL THEN 'added'
      |         WHEN n.sig IS NULL THEN 'removed'
      |         WHEN o.sig <> n.sig THEN 'changed'
      |         ELSE 'unchanged' END AS change
      |  FROM old o FULL OUTER JOIN newv n ON o.doc_id = n.doc_id)
      |SELECT change, count(*) AS n_docs FROM j GROUP BY 1 ORDER BY 1""".stripMargin)

  val incremental = gate("qp_incremental") { (s, dir) =>
    // incremental snapshot re-scoring — the recurring-pipeline shape:
    // the new corpus version (same synthesis as qp_corpus_diff) re-runs
    // the quality scorer ONLY over added/changed docs; unchanged docs
    // carry their prior score rows (narrow: id + double, no text). The
    // result is row-identical to scoring the new snapshot directly,
    // which is exactly what the oracle does.
    val d = t(s, dir, "documents").select("doc_id", "text")
    val newV = d.filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 1, concat(col("text"), lit(" edited")))
          .otherwise(col("text")).as("text"))
      .unionByName(d.filter(col("doc_id") % 13 === 2)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(lit("new "), col("text")).as("text")))
    val scorer = (df: DataFrame) => df.select(col("doc_id"),
      TextAnalysis.qualityScore(col("text")).as("quality"))
    graft.ops.CorpusSelect.incrementalScores(
        scorer(d), d, newV, "doc_id", md5(col("text")), scorer)
      .orderBy("doc_id")
  }(
    s"""WITH newv AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 7 = 1 THEN text || ' edited' ELSE text END AS text
       |  FROM documents WHERE doc_id % 10 <> 0
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id, 'new ' || text AS text
       |  FROM documents WHERE doc_id % 13 = 2)
       |SELECT doc_id, $qualitySql AS quality
       |FROM newv ORDER BY doc_id""".stripMargin)

  val datasetCard = gate("qp_dataset_card") { (s, dir) =>
    // the dataset card — the per-slice datasheet published with every
    // corpus release: docs, tokens, exact-dup count, quality mass per
    // (lang, source). ONE pass: codegen'd per-doc features into a
    // single hash aggregation (exact-dup count via n_docs −
    // approx-free distinct signatures, quality in exact integer
    // micro-units so aggregation order can't move low bits).
    t(s, dir, "documents")
      .filter(length(trim(col("text"))) > 0)
      .select(col("lang"), col("source"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
        md5(col("text")).as("sig"),
        (round(TextAnalysis.qualityScore(col("text")) * 1e6))
          .cast("long").as("q_micro"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"),
        (count(lit(1)) - countDistinct(col("sig"))).as("n_exact_dups"),
        sum(col("q_micro")).as("quality_micro"))
      .orderBy("lang", "source")
  }(
    s"""SELECT lang, source, count(*) AS n_docs,
       |  CAST(sum(len($toks)) AS BIGINT) AS sum_tokens,
       |  count(*) - count(DISTINCT md5(text)) AS n_exact_dups,
       |  CAST(sum(CAST(round(($qualitySql) * 1000000.0) AS BIGINT)) AS BIGINT)
       |    AS quality_micro
       |FROM documents WHERE length(trim(text)) > 0
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  val jsonlIngest = gate("qp_jsonl_ingest") { (s, dir) =>
    // JSONL round-trip — the corpus interchange format of every LLM data
    // pipeline: stage documents as JSON-lines once per JVM, re-ingest
    // with an EXPLICIT schema (schema inference at 100 TB is a second
    // full read — never pay it), and aggregate. sum_chars recomputed
    // from the round-tripped text gates string fidelity through JSON
    // escaping (quotes, newlines, unicode); staging is idempotent like
    // the streaming fixtures.
    val p = stagedInput("jsonl", dir) { path =>
      t(s, dir, "documents").write.mode("overwrite").json(path)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("lang",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_chars",
        org.apache.spark.sql.types.LongType)))
    s.read.schema(schema).json(p)
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).cast("long").as("sum_chars"),
        sum(col("n_chars")).as("sum_n_chars"))
      .orderBy("lang", "source")
  }(
    """SELECT lang, source, count(*) AS n_docs,
      |  CAST(sum(length(text)) AS BIGINT) AS sum_chars,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_n_chars
      |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  val csvIngest = gate("qp_csv_ingest") { (s, dir) =>
    // CSV round-trip — the other interchange format: stage once per
    // JVM, re-ingest with an EXPLICIT schema (inference = a second full
    // read at 100 TB) and multiLine+escape options, then aggregate.
    // sum_chars recomputed from the round-tripped text gates quoting
    // fidelity (commas, embedded quotes, newlines — exactly where CSV
    // pipelines corrupt silently). Doc counts per group catch row
    // splits from a mis-handled embedded newline.
    // Spark's CSV WRITER trims cell whitespace by default
    // (ignoreLeading/TrailingWhiteSpace=true on write, unlike read) —
    // whitespace-edged text would silently shrink through the
    // round-trip; pin both off. Schema comes from the parquet table
    // itself so the explicit-read schema can never drift from it.
    val p = stagedInput("csv", dir) { path =>
      t(s, dir, "documents").write.mode("overwrite")
        .option("header", "true").option("escape", "\"")
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .csv(path)
    }
    val schema = t(s, dir, "documents").schema
    s.read.schema(schema).option("header", "true")
      .option("multiLine", "true").option("escape", "\"").csv(p)
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).cast("long").as("sum_chars"),
        sum(col("n_chars")).as("sum_n_chars"))
      .orderBy("lang", "source")
  }(
    // same direct aggregation as qp_jsonl_ingest: the Spark side must
    // reproduce it THROUGH the CSV round-trip
    jsonlIngest.oracle)

  val decontaminateFuzzy = gate("qp_decontaminate_fuzzy") { (s, dir) =>
    // near-duplicate eval decontamination: MinHash band agreement picks
    // candidates, exact shingle Jaccard >= 0.5 confirms. Train side is
    // map-only (no shuffle) up to candidate verification; all
    // eval-derived relations are broadcast — see Dedup.fuzzyDecontaminate
    Dedup.fuzzyDecontaminate(docsFanned(s, dir), "doc_id", col("text"),
        TextAnalysis.md5Long(col("text")) % 20 === 1)
      .orderBy("doc_id")
  }(
    shinglesCte +
    s""",
       |sig AS (SELECT doc_id, $minhashSig FROM sh GROUP BY 1),
       |bands AS ($bandRows),
       |ev AS (SELECT doc_id, ${h("text")} % 20 = 1 AS is_eval FROM documents),
       |tb AS (SELECT b.* FROM bands b JOIN ev USING (doc_id) WHERE NOT is_eval),
       |eb AS (SELECT b.doc_id AS e_id, band, bkey
       |  FROM bands b JOIN ev USING (doc_id) WHERE is_eval),
       |pairs AS (SELECT DISTINCT tb.doc_id, eb.e_id
       |  FROM tb JOIN eb USING (band, bkey)),
       |sizes AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY 1),
       |common AS (SELECT p.doc_id, p.e_id, count(*) AS n_common
       |  FROM pairs p JOIN sh st ON st.doc_id = p.doc_id
       |  JOIN sh se ON se.doc_id = p.e_id AND st.sh = se.sh
       |  GROUP BY 1, 2),
       |j AS (SELECT c.doc_id, c.e_id,
       |    CAST(n_common AS DOUBLE)/(x.nsh + y.nsh - n_common) AS jac
       |  FROM common c JOIN sizes x ON c.doc_id = x.doc_id
       |  JOIN sizes y ON c.e_id = y.doc_id)
       |SELECT doc_id, count(*) AS n_eval_hits, max(jac) AS max_jaccard
       |FROM j WHERE jac >= 0.5 GROUP BY 1 ORDER BY 1""".stripMargin)

  val containment = gate("qp_containment") { (s, dir) =>
    // CONTAINMENT decontamination (the GPT-3/Llama n-gram overlap
    // rule): |train ∩ eval| / |eval| shingles >= 0.5, measured
    // relative to the EVAL doc — catches a short eval snippet inside
    // a long train doc, which Jaccard (qp_decontaminate_fuzzy) maps
    // to ~0. Candidacy = direct inverted-index join on broadcast eval
    // shingles (banding would approximate the WRONG metric); threshold
    // compared by integer cross-multiplication
    Dedup.containmentDecontaminate(t(s, dir, "documents"), "doc_id",
        col("text"), TextAnalysis.md5Long(col("text")) % 20 === 1)
      .orderBy("doc_id")
  }(
    shinglesCte +
    s""",
       |ev AS (SELECT doc_id, ${h("text")} % 20 = 1 AS is_eval FROM documents),
       |es AS (SELECT s.doc_id AS e_id, sh FROM sh s JOIN ev USING (doc_id)
       |  WHERE is_eval),
       |ts AS (SELECT s.doc_id, sh FROM sh s JOIN ev USING (doc_id)
       |  WHERE NOT is_eval),
       |ne AS (SELECT e_id, count(*) AS n_eval FROM es GROUP BY 1),
       |cm AS (SELECT t.doc_id, e.e_id, count(*) AS n_common
       |  FROM ts t JOIN es e USING (sh) GROUP BY 1, 2),
       |c AS (SELECT cm.doc_id, cm.n_common, ne.n_eval
       |  FROM cm JOIN ne USING (e_id)
       |  WHERE cm.n_common * 1000000 >= 500000 * ne.n_eval)
       |SELECT doc_id, count(*) AS n_eval_hits,
       |  max(CAST(n_common AS DOUBLE)/n_eval) AS max_containment
       |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)

  val tokenBudget = gate("qp_token_budget") { (s, dir) =>
    // token-budget corpus selection: highest-quality docs first until the
    // budget fills — distributed 2-pass prefix sum (range partition +
    // per-partition subtotals + broadcast carry-in), NOT a global
    // single-partition window; partitions wholly past the budget are
    // skipped before any row work
    val d = t(s, dir, "documents").filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), col("lang"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
    graft.ops.CorpusSelect.budgetPrefix(d, "n_tokens", 10000L,
        Seq(col("quality").desc, col("doc_id").asc), cumCol = "cum_tokens")
      .orderBy("cum_tokens")
  }(
    s"""WITH f AS (SELECT doc_id, lang,
       |    CAST(len($toks) AS BIGINT) AS n_tokens,
       |    $qualitySql AS quality
       |  FROM documents WHERE length(trim(text)) > 0),
       |c AS (SELECT *, CAST(sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
       |  FROM f)
       |SELECT doc_id, lang, n_tokens, quality, cum_tokens FROM c
       |WHERE cum_tokens <= 10000 ORDER BY cum_tokens""".stripMargin)
}
