package graft.gates

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.{Bpe, Chunker, Classify, Dedup, Ranking, RobustStats,
  Similarity, Sketches, TextAnalysis, UnigramLm, WordPiece, ZOrder}
import graft.fixtures.Tables._
import graft.fixtures.ZipfCorpus._
import graft.fixtures.Staging._
import graft.fixtures.SharedSql._

/** Text gates (`qt_*`): tokenizers, quality and language filters,
  * sampling, splits, packing and corpus statistics over the documents
  * table.
  */
object QtGates extends GateFamily {

  /** Shared signal relation of the Gopher filter gates
    * (qt_filter_report / qt_filter_ledger): ONE definition of the five
    * thresholds' inputs so the report and the ledger cannot drift. The
    * unigram-only stats skip repetitionStats' bigram shuffle — the
    * ledger/report never read dup_bigram_frac.
    */
  private def filterSignals(base: DataFrame): DataFrame =
    base.select(col("doc_id"),
        graft.ops.TextAnalysis.qualityScore(col("text")).as("quality"),
        graft.ops.TextAnalysis.tokenCount(col("text")).cast("long")
          .as("n_tokens"),
        (regexp_count(col("text"), lit("[A-Za-z]")).cast("double") /
          length(col("text"))).as("alpha_frac"))
      .join(graft.ops.TextAnalysis.topUnigramStats(base, "doc_id", col("text"))
        .select(col("doc_id"), col("top_unigram_frac")), "doc_id")

  /** DuckDB mirror of [[Ranking.bm25TopK]]: identical arithmetic grouping
    * and operand derivations (IEEE ops on equal inputs are bit-identical),
    * constants interpolated from the Scala doubles so both engines parse
    * the exact same values, per-term contributions quantized to micro-unit
    * BIGINTs before the (exact, integer) sum.
    */
  private def bm25OracleSql: String =
    s"""WITH ${bm25CoreCtes("")}
       |SELECT doc_id, dl,
       |  ${bm25ContribsSql} AS bm25_micro
       |FROM base, stats
       |ORDER BY bm25_micro DESC, doc_id
       |LIMIT 25""".stripMargin

  private val bpeish = """[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"""

  private val punct = """[^A-Za-z0-9\s]"""

  // unigram-LM shared CTEs: one Viterbi-DP round as a recursive CTE
  // over word positions carrying the last 4 (score, path) lags as
  // columns — candidate k left-joined from the round's prob table,
  // first-maximum (shortest-piece) tie-break as a CASE chain; plus the
  // seed + 2 training rounds prefix shared by qt_unigram_lm (final
  // vocab) and qt_unigram_encode (a third apply round).
  // prb CTEs are MATERIALIZED: each DP round references its prob table
  // 4x, so inlined CTEs re-evaluate the entire prior-round DP per
  // reference — cost ~4^rounds (measured 288 s for the 3-round encode
  // oracle at sf0.001 vs ~1 s materialized)
  private def ulmDpRound(r: Int, prb: String) =
    s"""seg$r(w, cnt, pos, b0, p0, b1, p1, b2, p2, b3, p3) AS (
       |  SELECT w, cnt, 0, CAST(1.0 AS DOUBLE), '',
       |    CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR),
       |    CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR),
       |    CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR)
       |  FROM wf
       |  UNION ALL
       |  SELECT w, cnt, pos + 1,
       |    CASE WHEN k1 IS NOT NULL AND (k2 IS NULL OR k1 >= k2)
       |           AND (k3 IS NULL OR k1 >= k3) AND (k4 IS NULL OR k1 >= k4)
       |      THEN k1
       |      WHEN k2 IS NOT NULL AND (k3 IS NULL OR k2 >= k3)
       |           AND (k4 IS NULL OR k2 >= k4) THEN k2
       |      WHEN k3 IS NOT NULL AND (k4 IS NULL OR k3 >= k4) THEN k3
       |      ELSE k4 END,
       |    CASE WHEN k1 IS NOT NULL AND (k2 IS NULL OR k1 >= k2)
       |           AND (k3 IS NULL OR k1 >= k3) AND (k4 IS NULL OR k1 >= k4)
       |      THEN p0 || '|' || substr(w, pos + 1, 1) || '|'
       |      WHEN k2 IS NOT NULL AND (k3 IS NULL OR k2 >= k3)
       |           AND (k4 IS NULL OR k2 >= k4)
       |      THEN p1 || '|' || substr(w, pos, 2) || '|'
       |      WHEN k3 IS NOT NULL AND (k4 IS NULL OR k3 >= k4)
       |      THEN p2 || '|' || substr(w, pos - 1, 3) || '|'
       |      WHEN k4 IS NOT NULL
       |      THEN p3 || '|' || substr(w, pos - 2, 4) || '|' END,
       |    b0, p0, b1, p1, b2, p2
       |  FROM (
       |    SELECT s.*,
       |      s.b0 * (v1.p / 1000000.0) AS k1,
       |      CASE WHEN s.pos >= 1 THEN s.b1 * (v2.p / 1000000.0) END AS k2,
       |      CASE WHEN s.pos >= 2 THEN s.b2 * (v3.p / 1000000.0) END AS k3,
       |      CASE WHEN s.pos >= 3 THEN s.b3 * (v4.p / 1000000.0) END AS k4
       |    FROM seg$r s
       |    LEFT JOIN $prb v1 ON v1.piece = substr(s.w, s.pos + 1, 1)
       |    LEFT JOIN $prb v2 ON s.pos >= 1 AND v2.piece = substr(s.w, s.pos, 2)
       |    LEFT JOIN $prb v3 ON s.pos >= 2 AND v3.piece = substr(s.w, s.pos - 1, 3)
       |    LEFT JOIN $prb v4 ON s.pos >= 3 AND v4.piece = substr(s.w, s.pos - 2, 4)
       |    WHERE s.pos < length(s.w)) x),
       |fin$r AS (SELECT w, cnt, p0 AS path FROM seg$r WHERE pos = length(w)),
       |cnts$r AS (SELECT piece, CAST(sum(cnt) AS BIGINT) AS pcnt FROM (
       |    SELECT unnest(string_split(trim(path, '|'), '||')) AS piece, cnt
       |    FROM fin$r) u GROUP BY 1),
       |tot$r AS (SELECT CAST(sum(pcnt) AS BIGINT) AS t FROM cnts$r),
       |prb$r AS MATERIALIZED (SELECT piece, (pcnt * 1000000) // tot$r.t AS p
       |  FROM cnts$r, tot$r)""".stripMargin

  private val ulmTrainCtes =
    s"""WITH RECURSIVE tok AS (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w
       |  FROM documents),
       |wf AS MATERIALIZED (SELECT w, count(*) AS cnt FROM tok
       |  WHERE regexp_matches(w, '^[A-Za-z]+$$') GROUP BY 1),
       |pos1 AS (SELECT w, cnt, unnest(range(length(w))) AS i FROM wf),
       |sub1 AS (SELECT w, cnt, i, unnest(range(1, 5)) AS k FROM pos1),
       |subs AS (SELECT substr(w, i + 1, k) AS piece,
       |    CAST(sum(cnt) AS BIGINT) AS scnt
       |  FROM sub1 WHERE i + k <= length(w) GROUP BY 1),
       |seedv AS (SELECT piece, scnt FROM (
       |    SELECT piece, scnt,
       |      row_number() OVER (ORDER BY scnt DESC, piece) AS rn
       |    FROM subs) rr WHERE rn <= 64 OR length(piece) = 1),
       |tot0 AS (SELECT CAST(sum(scnt) AS BIGINT) AS t FROM seedv),
       |prb0 AS MATERIALIZED (SELECT piece, (scnt * 1000000) // tot0.t AS p
       |  FROM seedv, tot0),
       |${ulmDpRound(1, "prb0")},
       |${ulmDpRound(2, "prb1")}""".stripMargin

  private val wpTrainCtes = wpTrainCtesFrom("documents")

  // Shared signal CTEs of the Gopher filter gates (report + ledger):
  // the SQL mirror of filterSignals — one definition of the
  // five thresholds' inputs so the two oracles can't drift either.
  private val filterSignalsCte =
    s"""WITH base AS (SELECT doc_id, text, $toks AS w FROM documents
       |  WHERE length(trim(text)) > 0),
       |u1 AS (SELECT doc_id, t, count(*) AS c FROM (
       |    SELECT doc_id, unnest(w) AS t FROM base) x GROUP BY 1, 2),
       |uni AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_c,
       |    CAST(sum(c) AS BIGINT) AS tok_sum FROM u1 GROUP BY 1),
       |d AS (SELECT b.doc_id,
       |    $qualitySql AS quality,
       |    CAST(len(w) AS BIGINT) AS n_tokens,
       |    CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE)
       |      / length(text) AS alpha_frac,
       |    CAST(u.top_c AS DOUBLE) / u.tok_sum AS top_unigram_frac
       |  FROM base b JOIN uni u USING (doc_id))
       |""".stripMargin

  val tokenStats = gate("qt_token_stats") { (s, dir) =>
    val d = t(s, dir, "documents")
    d.groupBy("lang").agg(
        sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("sum_tokens"),
        sum(TextAnalysis.regexTokenCount(col("text")).cast("long")).as("sum_bpeish"),
        sum(TextAnalysis.punctCount(col("text")).cast("long")).as("sum_punct"),
        count(lit(1)).as("n_docs"))
      .orderBy("lang")
  }(
    s"""SELECT lang,
       |  CAST(sum(CASE WHEN len(trim(text))=0 THEN 0 ELSE len($toks) END) AS BIGINT) AS sum_tokens,
       |  CAST(sum(len(regexp_extract_all(text, '$bpeish'))) AS BIGINT) AS sum_bpeish,
       |  CAST(sum(len(regexp_extract_all(text, '$punct'))) AS BIGINT) AS sum_punct,
       |  count(*) AS n_docs
       |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)

  val quality = gate("qt_quality") { (s, dir) =>
    val d = t(s, dir, "documents")
    val comps = TextAnalysis.qualityComponents(col("text"))
    d.select(
      col("doc_id") +: comps.map { case (n, c) => c.as(n) } :+
        TextAnalysis.qualityScore(col("text")).as("quality"): _*)
  }(
    s"""SELECT doc_id,
       |  CAST(length(text) AS BIGINT) AS n_chars_m,
       |  CAST(len($toks) AS BIGINT) AS n_tokens,
       |  CAST(len(regexp_extract_all(text, '$punct')) AS BIGINT) AS n_punct,
       |  CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) / length(text) AS alpha_ratio,
       |  CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) / len($toks) AS mean_tok_len,
       |  CAST(${profCount(TextAnalysis.StopwordProfiles.head._2)} AS DOUBLE) / len($toks) AS stop_ratio,
       |  $qualitySql AS quality
       |FROM documents""".stripMargin)

  val qualityOutliers = gate("qt_quality_outliers") { (s, dir) =>
    // robust quality outliers: exact median/MAD over the micro-unit
    // quality score (median via histogram + two-pass prefix-combine —
    // no global sort; see RobustStats), flag = dev > 3·MAD. The
    // robust center ignores the template-spam bursts that drag a mean
    val scored = docsFanned(s, dir)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"),
        round(TextAnalysis.qualityScore(col("text")) * 1000000)
          .cast("long").as("q_micro"))
    RobustStats.madOutliers(scored, "doc_id", "q_micro").orderBy("doc_id")
  }(
    // same quality formula in micro units; lower medians via
    // quantile_disc(0.5) (= the (n+1)//2-th smallest, verified
    // element-exact) — dv is MATERIALIZED (3 refs incl. the mad agg)
    s"""WITH q AS MATERIALIZED (SELECT doc_id,
       |    CAST(round(($qualitySql) * 1000000) AS BIGINT) AS q_micro
       |  FROM documents WHERE length(text) > 0),
       |med AS (SELECT quantile_disc(q_micro, 0.5) AS m FROM q),
       |dv AS MATERIALIZED (SELECT doc_id, q_micro,
       |    abs(q_micro - (SELECT m FROM med)) AS dev FROM q),
       |mad AS (SELECT quantile_disc(dev, 0.5) AS d FROM dv)
       |SELECT doc_id, q_micro, dev,
       |  dev > 3 * (SELECT d FROM mad) AS is_outlier
       |FROM dv ORDER BY doc_id""".stripMargin)

  val groupMedian = gate("qt_group_median") { (s, dir) =>
    // per-language EXACT median document length (tokens): the grouped
    // histogram median — cumulative window partitioned per group, so
    // it parallelizes across languages (see
    // RobustStats.groupedLowerMedian); the robust per-group length
    // profile a curation report publishes next to means
    val d = t(s, dir, "documents").select(col("lang"),
      size(TextAnalysis.tokens(col("text"))).cast("long").as("n_toks"))
    RobustStats.groupedLowerMedian(d, Seq("lang"), "n_toks")
      .orderBy("lang")
  }(
    s"""SELECT lang, CAST(count(*) AS BIGINT) AS n,
       |  quantile_disc(CAST(len($toks) AS BIGINT), 0.5) AS median
       |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)

  val groupOutliers = gate("qt_group_outliers") { (s, dir) =>
    // per-language robust length outliers: median/MAD within each
    // language's own distribution, fully relational (both medians
    // join back — nothing reaches the driver even with millions of
    // groups); see RobustStats.groupedMadOutliers
    val d = t(s, dir, "documents").select(col("lang"), col("doc_id"),
      size(TextAnalysis.tokens(col("text"))).cast("long").as("n_toks"))
    RobustStats.groupedMadOutliers(d, Seq("lang"), "doc_id", "n_toks")
      .orderBy("lang", "doc_id")
  }(
    // per-group quantile_disc medians for value and deviation, joined
    // back — dv MATERIALIZED (feeds the mad agg and the output)
    s"""WITH q AS MATERIALIZED (SELECT lang, doc_id,
       |    CAST(len($toks) AS BIGINT) AS n_toks
       |  FROM documents),
       |med AS (SELECT lang, quantile_disc(n_toks, 0.5) AS m
       |  FROM q GROUP BY 1),
       |dv AS MATERIALIZED (SELECT q.lang, q.doc_id, q.n_toks,
       |    abs(q.n_toks - med.m) AS dev
       |  FROM q JOIN med USING (lang)),
       |mad AS (SELECT lang, quantile_disc(dev, 0.5) AS d
       |  FROM dv GROUP BY 1)
       |SELECT dv.lang, dv.doc_id, dv.n_toks, dv.dev,
       |  dv.dev > 3 * mad.d AS is_outlier
       |FROM dv JOIN mad USING (lang)
       |ORDER BY dv.lang, dv.doc_id""".stripMargin)

  val lengthProfile = gate("qt_length_profile") { (s, dir) =>
    // per-language exact decile profile (p10/p50/p90 token lengths)
    // in ONE histogram pass — the three quantiles are conditional
    // mins over a shared per-group cumulative, not three sorts; the
    // length-distribution summary a dataset card publishes
    val d = t(s, dir, "documents").select(col("lang"),
      size(TextAnalysis.tokens(col("text"))).cast("long").as("n_toks"))
    RobustStats.groupedQuantilesDisc(d, Seq("lang"), "n_toks",
        Seq(("p10", 1L, 10L), ("p50", 1L, 2L), ("p90", 9L, 10L)))
      .orderBy("lang")
  }(
    s"""SELECT lang, CAST(count(*) AS BIGINT) AS n,
       |  quantile_disc(CAST(len($toks) AS BIGINT), 0.1) AS p10,
       |  quantile_disc(CAST(len($toks) AS BIGINT), 0.5) AS p50,
       |  quantile_disc(CAST(len($toks) AS BIGINT), 0.9) AS p90
       |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)

  val langid = gate("qt_langid") { (s, dir) =>
    t(s, dir, "documents").select(
      col("doc_id"),
      TextAnalysis.langId(col("text")).as("lang_pred"),
      (TextAnalysis.langId(col("text")) === col("lang")).as("is_match"))
  }(
    s"""WITH c AS (SELECT doc_id, lang, length(text) AS len,
       |    len(regexp_extract_all(text, '[一-鿿]')) AS cjk, $profCols
       |  FROM documents),
       |m AS (SELECT *, $mx AS mx FROM c)
       |SELECT doc_id, $langPred AS lang_pred, ($langPred) = lang AS is_match FROM m""".stripMargin)

  val epochShuffle = gate("qt_epoch_shuffle") { (s, dir) =>
    // deterministic per-epoch training order: position key =
    // md5(epoch || doc_id) — a seeded reshuffle that needs NO stored
    // permutation and reorders every epoch. At 100 TB this is a range
    // partition + within-partition sort on a uniform key (how Spark
    // sorts any volume); rand() would not be replayable and a stored
    // permutation is another full table. Gate takes each epoch's first
    // 10 docs — the head of the global order, a TakeOrdered.
    val d = t(s, dir, "documents").select("doc_id")
    val epochs = Seq(0, 1, 2).map { ep =>
      val key = md5(concat(lit(s"ep$ep:"), col("doc_id").cast("string")))
      d.select(lit(ep.toLong).as("epoch"), col("doc_id"), key.as("pos_key"))
        .orderBy("pos_key").limit(10)
    }
    epochs.reduce(_ unionByName _).orderBy("epoch", "pos_key")
  }(
    """WITH e AS (SELECT unnest(range(3)) AS epoch),
      |k AS (SELECT e.epoch, d.doc_id,
      |    md5('ep' || CAST(e.epoch AS VARCHAR) || ':' ||
      |        CAST(d.doc_id AS VARCHAR)) AS pos_key
      |  FROM e, documents d),
      |r AS (SELECT epoch, doc_id, pos_key,
      |    row_number() OVER (PARTITION BY epoch ORDER BY pos_key) AS rn
      |  FROM k)
      |SELECT epoch, doc_id, pos_key FROM r WHERE rn <= 10
      |ORDER BY epoch, pos_key""".stripMargin)

  val langConfusion = gate("qt_lang_confusion") { (s, dir) =>
    // language-ID audit: the confusion matrix of predicted vs labeled
    // language — the observability aggregation published with every
    // langid run; one codegen'd pass + one driver-sized aggregation
    t(s, dir, "documents")
      .groupBy(col("lang"), TextAnalysis.langId(col("text")).as("lang_pred"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "lang_pred")
  }(
    s"""WITH c AS (SELECT doc_id, lang, length(text) AS len,
       |    len(regexp_extract_all(text, '[一-鿿]')) AS cjk, $profCols
       |  FROM documents),
       |m AS (SELECT *, $mx AS mx FROM c)
       |SELECT lang, $langPred AS lang_pred, count(*) AS n_docs
       |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  val hashEmbed = gate("qt_hash_embed") { (s, dir) =>
    // feature-hashed BOW embedding (HashingTF): 8 token-hash buckets
    // per doc — the vocabulary-free text→vector bridge into the
    // similarity tier. Residues hash ONCE into a materialized column;
    // the per-dim counts are integer filters over it. Map-only: no
    // vocab aggregation, no shuffle at any corpus size.
    val dims = 8
    t(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("_toks"))
      .select(col("doc_id"),
        TextAnalysis.hashResidues(col("_toks"), dims).as("_res"),
        size(col("_toks")).cast("long").as("n_tokens"))
      .select(col("doc_id") +: col("n_tokens") +:
        TextAnalysis.hashEmbed(col("_res"), dims): _*)
      .orderBy("doc_id")
  }(
    {
    val res = s"""list_transform(w, t -> ${h("t")} % 8)"""
    val fs = (0 until 8).map(j =>
      s"CAST(len(list_filter(r, x -> x = $j)) AS BIGINT) AS f$j").mkString(",\n  ")
    s"""WITH tk AS (SELECT doc_id, $toks AS w FROM documents),
       |rs AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
       |    $res AS r FROM tk)
       |SELECT doc_id, n_tokens,
       |  $fs
       |FROM rs ORDER BY doc_id""".stripMargin
  })

  val fingerprint = gate("qt_fingerprint") { (s, dir) =>
    t(s, dir, "documents").select(
      col("doc_id"),
      TextAnalysis.fingerprint(col("text")).as("fp"),
      TextAnalysis.md5Long(col("text")).as("fp60"),
      TextAnalysis.rollingFingerprint(col("text")).as("rolling_fp"))
  }(
    s"""SELECT doc_id, md5(text) AS fp, ${h("text")} AS fp60,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(string_split(text,''), c -> CAST(ord(c) AS BIGINT))),
       |    (acc, x) -> (acc * 31 + x) % 1000000007) AS rolling_fp
       |FROM documents""".stripMargin)

  val lengthBuckets = gate("qt_length_buckets") { (s, dir) =>
    // sequence-length bucketing for training-batch packing: docs
    // histogrammed into power-of-2 token-count buckets per language.
    // Bucket = 2^(bitlength(n)-1) via the binary string length — exact
    // integer derivation in both engines (a float log2 could round
    // differently at power-of-2 boundaries across libms).
    val nTok = TextAnalysis.tokenCount(col("text")).cast("long")
    t(s, dir, "documents")
      .filter(length(trim(col("text"))) > 0)
      .select(col("lang"), nTok.as("n"))
      // shiftleft's shift amount must be a Column-typed expression → expr
      .withColumn("bucket_floor", expr("shiftleft(CAST(1 AS BIGINT), length(bin(n)) - 1)"))
      .groupBy("lang", "bucket_floor")
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("sum_tokens"))
      .orderBy("lang", "bucket_floor")
  }(
    s"""WITH d AS (SELECT lang, CAST(len($toks) AS BIGINT) AS n
       |  FROM documents WHERE length(trim(text)) > 0)
       |SELECT lang,
       |  CAST(1 << (length(bin(n)) - 1) AS BIGINT) AS bucket_floor,
       |  count(*) AS n_docs,
       |  CAST(sum(n) AS BIGINT) AS sum_tokens
       |FROM d GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  val filterReport = gate("qt_filter_report") { (s, dir) =>
    // the Gopher-rules filter REPORT a curation run publishes next to
    // its output: each rule's (non-exclusive) hit count plus the
    // surviving count, one wide row. Rules compose the proven signal
    // fragments (the shared filterSignals relation) — length bounds,
    // alpha fraction, top-unigram repetition, composite quality — so
    // thresholds compare IDENTICAL doubles in both engines. Cost =
    // one unigram aggregation + one codegen projection + one global
    // agg.
    val d = filterSignals(
      t(s, dir, "documents").filter(length(trim(col("text"))) > 0))
    def hits(c: Column) = sum(when(c, 1L).otherwise(0L))
    d.agg(count(lit(1)).as("n_total"),
      hits(col("n_tokens") < 5).as("n_short"),
      hits(col("n_tokens") > 5000).as("n_long"),
      hits(col("alpha_frac") < 0.2).as("n_low_alpha"),
      hits(col("top_unigram_frac") > 0.2).as("n_repetitive"),
      hits(col("quality") < 0.45).as("n_low_quality"),
      hits(col("n_tokens") >= 5 && col("n_tokens") <= 5000 &&
        col("alpha_frac") >= 0.2 && col("top_unigram_frac") <= 0.2 &&
        col("quality") >= 0.45).as("n_kept"))
  }(
    filterSignalsCte +
    s"""SELECT count(*) AS n_total,
       |  CAST(sum(CASE WHEN n_tokens < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
       |  CAST(sum(CASE WHEN n_tokens > 5000 THEN 1 ELSE 0 END) AS BIGINT) AS n_long,
       |  CAST(sum(CASE WHEN alpha_frac < 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS n_low_alpha,
       |  CAST(sum(CASE WHEN top_unigram_frac > 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive,
       |  CAST(sum(CASE WHEN quality < 0.45 THEN 1 ELSE 0 END) AS BIGINT) AS n_low_quality,
       |  CAST(sum(CASE WHEN n_tokens >= 5 AND n_tokens <= 5000
       |    AND alpha_frac >= 0.2 AND top_unigram_frac <= 0.2
       |    AND quality >= 0.45 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
       |FROM d""".stripMargin)

  val filterLedger = gate("qt_filter_ledger") { (s, dir) =>
    // per-doc filter provenance — the dropLedger twin for quality
    // rules: one row per REJECTED doc with the FIRST failing rule by
    // fixed priority (structural before statistical), the audit trail
    // a curation run keeps next to qt_filter_report's counts. Same
    // shared filterSignals relation, one codegen when-chain — no new
    // aggregation shape.
    filterSignals(
        t(s, dir, "documents").filter(length(trim(col("text"))) > 0))
      .withColumn("reason",
        when(col("n_tokens") < 5, "short")
          .when(col("n_tokens") > 5000, "long")
          .when(col("alpha_frac") < 0.2, "low_alpha")
          .when(col("top_unigram_frac") > 0.2, "repetitive")
          .when(col("quality") < 0.45, "low_quality"))
      .filter(col("reason").isNotNull)
      .select("doc_id", "reason")
      .orderBy("doc_id")
  }(
    // per-doc rejection provenance: same shared d relation as the
    // report, CASE chain in the report's priority order
    filterSignalsCte +
    """SELECT doc_id,
      |  CASE WHEN n_tokens < 5 THEN 'short'
      |       WHEN n_tokens > 5000 THEN 'long'
      |       WHEN alpha_frac < 0.2 THEN 'low_alpha'
      |       WHEN top_unigram_frac > 0.2 THEN 'repetitive'
      |       WHEN quality < 0.45 THEN 'low_quality' END AS reason
      |FROM d WHERE reason IS NOT NULL ORDER BY doc_id""".stripMargin)

  val upsample = gate("qt_upsample") { (s, dir) =>
    // the UPSAMPLING half of mixture construction (qt_mixture
    // downsamples): low-resource languages get an integer repeat
    // factor √(n_max/n) clamped to [1, 4] — the standard
    // repeat-epochs flattening. floor∘sqrt∘division is portable: each
    // step correctly rounded, and a non-square ratio of small
    // integers sits far further from an integer than one ulp.
    // Driver-sized relation (one row per language) end to end.
    import org.apache.spark.sql.expressions.Window
    val c = t(s, dir, "documents").groupBy("lang")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("n_max", max("n_docs").over(Window.partitionBy()))
    val factor = least(lit(4L), greatest(lit(1L),
      floor(sqrt(col("n_max").cast("double") / col("n_docs"))).cast("long")))
    c.select(col("lang"), col("n_docs"), factor.as("repeat_factor"),
        (col("n_docs") * factor).as("n_docs_after"))
      .orderBy("lang")
  }(
    """WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
      |m AS (SELECT lang, n_docs, max(n_docs) OVER () AS n_max FROM c),
      |f AS (SELECT lang, n_docs,
      |    least(4, greatest(1,
      |      CAST(floor(sqrt(CAST(n_max AS DOUBLE) / n_docs)) AS BIGINT))) AS repeat_factor
      |  FROM m)
      |SELECT lang, n_docs, repeat_factor,
      |  n_docs * repeat_factor AS n_docs_after
      |FROM f ORDER BY lang""".stripMargin)

  val shardPack = gate("qt_shard_pack") { (s, dir) =>
    // token-budget output sharding in ONE deterministic global order
    // (the epoch-shuffle key): shard = floor(preceding-cum / 2000),
    // computed by the two-pass prefix — no global window (qt_packing's
    // shape parallelizes per language; this is the final
    // write-the-corpus-as-shards pass, one total order at any volume).
    // Shard id is exact long arithmetic in the pass-2 fold.
    val d = t(s, dir, "documents").filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
        md5(concat(lit("shard:"), col("doc_id").cast("string"))).as("k"))
    graft.ops.CorpusSelect.shardAssign(d, "n_tokens", 2000L,
        Seq(col("k"), col("doc_id")), cumCol = "cum_tokens")
      .drop("k").orderBy("doc_id")
  }(
    // token-budget shard assignment replay — shared by qt_shard_pack and
    // its single-pass streaming twin qt_stream_shards.
    // Window sums over integers are CAST to BIGINT before selection:
    // newer DuckDB promotes integer window sums to HUGEINT, and an
    // un-cast HUGEINT output column renders differently across engine
    // versions (the r14 driver-red root cause).
    s"""WITH d AS (SELECT doc_id, CAST(len($toks) AS BIGINT) AS n_tokens,
       |    md5('shard:' || CAST(doc_id AS VARCHAR)) AS k
       |  FROM documents WHERE length(trim(text)) > 0),
       |c AS (SELECT doc_id, n_tokens,
       |    CAST(sum(n_tokens) OVER (ORDER BY k, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_tokens
       |  FROM d)
       |SELECT doc_id, n_tokens, cum_tokens,
       |  CAST((cum_tokens - n_tokens) // 2000 AS BIGINT) AS shard
       |FROM c ORDER BY doc_id""".stripMargin)

  val packManifest = gate("qt_pack_manifest") { (s, dir) =>
    // the pack MANIFEST a training loader consumes: per (lang, pack)
    // the member count, token fill, and an order-faithful fingerprint
    // of the membership — md5 over doc_ids joined in the packing order
    // (tokens desc, doc_id; encoded as sort_array over struct(-n, id),
    // so the fingerprint is engine-portable without array-column
    // compare hazards). Same per-lang window shape as qt_packing.
    import org.apache.spark.sql.expressions.Window
    val budget = 4096L
    val nTok = TextAnalysis.tokenCount(col("text")).cast("long")
    val d = t(s, dir, "documents")
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), col("lang"), nTok.as("n"))
      .filter(col("n") <= budget)
    val w = Window.partitionBy("lang").orderBy(col("n").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.withColumn("cum", sum(col("n")).over(w))
      .withColumn("pack_id", floor((col("cum") - col("n")) / budget).cast("long"))
      .groupBy("lang", "pack_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("fill_tokens"),
        md5(concat_ws(",",
          transform(
            sort_array(collect_list(struct((-col("n")).as("a"),
              col("doc_id").as("b")))),
            x => x("b").cast("string")))).as("manifest_md5"))
      .orderBy("lang", "pack_id")
  }(
    s"""WITH d AS (SELECT doc_id, lang, CAST(len($toks) AS BIGINT) AS n
       |  FROM documents WHERE length(trim(text)) > 0
       |    AND CAST(len($toks) AS BIGINT) <= 4096),
       |c AS (SELECT doc_id, lang, n,
       |    sum(n) OVER (PARTITION BY lang ORDER BY n DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM d),
       |p AS (SELECT lang, doc_id, n, CAST(floor((cum - n) / 4096) AS BIGINT) AS pack_id
       |  FROM c)
       |SELECT lang, pack_id, count(*) AS n_docs,
       |  CAST(sum(n) AS BIGINT) AS fill_tokens,
       |  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY n DESC, doc_id))
       |    AS manifest_md5
       |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  val streamShards = gate("qt_stream_shards") { (s, dir) =>
    // STREAMING shard assignment (CorpusSelect.streamingShardAssign):
    // the continuous corpus-builder output stage. One AvailableNow
    // pass reproduces the batch shardAssign exactly — shares
    // qt_shard_pack's oracle; multi-batch carry, restart continuation,
    // and replay idempotence are spec'd in StreamingShardAssignSpec.
    val tmp = scratchDir("graft_qtss")
    val src = stagedInput("qtsp", dir) { p =>
      t(s, dir, "documents").filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
          md5(concat(lit("shard:"), col("doc_id").cast("string"))).as("k"))
        .write.mode("overwrite").parquet(p)
    }
    val stream = s.readStream.schema(
      new org.apache.spark.sql.types.StructType()
        .add("doc_id", "long").add("n_tokens", "long").add("k", "string"))
      .parquet(src)
    val q = graft.ops.CorpusSelect.streamingShardAssign(stream, "n_tokens",
      2000L, Seq(col("k"), col("doc_id")), s"$tmp/out", s"$tmp/ckpt")
    q.awaitTermination()
    s.read.parquet(s"$tmp/out")
      .select(col("doc_id"), col("n_tokens"),
        col("cum_weight").as("cum_tokens"), col("shard"))
      .orderBy("doc_id")
  }(
    // single-pass streaming form reproduces the batch assignment
    shardPack.oracle)

  val stratified = gate("qt_stratified") { (s, dir) =>
    // stratified reproducible sampling: per-language md5-residue rates
    // (en 10%, de 20%, fr 50%, others 100%) — deterministic across
    // engines and runs, unlike rand-based sampleBy
    val residue = TextAnalysis.md5Long(col("text")) % 100
    val rate = when(col("lang") === "en", 10)
      .when(col("lang") === "de", 20)
      .when(col("lang") === "fr", 50)
      .otherwise(100)
    t(s, dir, "documents")
      .filter(residue < rate)
      .groupBy("lang").agg(count(lit(1)).as("n_sampled"))
      .orderBy("lang")
  }(
    s"""SELECT lang, count(*) AS n_sampled FROM documents
       |WHERE ${h("text")} % 100 <
       |  CASE WHEN lang = 'en' THEN 10 WHEN lang = 'de' THEN 20
       |       WHEN lang = 'fr' THEN 50 ELSE 100 END
       |GROUP BY 1 ORDER BY 1""".stripMargin)

  val sample = gate("qt_sample") { (s, dir) =>
    // reproducible systematic sampling: keep docs whose 60-bit md5 hash
    // lands in a 1/10 residue class — deterministic across engines and
    // runs, unlike rand()-based sampling
    t(s, dir, "documents")
      .filter(TextAnalysis.md5Long(col("text")) % 10 === 0)
      .groupBy("lang").agg(count(lit(1)).as("n_sampled"))
      .orderBy("lang")
  }(
    s"""SELECT lang, count(*) AS n_sampled FROM documents
       |WHERE ${h("text")} % 10 = 0 GROUP BY 1 ORDER BY 1""".stripMargin)

  val normalize = gate("qt_normalize") { (s, dir) =>
    // unicode canonicalization (NFC) — the dedup-prep step: visually
    // identical strings with different codepoint sequences must hash
    // alike. Deterministic injection of a DECOMPOSED suffix
    // (e + combining acute U+0301) on every 3rd doc; the native codegen
    // expression composes it back to the precomposed form. DuckDB's
    // nfc_normalize replays NFC exactly (both implement the Unicode
    // canonical-composition standard).
    val d = t(s, dir, "documents")
    val inj = concat(col("text"),
      when(col("doc_id") % 3 === 0, lit(" café")).otherwise(lit("")))
    val norm = graft.plans.UnicodeNormalize.nfc(col("t"))
    d.select(col("doc_id"), inj.as("t"))
      .select(col("doc_id"),
        (norm =!= col("t")).as("changed"),
        (length(col("t")) - length(norm)).cast("long").as("len_delta"),
        md5(norm).as("norm_md5"))
      .orderBy("doc_id")
  }(
    """WITH inj AS (SELECT doc_id,
      |    text || CASE WHEN doc_id % 3 = 0 THEN ' cafe' || chr(769) ELSE '' END AS t
      |  FROM documents)
      |SELECT doc_id, nfc_normalize(t) <> t AS changed,
      |  CAST(length(t) - length(nfc_normalize(t)) AS BIGINT) AS len_delta,
      |  md5(nfc_normalize(t)) AS norm_md5
      |FROM inj ORDER BY doc_id""".stripMargin)

  val weightedSample = gate("qt_weighted_sample") { (s, dir) =>
    // weighted sampling without replacement (sequential Poisson): 5 docs
    // per language with inclusion probability ∝ token count — the
    // "prefer longer/heavier documents" sampling knob. Deterministic
    // across runs AND engines: priority = integer hash ÷ integer weight,
    // both < 2^53, and IEEE division is correctly rounded, so the 64
    // priority bits match DuckDB's exactly. Bounded aggregator underneath
    // (topPerGroup) — no per-group sort, skew-immune.
    val d = t(s, dir, "documents").filter(length(trim(col("text"))) > 0)
    graft.ops.CorpusSelect.weightedSamplePerGroup(d, "lang", "doc_id",
        weight = TextAnalysis.tokenCount(col("text")).cast("long"),
        uniformHash = TextAnalysis.md5Long(col("text")) % (1L << 40),
        n = 5)
      .orderBy("lang", "doc_id")
  }(
    s"""WITH d AS (SELECT lang, doc_id,
       |    CAST(${h("text")} % 1099511627776 AS DOUBLE) /
       |      CAST(len($toks) AS DOUBLE) AS priority
       |  FROM documents WHERE length(trim(text)) > 0),
       |r AS (SELECT *, row_number() OVER (PARTITION BY lang
       |    ORDER BY priority, doc_id) AS rn FROM d)
       |SELECT lang, doc_id, priority FROM r
       |WHERE rn <= 5 ORDER BY lang, doc_id""".stripMargin)

  val mixture = gate("qt_mixture") { (s, dir) =>
    // temperature-based language rebalancing (the multilingual
    // data-mixing staple): keep-rate per lang ∝ n^α / n at α = 0.5,
    // normalized so the SMALLEST language keeps 100% (a filter can
    // only downsample) — flattens the language distribution toward
    // uniform without an upsampling pass. Rates derive from corpus
    // counts: one driver-sized aggregation, thresholds broadcast as a
    // literal map, then a deterministic md5-residue map-side filter —
    // no per-doc shuffle at any corpus size. sqrt/division/floor are
    // IEEE-exact in both engines, so thresholds are bit-identical.
    val counts = t(s, dir, "documents").groupBy("lang")
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    if (counts.isEmpty)
      // empty corpus degrades to an empty result (same schema), like
      // every sibling sampling gate — not a driver-side empty.min crash
      t(s, dir, "documents")
        .groupBy("lang").agg(count(lit(1)).as("n_kept")).orderBy("lang")
    else {
      val nMin = counts.values.min.toDouble
      val thr = counts.map { case (lang, n) =>
        lang -> math.floor(10000.0 * math.sqrt(nMin) / math.sqrt(n.toDouble)).toLong
      }
      val residue = TextAnalysis.md5Long(col("text")) % 10000
      t(s, dir, "documents")
        .filter(residue < element_at(typedLit(thr), col("lang")))
        .groupBy("lang").agg(count(lit(1)).as("n_kept"))
        .orderBy("lang")
    }
  }(
    s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
       |mn AS (SELECT min(n) AS nmin FROM c),
       |t AS (SELECT lang,
       |    CAST(floor(10000.0 * sqrt(nmin) / sqrt(n)) AS BIGINT) AS thr
       |  FROM c, mn)
       |SELECT d.lang, count(*) AS n_kept
       |FROM documents d JOIN t ON d.lang = t.lang
       |WHERE ${h("text")} % 10000 < t.thr
       |GROUP BY 1 ORDER BY 1""".stripMargin)

  val splitGate = gate("qt_split") { (s, dir) =>
    // deterministic train/val/test assignment: md5-residue buckets
    // (90/5/5) — reproducible across engines, runs, and cluster sizes
    // (a pure function of the row, unlike randomSplit), the standard
    // hash-split for training corpora
    val bucket = TextAnalysis.md5Long(col("text")) % 100
    val split = when(bucket < 90, "train").when(bucket < 95, "val")
      .otherwise(lit("test"))
    t(s, dir, "documents")
      .groupBy(split.as("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      .orderBy("split", "lang")
  }(
    s"""SELECT CASE WHEN h < 90 THEN 'train' WHEN h < 95 THEN 'val'
       |            ELSE 'test' END AS split,
       |  lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
       |FROM (SELECT lang, n_chars, ${h("text")} % 100 AS h FROM documents)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  val splitGrouped = gate("qt_split_grouped") { (s, dir) =>
    // leakage-free split: the fold is a function of the SOURCE, so every
    // doc from one source lands in one fold — near-dups within a source
    // can never straddle train/val (doc-level hash splits leak exactly
    // this way). Map-only assignment; purity holds by construction, and
    // the n_sources column lets the oracle check it (sum over folds =
    // global distinct sources)
    // md5Long is nonnegative (15 hex chars < 2^60), so plain % matches
    // the oracle's %
    val fold = TextAnalysis.md5Long(col("source")) % 10
    t(s, dir, "documents")
      .groupBy(fold.as("fold"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        sum("n_chars").as("sum_chars"))
      .orderBy("fold")
  }(
    s"""SELECT ${h("source")} % 10 AS fold, count(*) AS n_docs,
       |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
       |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)

  val splitSafe = gate("qt_split_safe") { (s, dir) =>
    // contamination-safe split: fold = hash of the near-dup COMPONENT
    // representative, so twin documents can never straddle train/eval —
    // the leak a doc-level hash split has by construction. n_cross (the
    // count of verified near-dup pairs whose ends disagree on fold)
    // rides every row as the purity witness: 0 here by construction,
    // recomputed independently by the oracle's recursive closure.
    val r = Dedup.contaminationSafeSplit(
      t(s, dir, "documents"), "doc_id", col("text"))
    try {
      // folds is evaluated three times (both sides of the purity-count
      // join, then the gate output), each a corpus-id scan joined to the
      // component labels. At sf0.1 (local[4], interleaved runs) a lazy
      // persist saved nothing (median 3.58 s against 3.58 s, 8 runs
      // each) and a localCheckpoint about 0.3 s (3.29 s against 3.63 s,
      // 4 runs each) for a block that is lost with its executor, so the
      // gate caches nothing
      val folds = r.folds
      val fa = folds.select(col("doc_id").as("doc_a"), col("fold").as("fold_a"))
      val fb = folds.select(col("doc_id").as("doc_b"), col("fold").as("fold_b"))
      val nCross = r.pairs.join(fa, "doc_a").join(fb, "doc_b")
        .filter(col("fold_a") =!= col("fold_b")).count()
      folds.withColumn("n_cross", lit(nCross)).orderBy("doc_id")
    } finally r.pairs.unpersist()
  }(
    // same reachability closure as qd_components; representative =
    // component label where one exists, else the doc's own id; fold =
    // the shared md5 hash of the representative's decimal rendering.
    // The scalar subquery recomputes the purity witness from the
    // verified pairs — it must be 0, and hash-compares against the
    // Spark side's independently counted lit column.
    minhashPairsCtes.replaceFirst("WITH ", "WITH RECURSIVE ") +
    s""",
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM mp
       |  UNION SELECT doc_b, doc_a FROM mp),
       |reach(id, comp) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r2.comp FROM edges e JOIN reach r2 ON e.dst = r2.id),
       |comps AS (SELECT id AS doc_id, min(comp) AS comp FROM reach GROUP BY 1),
       |ff AS (SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS rep,
       |    ${h("CAST(coalesce(c.comp, d.doc_id) AS VARCHAR)")} % 10 AS fold
       |  FROM documents d LEFT JOIN comps c USING (doc_id))
       |SELECT doc_id, rep, fold,
       |  (SELECT count(*) FROM mp JOIN ff a ON mp.doc_a = a.doc_id
       |     JOIN ff b ON mp.doc_b = b.doc_id
       |   WHERE a.fold <> b.fold) AS n_cross
       |FROM ff ORDER BY doc_id""".stripMargin)

  val qualityTopk = gate("qt_quality_topk") { (s, dir) =>
    // top-decile quality filter as a COUNT-fraction prefix: weight 1 +
    // fraction 1/10 is a distributed top-k (no global window, partitions
    // past the cutoff skipped), with k resolved from pass-1 subtotals —
    // no separate count() scan of the corpus. Rank threshold, not a
    // quantile-value threshold: integer semantics survive engine
    // differences in percentile interpolation
    val d = t(s, dir, "documents").filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), col("lang"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
    graft.ops.CorpusSelect.fractionPrefix(
        d.withColumn("one", lit(1L)), "one", 1L, 10L,
        Seq(col("quality").desc, col("doc_id").asc), cumCol = "rank")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        (sum(round(col("quality") * 1000000).cast("long")) / 1000000.0).as("quality_sum"))
      .orderBy("lang")
  }(
    s"""WITH f AS (SELECT doc_id, lang,
       |    $qualitySql AS quality
       |  FROM documents WHERE length(trim(text)) > 0),
       |r AS (SELECT *, row_number() OVER (ORDER BY quality DESC, doc_id) AS rnk,
       |    (SELECT count(*) FROM f) AS n FROM f)
       |SELECT lang, count(*) AS n_docs,
       |  sum(CAST(round(quality*1000000) AS BIGINT))/1000000.0 AS quality_sum
       |FROM r WHERE rnk <= ceil(n / 10.0) GROUP BY 1 ORDER BY 1""".stripMargin)

  val langBudget = gate("qt_lang_budget") { (s, dir) =>
    // per-language token budget, best documents first — the mixture-
    // construction primitive as a grouped two-pass prefix: no
    // per-group window sort, skippable partitions, driver state
    // O(partitions + groups)
    val d = t(s, dir, "documents").filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), col("lang"),
        TextAnalysis.qualityScore(col("text")).as("quality"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
    // order by integer micro-unit quality — the repo's portability
    // doctrine: a raw-double ORDER BY feeding hashed output can resolve
    // near-ties differently across engines
    graft.ops.CorpusSelect.groupedBudgetPrefix(d, "lang", "n_tokens",
        budgetPerGroup = 5000L,
        Seq(round(col("quality") * 1000000).cast("long").desc,
          col("doc_id").asc), cumCol = "cum_tokens")
      .select("doc_id", "lang", "n_tokens", "cum_tokens")
      .orderBy("lang", "doc_id")
  }(
    // Ordering uses integer micro-unit quality (not the raw double) so
    // both engines resolve near-ties identically, and the window cumsum
    // is CAST to BIGINT before selection (HUGEINT rendering hazard).
    s"""WITH d AS (SELECT doc_id, lang,
       |    CAST(round(($qualitySql) * 1000000) AS BIGINT) AS q_micro,
       |    CAST(len($toks) AS BIGINT) AS n_tokens
       |  FROM documents WHERE length(trim(text)) > 0),
       |c AS (SELECT doc_id, lang, n_tokens,
       |    CAST(sum(n_tokens) OVER (PARTITION BY lang
       |      ORDER BY q_micro DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_tokens
       |  FROM d)
       |SELECT doc_id, lang, n_tokens, cum_tokens FROM c
       |WHERE cum_tokens <= 5000 ORDER BY lang, doc_id""".stripMargin)

  val sourceCap = gate("qt_source_cap") { (s, dir) =>
    // per-source document cap ("best 3 pages per domain"): bounded
    // top-n Aggregator, NOT a row_number window — partial aggregation
    // ships at most n rows per source per task, so a skewed source
    // never funnels its members through one sort
    graft.ops.CorpusSelect.topPerGroup(
        t(s, dir, "documents").filter(length(trim(col("text"))) > 0),
        "source", TextAnalysis.qualityScore(col("text")), "doc_id",
        n = 3, scoreName = "quality")
      .orderBy("source", "doc_id")
  }(
    // per-source cap replay — shared by qt_source_cap and its streaming
    // leaderboard twin qt_stream_cap
    s"""SELECT source, doc_id, quality FROM (
       |  SELECT source, doc_id, $qualitySql AS quality,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY $qualitySql DESC, doc_id) AS rn
       |  FROM documents WHERE length(trim(text)) > 0)
       |WHERE rn <= 3 ORDER BY source, doc_id""".stripMargin)

  val packing = gate("qt_packing") { (s, dir) =>
    // cumulative sequence packing for training batches: within each
    // language, docs ordered by (tokens desc, doc_id) get running-sum
    // pack ids — pack = floor(preceding-cumsum / budget). The window
    // runs per language partition (parallel across langs); exact
    // first-fit is inherently sequential, this is the standard
    // distributed approximation. Summary: packs per lang + fill stats.
    import org.apache.spark.sql.expressions.Window
    val budget = 4096L
    val nTok = TextAnalysis.tokenCount(col("text")).cast("long")
    val d = t(s, dir, "documents")
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), col("lang"), nTok.as("n"))
      .filter(col("n") <= budget)
    val w = Window.partitionBy("lang").orderBy(col("n").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.withColumn("cum", sum(col("n")).over(w))
      .withColumn("pack_id", floor((col("cum") - col("n")) / budget).cast("long"))
      .groupBy("lang")
      .agg(countDistinct(col("pack_id")).as("n_packs"),
        count(lit(1)).as("n_docs"),
        sum(col("n")).as("total_tokens"))
      .orderBy("lang")
  }(
    s"""WITH d AS (SELECT doc_id, lang, CAST(len($toks) AS BIGINT) AS n
       |  FROM documents WHERE length(trim(text)) > 0
       |    AND CAST(len($toks) AS BIGINT) <= 4096),
       |p AS (SELECT lang, n,
       |    (sum(n) OVER (PARTITION BY lang ORDER BY n DESC, doc_id
       |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n) // 4096 AS pack_id
       |  FROM d)
       |SELECT lang, CAST(count(DISTINCT pack_id) AS BIGINT) AS n_packs,
       |  count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS total_tokens
       |FROM p GROUP BY 1 ORDER BY 1""".stripMargin)

  val streamCap = gate("qt_stream_cap") { (s, dir) =>
    // STREAMING per-group cap (CorpusSelect.streamingTopPerGroup): the
    // continuous leaderboard. Bounded top-n is batch-split-insensitive,
    // so the final winners ledger equals the batch topPerGroup — shares
    // qt_source_cap's oracle; arrival-order invariance, restart, and
    // replay are spec'd in StreamingTopPerGroupSpec.
    val tmp = scratchDir("graft_qtsc")
    val src = stagedInput("qtcap", dir) { p =>
      t(s, dir, "documents").filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"), col("source"),
          TextAnalysis.qualityScore(col("text")).as("q"))
        .write.mode("overwrite").parquet(p)
    }
    val stream = s.readStream.schema(
      new org.apache.spark.sql.types.StructType()
        .add("doc_id", "long").add("source", "string").add("q", "double"))
      .parquet(src)
    val q = graft.ops.CorpusSelect.streamingTopPerGroup(stream, "source",
      col("q"), "doc_id", n = 3, s"$tmp/out", s"$tmp/ckpt",
      scoreName = "quality")
    q.awaitTermination()
    val last = graft.ops.CorpusSelect.winnersBatches(s, s"$tmp/out").max
    s.read.parquet(s"$tmp/out/winners_batch=$last")
      .orderBy("source", "doc_id")
  }(
    // the final winners ledger of the streamed fold equals the batch
    // per-group cap (bounded top-n is batch-split-insensitive)
    sourceCap.oracle)

  val pii = gate("qt_pii") { (s, dir) =>
    // PII scrub (C4/Dolma-style): the synthetic corpus is digit-free,
    // so the gate injects deterministic PII (email, phone, dotted-quad
    // IP) from doc fields with the same concat in both engines, then
    // counts per kind and hashes the redacted text. Map-only pass —
    // regexp_count/regexp_replace stay in whole-stage codegen.
    val injected = concat(
      lit("reach user"), col("doc_id").cast("string"),
      lit("@example.com or ("),
      lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
      lit(") "), lpad(((col("doc_id") * 3) % 1000).cast("string"), 3, "0"),
      lit("-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
      lit(" or 10.0."), (col("doc_id") % 200).cast("string"),
      lit("."), ((col("doc_id") * 7) % 250).cast("string"),
      lit(" -- "), col("text"))
    val counts = TextAnalysis.piiCounts(injected).map { case (n, c) => c.as(n) }
    t(s, dir, "documents")
      .select(col("doc_id") +: counts :+
        md5(TextAnalysis.piiRedact(injected)).as("redacted_md5"): _*)
      .orderBy("doc_id")
  }(
    {
    val Seq(email, phone, ip) = TextAnalysis.PiiPatterns.map(_._2)
    val redacted = TextAnalysis.PiiPatterns.foldLeft("t") {
      case (acc, (_, pat, tok)) => s"regexp_replace($acc, '$pat', '$tok', 'g')"
    }
    s"""WITH inj AS (SELECT doc_id,
       |  'reach user' || CAST(doc_id AS VARCHAR) || '@example.com or (' ||
       |  lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || ') ' ||
       |  lpad(CAST((doc_id * 3) % 1000 AS VARCHAR), 3, '0') || '-' ||
       |  lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' or 10.0.' ||
       |  CAST(doc_id % 200 AS VARCHAR) || '.' || CAST((doc_id * 7) % 250 AS VARCHAR) ||
       |  ' -- ' || text AS t FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(t, '$email')) AS BIGINT) AS n_email,
       |  CAST(len(regexp_extract_all(t, '$phone')) AS BIGINT) AS n_phone,
       |  CAST(len(regexp_extract_all(t, '$ip')) AS BIGINT) AS n_ip,
       |  md5($redacted) AS redacted_md5
       |FROM inj ORDER BY doc_id""".stripMargin
  })

  val markup = gate("qt_markup") { (s, dir) =>
    // boilerplate/markup stripping (C4-style): the synthetic corpus has
    // no HTML, so the gate wraps each doc in deterministic markup from
    // its own fields (same concat in both engines), then strips and
    // hashes. Map-only regexp chain — stays in whole-stage codegen.
    val injected = concat(
      lit("<div id=\""), col("doc_id").cast("string"),
      lit("\"><p class=\"x\">"), col("text"),
      lit(" &amp; "), col("lang"), lit("</p></div><br/>"))
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.tagCount(injected).as("n_tags"),
        md5(TextAnalysis.stripMarkup(injected)).as("clean_md5"))
      .orderBy("doc_id")
  }(
    {
    val chain = TextAnalysis.MarkupSteps.foldLeft("t") {
      case (acc, (pat, rep)) =>
        s"regexp_replace($acc, '$pat', '${rep.replace("'", "''")}', 'g')"
    }
    s"""WITH inj AS (SELECT doc_id,
       |  '<div id="' || CAST(doc_id AS VARCHAR) || '"><p class="x">' ||
       |  text || ' &amp; ' || lang || '</p></div><br/>' AS t
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(t, '<[^>]*>')) AS BIGINT) AS n_tags,
       |  md5(trim(regexp_replace($chain, '\\s+', ' ', 'g'))) AS clean_md5
       |FROM inj ORDER BY doc_id""".stripMargin
  })

  val lmScore = gate("qt_lm_score") { (s, dir) =>
    // corpus-trained bigram-LM quality signal (CCNet-style filter,
    // exact-integer probabilities — see TextAnalysis.bigramLmScore)
    TextAnalysis.bigramLmScore(t(s, dir, "documents"), "doc_id", col("text"))
      .orderBy("doc_id")
  }(
    s"""WITH base AS (SELECT doc_id, $toks AS w FROM documents
       |  WHERE length(trim(text)) > 0),
       |bgs AS (SELECT doc_id,
       |    unnest(list_transform(range(len(w)-1), i -> w[i+1]||' '||w[i+2])) AS bg
       |  FROM base WHERE len(w) >= 2),
       |c2 AS (SELECT bg, count(*) AS c2 FROM bgs GROUP BY 1),
       |cp AS (SELECT split_part(bg, ' ', 1) AS w1, CAST(sum(c2) AS BIGINT) AS cp
       |  FROM c2 GROUP BY 1),
       |p AS (SELECT doc_id, (c2.c2 * 1000000) // cp.cp AS p
       |  FROM bgs JOIN c2 USING (bg)
       |  JOIN cp ON split_part(bgs.bg, ' ', 1) = cp.w1)
       |SELECT doc_id, count(*) AS n_bigrams, CAST(sum(p) AS BIGINT) AS lm_sum,
       |  CAST(sum(p) AS DOUBLE) / count(*) AS lm_avg
       |FROM p GROUP BY 1 ORDER BY 1""".stripMargin)

  val vocabGrowth = gate("qt_vocab_growth") { (s, dir) =>
    // Heaps-law audit: new TRIGRAM types per corpus decile (first
    // occurrence = min doc_id, one hash agg) + cumulative — the
    // saturation curve of the crawl; see TextAnalysis.vocabGrowth
    TextAnalysis.vocabGrowth(t(s, dir, "documents"), "doc_id",
        col("text"))
      .orderBy("decile")
  }(
    // first occurrence per type, integer decile of the id range, and
    // a cumulative over the 10-row histogram (BIGINT-cast window sum
    // per the portability doctrine)
    s"""WITH base AS (SELECT doc_id, $toks AS w FROM documents
       |  WHERE length(trim(text)) > 0),
       |fd AS (SELECT t, min(doc_id) AS fdoc
       |  FROM (SELECT doc_id, unnest(list_transform(range(len(w)-2),
       |      i -> w[i+1]||' '||w[i+2]||' '||w[i+3])) AS t
       |    FROM base WHERE len(w) >= 3) GROUP BY 1),
       |bk AS (SELECT (fdoc * 10) // ((SELECT max(doc_id) FROM base) + 1)
       |    AS decile, CAST(count(*) AS BIGINT) AS new_types
       |  FROM fd GROUP BY 1)
       |SELECT decile, new_types,
       |  CAST(sum(new_types) OVER (ORDER BY decile) AS BIGINT) AS cum_types
       |FROM bk ORDER BY decile""".stripMargin)

  val collocations = gate("qt_collocations") { (s, dir) =>
    // corpus top-20 collocations by exact micro-unit Dice coefficient
    // (the no-log, no-overflow collocation measure) with a min-count
    // floor — see TextAnalysis.collocationsTopK
    TextAnalysis.collocationsTopK(t(s, dir, "documents"), col("text"))
      .orderBy(col("dice_micro").desc, col("g"))
  }(
    // unigram + floor-filtered bigram counts, dice in micro units,
    // deterministic top-20 by (dice desc, bigram)
    collocationsSql("", "documents"))

  val tfidf = gate("qt_tfidf") { (s, dir) =>
    // per-doc top-3 TF-IDF keywords with the libm-free micro-unit IDF
    // surrogate (N·10⁶ div df) — two hash aggs, a token-keyed join,
    // and a per-document window; see TextAnalysis.tfidfTopK
    TextAnalysis.tfidfTopK(t(s, dir, "documents"), "doc_id", col("text"))
      .orderBy(col("doc_id"), col("score").desc, col("tok"))
  }(
    // tf per (doc, token), df over the distinct (doc, token) relation,
    // micro-unit idf surrogate, per-doc row_number top-3 — the n CTE
    // is one count row (never empty), so the cross join is safe
    s"""WITH base AS (SELECT doc_id, $toks AS w FROM documents
       |  WHERE length(trim(text)) > 0),
       |tk AS (SELECT doc_id, unnest(w) AS tok FROM base),
       |tfc AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
       |  FROM tk GROUP BY 1, 2),
       |dfc AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
       |  FROM tfc GROUP BY 1),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
       |sc AS (SELECT doc_id, tok, tf, tf * ((n * 1000000) // df) AS score
       |  FROM tfc JOIN dfc USING (tok) CROSS JOIN nn),
       |r AS (SELECT *, row_number() OVER (
       |    PARTITION BY doc_id ORDER BY score DESC, tok) AS rn FROM sc)
       |SELECT doc_id, tok, tf, score FROM r WHERE rn <= 3
       |ORDER BY doc_id, score DESC, tok""".stripMargin)

  val pplBuckets = gate("qt_ppl_buckets") { (s, dir) =>
    // CCNet-style perplexity terciles over the corpus-trained
    // bigram-LM score: head = most-probable third (lowest
    // perplexity); cutoffs are exact histogram quantiles via the
    // two-pass prefix-combine (no global window), bucket assignment
    // map-only — see TextAnalysis.perplexityBuckets
    TextAnalysis.perplexityBuckets(docsFanned(s, dir), "doc_id",
        col("text"))
      .orderBy("doc_id")
  }(
    // the qt_lm_score pipeline folded to a micro-unit average, then
    // tercile CUTOFFS from the score histogram's running count (the
    // window sum is histogram-sized here; the Spark side replaces it
    // with the two-pass prefix-combine) — sc is MATERIALIZED (3 refs:
    // count, histogram, labeling) per the multi-ref-CTE doctrine
    s"""WITH base AS (SELECT doc_id, $toks AS w FROM documents
       |  WHERE length(trim(text)) > 0),
       |bgs AS (SELECT doc_id,
       |    unnest(list_transform(range(len(w)-1), i -> w[i+1]||' '||w[i+2])) AS bg
       |  FROM base WHERE len(w) >= 2),
       |c2 AS (SELECT bg, count(*) AS c2 FROM bgs GROUP BY 1),
       |cp AS (SELECT split_part(bg, ' ', 1) AS w1, CAST(sum(c2) AS BIGINT) AS cp
       |  FROM c2 GROUP BY 1),
       |p AS (SELECT doc_id, (c2.c2 * 1000000) // cp.cp AS p
       |  FROM bgs JOIN c2 USING (bg)
       |  JOIN cp ON split_part(bgs.bg, ' ', 1) = cp.w1),
       |sc AS MATERIALIZED (SELECT doc_id,
       |    (CAST(sum(p) AS BIGINT) * 1000000) // count(*) AS s_micro
       |  FROM p GROUP BY 1),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM sc),
       |hist AS (SELECT s_micro, CAST(count(*) AS BIGINT) AS hn
       |  FROM sc GROUP BY 1),
       |cum AS (SELECT s_micro,
       |    CAST(sum(hn) OVER (ORDER BY s_micro) AS BIGINT) AS cw FROM hist),
       |cut AS (SELECT
       |    (SELECT min(s_micro) FROM cum
       |      WHERE cw >= (SELECT greatest(n // 3, 1) FROM nn)) AS c1,
       |    (SELECT min(s_micro) FROM cum
       |      WHERE cw >= (SELECT greatest((2 * n) // 3, 1) FROM nn)) AS c2)
       |SELECT sc.doc_id, sc.s_micro,
       |  CASE WHEN sc.s_micro <= cut.c1 THEN 'tail'
       |       WHEN sc.s_micro <= cut.c2 THEN 'middle' ELSE 'head' END AS bucket
       |FROM sc, cut ORDER BY sc.doc_id""".stripMargin)

  val winsorized = gate("qt_winsorized") { (s, dir) =>
    // winsorized mean per group — robust location with the extreme
    // tails CLAMPED to the exact p10/p90 (groupedQuantilesDisc: one
    // histogram pass per group, no per-row window); clamped sum in
    // exact units, mean as a micro-unit integral quotient
    val d = t(s, dir, "documents")
    val q = graft.ops.RobustStats.groupedQuantilesDisc(d, Seq("lang"),
      "n_chars", Seq(("p10", 1L, 10L), ("p90", 9L, 10L)))
    d.join(broadcast(q.select("lang", "p10", "p90")), "lang")
      .select(col("lang"),
        greatest(col("p10"), least(col("p90"), col("n_chars"))).as("w"))
      .groupBy("lang").agg(count(lit(1)).as("n"), sum("w").as("sum_w"))
      .withColumn("wmean_micro", expr("(sum_w * 1000000) div n"))
      .orderBy("lang")
  }(
    // winsorized replay: quantile_disc IS groupedQuantilesDisc's
    // contract; q is multi-referenced via the join → MATERIALIZED
    """WITH q AS MATERIALIZED (SELECT lang,
      |    quantile_disc(n_chars, 0.1) AS p10,
      |    quantile_disc(n_chars, 0.9) AS p90
      |  FROM documents GROUP BY lang),
      |w AS (SELECT d.lang,
      |    greatest(q.p10, least(q.p90, d.n_chars)) AS w
      |  FROM documents d JOIN q USING (lang))
      |SELECT lang, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(w) AS BIGINT) AS sum_w,
      |  (CAST(sum(w) AS BIGINT) * 1000000) // count(*) AS wmean_micro
      |FROM w GROUP BY lang ORDER BY lang""".stripMargin)

  val rankNorm = gate("qt_rank_norm") { (s, dir) =>
    // rank/percentile normalization per language (distribution-free
    // score rescaling): exact micro-unit fraction-at-or-below via the
    // per-group VALUE-HISTOGRAM cumulative — the window sorts
    // distinct values, never rows; docs re-join on (group, value) —
    // see RobustStats.rankNormalize
    graft.ops.RobustStats.rankNormalize(t(s, dir, "documents"),
        "lang", "n_chars", "doc_id")
      .orderBy("doc_id")
  }(
    // rank-normalize replay: cumulative over the per-group value
    // histogram, window sum CAST to BIGINT (the standing HUGEINT rule)
    """WITH h AS (SELECT lang, n_chars, count(*) AS hn
      |  FROM documents GROUP BY 1, 2),
      |c AS (SELECT lang, n_chars,
      |    CAST(sum(hn) OVER (PARTITION BY lang ORDER BY n_chars)
      |      AS BIGINT) AS cum FROM h),
      |t AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
      |  FROM documents GROUP BY lang)
      |SELECT d.doc_id, d.lang, d.n_chars,
      |  (c.cum * 1000000) // t.n AS pct_micro
      |FROM documents d
      |JOIN c ON c.lang = d.lang AND c.n_chars = d.n_chars
      |JOIN t ON t.lang = d.lang
      |ORDER BY d.doc_id""".stripMargin)

  val simpsonDiv = gate("qt_simpson_div") { (s, dir) =>
    // Simpson corpus concentration per language (the no-log diversity
    // measure): exact integer pair counts, IEEE-exact quotient, and
    // the inverse-Simpson effective vocabulary size — see
    // TextAnalysis.simpsonDiversity
    TextAnalysis.simpsonDiversity(t(s, dir, "documents"), "lang",
      col("text"))
  }(
    s"""WITH tk AS (SELECT lang, unnest($toks) AS tok FROM documents
       |  WHERE length(trim(text)) > 0),
       |c AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS c FROM tk
       |  WHERE tok <> '' GROUP BY 1, 2),
       |s AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n_tokens,
       |    CAST(count(*) AS BIGINT) AS vocab,
       |    CAST(sum(c*(c-1)) AS BIGINT) AS sum_cc
       |  FROM c GROUP BY lang)
       |SELECT lang, n_tokens, vocab, sum_cc,
       |  CAST(sum_cc AS DOUBLE) /
       |    CAST(n_tokens * (n_tokens - 1) AS DOUBLE) AS simpson,
       |  CASE WHEN sum_cc > 0
       |    THEN (n_tokens * (n_tokens - 1)) // sum_cc END AS eff_types
       |FROM s ORDER BY lang""".stripMargin)

  val cmsHeavy = gate("qt_cms_heavy") { (s, dir) =>
    // Count-Min sketch frequency audit (Cormode–Muthukrishnan): 4×512
    // deterministic md5 registers, min-of-rows estimate NEXT TO the
    // exact count for the top-50 tokens by estimate — one-sided-error
    // audit (overcount = est − n ≥ 0 is the collision noise). The
    // register table is depth·width rows at ANY corpus size and rides
    // a broadcast join — see Sketches.cmsAudit
    Sketches.cmsAudit(t(s, dir, "documents"), col("text"))
  }(
    // Count-Min replay: the register table is the same two
    // aggregations (token counts, then per-(row,slot) sums); the
    // estimate re-joins each token's 4 slots and takes the min
    s"""WITH tk AS (SELECT unnest($toks) AS tok FROM documents
       |  WHERE length(trim(text)) > 0),
       |cnt AS (SELECT tok, CAST(count(*) AS BIGINT) AS n FROM tk
       |  WHERE tok <> '' GROUP BY tok),
       |sl AS (SELECT c.tok, c.n, r.i,
       |    ${h("'cms' || CAST(r.i AS VARCHAR) || ':' || c.tok")} % 512 AS slot
       |  FROM cnt c CROSS JOIN (SELECT unnest([0,1,2,3]) AS i) r),
       |reg AS (SELECT i, slot, SUM(n) AS reg FROM sl GROUP BY i, slot),
       |est AS (SELECT s.tok, MIN(s.n) AS n, MIN(r.reg) AS est
       |  FROM sl s JOIN reg r ON s.i = r.i AND s.slot = r.slot
       |  GROUP BY s.tok)
       |SELECT tok, n, CAST(est AS BIGINT) AS est,
       |  CAST(est - n AS BIGINT) AS overcount
       |FROM est ORDER BY est DESC, tok LIMIT 50""".stripMargin)

  val kmvDistinct = gate("qt_kmv_distinct") { (s, dir) =>
    // K-minimum-values distinct sketch per language (Bar-Yossef et
    // al.): k=64 smallest md5 hashes via the bounded top-n aggregator
    // (shuffle = k·groups·tasks, skew-proof), estimate
    // (k−1)·2⁶⁰/h₍ₖ₎ in IEEE-exact arithmetic, audited against the
    // exact distinct count with a 3·RSD acceptance boolean — the
    // mergeable distinct sketch for shard-then-combine counting; see
    // Sketches.kmvDistinct
    Sketches.kmvDistinct(t(s, dir, "documents"), "lang", col("text"))
  }(
    // KMV replay: the k smallest distinct hashes per lang via
    // row_number (hashes are distinct within a lang, so the cut is
    // total); the estimate divides the same exactly-representable
    // doubles the Scala side does
    s"""WITH tk AS (SELECT lang, unnest($toks) AS tok FROM documents
       |  WHERE length(trim(text)) > 0),
       |dh AS (SELECT DISTINCT lang, ${h("tok")} AS h FROM tk
       |  WHERE tok <> ''),
       |ex AS (SELECT lang, CAST(count(*) AS BIGINT) AS exact_distinct
       |  FROM dh GROUP BY lang),
       |rk AS (SELECT lang, h,
       |    row_number() OVER (PARTITION BY lang ORDER BY h) AS r
       |  FROM dh),
       |km AS (SELECT lang, max(h) AS kth,
       |    CAST(count(*) AS BIGINT) AS n_in
       |  FROM rk WHERE r <= 64 GROUP BY lang),
       |sk AS (SELECT e.lang, e.exact_distinct,
       |    CASE WHEN km.n_in < 64 THEN CAST(-1 AS BIGINT)
       |         ELSE km.kth END AS kth_hash,
       |    CASE WHEN km.n_in < 64 THEN CAST(e.exact_distinct AS DOUBLE)
       |         ELSE (63.0 * 1152921504606846976.0) /
       |              CAST(km.kth AS DOUBLE) END AS est
       |  FROM ex e JOIN km USING (lang))
       |SELECT lang, exact_distinct, kth_hash, est,
       |  abs(est - CAST(exact_distinct AS DOUBLE)) <=
       |    (3.0 / sqrt(62.0)) * CAST(exact_distinct AS DOUBLE)
       |    AS within_3rsd
       |FROM sk ORDER BY lang""".stripMargin)

  val blocklist = gate("qt_blocklist") { (s, dir) =>
    // C4-style word-blocklist filter (the "bad words" list applied
    // before any quality model): flagged docs with hit count and the
    // first offending token in document order — map-only, the list
    // rides the plan as a literal (TextAnalysis.blocklistHits)
    TextAnalysis.blocklistHits(t(s, dir, "documents"), "doc_id",
        col("text"))
      .orderBy("doc_id")
  }(
    {
    val lst = graft.ops.TextAnalysis.Blocklist
      .map(t => s"'$t'").mkString("[", ", ", "]")
    s"""WITH f AS (SELECT doc_id,
       |    list_filter($toks, x -> list_contains($lst, x)) AS h
       |  FROM documents)
       |SELECT doc_id, CAST(len(h) AS BIGINT) AS n_bad,
       |  h[1] AS first_bad
       |FROM f WHERE len(h) > 0 ORDER BY doc_id""".stripMargin
  })

  val sbTrigram = gate("qt_sb_trigram") { (s, dir) =>
    // Stupid Backoff trigram scoring (Brants et al. 2007 — the
    // web-scale distributed n-gram LM, chosen there BECAUSE it needs
    // only raw counts): train on doc_id%5!=0, score the held-out
    // fifth so the backoff tiers genuinely fire; every tier is an
    // exact micro-unit integral quotient with 0.4 = 2/5 folded into
    // the division — see TextAnalysis.stupidBackoffScore
    val d = t(s, dir, "documents")
    TextAnalysis.stupidBackoffScore(
      d.filter(col("doc_id") % 5 =!= 0),
      d.filter(col("doc_id") % 5 === 0), "doc_id", col("text"))
      .orderBy("doc_id")
  }(
    // Stupid Backoff: three count tables from the train split, the
    // held-out trigram stream scored by the tier CASE — 0.4 = 2/5
    // folded into each integral division; unseen-w3 coalesces to 0
    s"""WITH tr AS MATERIALIZED (SELECT $toks AS w FROM documents
       |  WHERE doc_id % 5 != 0 AND length(trim(text)) > 0),
       |u AS MATERIALIZED (SELECT unnest(w) AS t FROM tr),
       |c1 AS (SELECT t, CAST(count(*) AS BIGINT) AS c1 FROM u GROUP BY 1),
       |nt AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM u),
       |b2 AS (SELECT unnest(list_transform(range(len(w)-1),
       |    i -> w[i+1]||' '||w[i+2])) AS g FROM tr WHERE len(w) >= 2),
       |c2 AS (SELECT g, CAST(count(*) AS BIGINT) AS c2 FROM b2 GROUP BY 1),
       |t3 AS (SELECT unnest(list_transform(range(len(w)-2),
       |    i -> w[i+1]||' '||w[i+2]||' '||w[i+3])) AS g FROM tr WHERE len(w) >= 3),
       |c3 AS (SELECT g, CAST(count(*) AS BIGINT) AS c3 FROM t3 GROUP BY 1),
       |te AS (SELECT doc_id, $toks AS w FROM documents
       |  WHERE doc_id % 5 = 0 AND length(trim(text)) > 0),
       |tg AS (SELECT doc_id, unnest(list_transform(range(len(w)-2),
       |    i -> w[i+1]||' '||w[i+2]||' '||w[i+3])) AS g3
       |  FROM te WHERE len(w) >= 3),
       |sc AS (SELECT tg.doc_id,
       |    CASE WHEN c3.c3 IS NOT NULL THEN (c3.c3 * 1000000) // c12.c2
       |      WHEN c23.c2 IS NOT NULL
       |        THEN (c23.c2 * 2 * 1000000) // (cw2.c1 * 5)
       |      ELSE (coalesce(cw3.c1, 0) * 4 * 1000000) // (nt.nt * 25)
       |    END AS p
       |  FROM tg
       |  LEFT JOIN c3 ON c3.g = tg.g3
       |  LEFT JOIN c2 c12 ON c12.g =
       |    split_part(tg.g3, ' ', 1) || ' ' || split_part(tg.g3, ' ', 2)
       |  LEFT JOIN c2 c23 ON c23.g =
       |    split_part(tg.g3, ' ', 2) || ' ' || split_part(tg.g3, ' ', 3)
       |  LEFT JOIN c1 cw2 ON cw2.t = split_part(tg.g3, ' ', 2)
       |  LEFT JOIN c1 cw3 ON cw3.t = split_part(tg.g3, ' ', 3)
       |  CROSS JOIN nt)
       |SELECT doc_id, count(*) AS n_trigrams,
       |  CAST(sum(p) AS BIGINT) AS sb_sum,
       |  CAST(sum(p) AS DOUBLE) / count(*) AS sb_avg
       |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin)

  val interleave = gate("qt_interleave") { (s, dir) =>
    // deterministic per-source round-robin interleave for training-mix
    // ordering: rank docs within each source by (md5, doc_id); reading
    // in (rn, source) order yields a balanced source rotation. The rank
    // window partitions by source — no global single-partition window.
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source")
      .orderBy(TextAnalysis.md5Long(col("text")), col("doc_id"))
    t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        row_number().over(w).as("rn"))
      .orderBy("rn", "source")
  }(
    s"""SELECT doc_id, source,
       |  CAST(row_number() OVER (PARTITION BY source
       |    ORDER BY ${h("text")}, doc_id) AS INTEGER) AS rn
       |FROM documents ORDER BY rn, source""".stripMargin)

  val chunks = gate("qt_chunks") { (s, dir) =>
    // overlapping token-window chunking (embedding/RAG ingest prep):
    // 32-token windows every 24 tokens — map-only, one posexplode, no
    // shuffle (see Chunker)
    Chunker.chunk(t(s, dir, "documents"), "doc_id", "text",
      chunkSize = 32, stride = 24)
      .orderBy("doc_id", "chunk_id")
  }(
    s"""WITH d AS (SELECT doc_id, $toks AS w FROM documents
       |  WHERE length(trim(text)) > 0),
       |st AS (SELECT doc_id, w,
       |    unnest(generate_series(0, len(w)-1, 24)) AS i FROM d)
       |SELECT doc_id, CAST(i // 24 AS BIGINT) AS chunk_id,
       |  CAST(len(list_slice(w, i+1, i+32)) AS BIGINT) AS n_tokens,
       |  array_to_string(list_slice(w, i+1, i+32), ' ') AS chunk_text
       |FROM st ORDER BY doc_id, chunk_id""".stripMargin)

  val zorder = gate("qt_zorder") { (s, dir) =>
    // z-order clustering key over (n_chars, md5) buckets: one
    // bit-interleaved sort key giving parquet min/max pruning on BOTH
    // dimensions (see ZOrder; layout benefit asserted in ZOrderSpec)
    val x = col("n_chars") % 1024
    val y = TextAnalysis.md5Long(col("text")) % 1024
    t(s, dir, "documents")
      .select(col("doc_id"), x.cast("long").as("xb"), y.as("yb"),
        ZOrder.zValue(x, y, bits = 10).as("z"))
      .orderBy("doc_id")
  }(
    s"""SELECT doc_id, CAST(n_chars % 1024 AS BIGINT) AS xb,
       |  ${h("text")} % 1024 AS yb,
       |  ${graft.ops.ZOrder.zValueSql("n_chars % 1024", s"${h("text")} % 1024", 10)} AS z
       |FROM documents ORDER BY doc_id""".stripMargin)

  val bpeMerges = gate("qt_bpe_merges") { (s, dir) =>
    // distributed BPE merge training: corpus collapses ONCE to the
    // word-frequency table, then 3 rounds of (pair-count aggregation ->
    // driver argmax -> map-only replace-apply); the oracle replays the
    // training unrolled in SQL, same delimited-string representation
    import s.implicits._
    val words = Bpe.wordTable(t(s, dir, "documents"), col("text"))
    val (merges, fin) = Bpe.train(words, 3)
    fin.unpersist()
    merges.map(m => (m.round, m.a, m.b, m.count, m.a + m.b))
      .toDF("round", "sym_a", "sym_b", "pair_count", "merged")
  }(
    {
    // one BPE round: segment, pair-count, argmax, replace-apply —
    // generated per round so the SQL replays Bpe.train exactly
    def bpeRound(r: Int, prev: String) =
      s"""s$r AS (SELECT string_split(trim(seg, '|'), '||') AS sy, cnt FROM $prev),
         |pr$r AS (SELECT z.a AS a, z.b AS b, sum(cnt) AS c FROM (
         |    SELECT unnest(list_transform(range(1, len(sy)),
         |      i -> {'a': sy[i], 'b': sy[i+1]})) AS z, cnt
         |    FROM s$r) GROUP BY 1, 2),
         |m$r AS (SELECT a, b, c FROM pr$r ORDER BY c DESC, a, b LIMIT 1),
         |w$r AS (SELECT replace(seg, '|'||a||'||'||b||'|', '|'||a||b||'|') AS seg, cnt
         |  FROM $prev CROSS JOIN m$r)""".stripMargin
    s"""WITH tok AS (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w
       |  FROM documents),
       |wf AS (SELECT w, count(*) AS cnt FROM tok
       |  WHERE regexp_matches(w, '^[A-Za-z]+$$') GROUP BY 1),
       |w0 AS (SELECT regexp_replace(w, '(.)', '|\\1|', 'g') AS seg, cnt FROM wf),
       |${bpeRound(1, "w0")},
       |${bpeRound(2, "w1")},
       |${bpeRound(3, "w2")}
       |SELECT round, a AS sym_a, b AS sym_b, CAST(c AS BIGINT) AS pair_count,
       |  a || b AS merged
       |FROM (SELECT 1 AS round, * FROM m1 UNION ALL
       |      SELECT 2, * FROM m2 UNION ALL
       |      SELECT 3, * FROM m3)
       |ORDER BY round""".stripMargin
  })

  val bpeEncode = gate("qt_bpe_encode") { (s, dir) =>
    // the APPLY side of BPE at corpus scale: re-segment every
    // alphanumeric token of every document with the trained merge
    // table (Bpe.segment — a fold of replaces inside array HOFs, fully
    // map-only after training) and aggregate symbol counts per lang
    val d = docsFanned(s, dir)
    val (merges, fin) = Bpe.train(Bpe.wordTable(d, col("text")), 3)
    fin.unpersist()
    val toksF = filter(TextAnalysis.tokens(col("text")),
      w => w.rlike("^[A-Za-z]+$"))
    val nSyms = aggregate(
      transform(col("_w"),
        w => size(split(Bpe.segment(w, merges), "\\|\\|")).cast("long")),
      lit(0L), (acc, x) => acc + x)
    d.select(col("lang"), toksF.as("_w"))
      // drop zero-word docs BEFORE grouping: the oracle's per-word CTE
      // never sees them, so a lang whose docs have no alphabetic tokens
      // must be absent here too, not an (lang, 0, 0) row
      .filter(size(col("_w")) > 0)
      .select(col("lang"), nSyms.as("_nsym"),
        size(col("_w")).cast("long").as("_nw"))
      .groupBy("lang")
      .agg(sum(col("_nsym")).as("n_symbols"), sum(col("_nw")).as("n_words"))
      .orderBy("lang")
  }(
    {
    def bpeRound(r: Int, prev: String) =
      s"""s$r AS (SELECT string_split(trim(seg, '|'), '||') AS sy, cnt FROM $prev),
         |pr$r AS (SELECT z.a AS a, z.b AS b, sum(cnt) AS c FROM (
         |    SELECT unnest(list_transform(range(1, len(sy)),
         |      i -> {'a': sy[i], 'b': sy[i+1]})) AS z, cnt
         |    FROM s$r) GROUP BY 1, 2),
         |m$r AS (SELECT a, b, c FROM pr$r ORDER BY c DESC, a, b LIMIT 1),
         |w$r AS (SELECT replace(seg, '|'||a||'||'||b||'|', '|'||a||b||'|') AS seg, cnt
         |  FROM $prev CROSS JOIN m$r)""".stripMargin
    s"""WITH tok AS (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w
       |  FROM documents),
       |wf AS (SELECT w, count(*) AS cnt FROM tok
       |  WHERE regexp_matches(w, '^[A-Za-z]+$$') GROUP BY 1),
       |w0 AS (SELECT regexp_replace(w, '(.)', '|\\1|', 'g') AS seg, cnt FROM wf),
       |${bpeRound(1, "w0")},
       |${bpeRound(2, "w1")},
       |${bpeRound(3, "w2")},
       |tok2 AS (SELECT lang, unnest(string_split_regex(trim(text), '\\s+')) AS w
       |  FROM documents),
       |aw AS (SELECT lang, regexp_replace(w, '(.)', '|\\1|', 'g') AS seg
       |  FROM tok2 WHERE regexp_matches(w, '^[A-Za-z]+$$')),
       |ap AS (SELECT lang,
       |    replace(replace(replace(seg,
       |      '|'||coalesce(m1.a, chr(7))||'||'||coalesce(m1.b, chr(7))||'|',
       |        '|'||coalesce(m1.a, '')||coalesce(m1.b, '')||'|'),
       |      '|'||coalesce(m2.a, chr(7))||'||'||coalesce(m2.b, chr(7))||'|',
       |        '|'||coalesce(m2.a, '')||coalesce(m2.b, '')||'|'),
       |      '|'||coalesce(m3.a, chr(7))||'||'||coalesce(m3.b, chr(7))||'|',
       |        '|'||coalesce(m3.a, '')||coalesce(m3.b, '')||'|') AS seg2
       |  FROM aw LEFT JOIN m1 ON true LEFT JOIN m2 ON true
       |    LEFT JOIN m3 ON true)
       |SELECT lang,
       |  CAST(sum(len(string_split(seg2, '||'))) AS BIGINT) AS n_symbols,
       |  count(*) AS n_words
       |FROM ap GROUP BY 1 ORDER BY 1""".stripMargin
  })

  val wordpiece = gate("qt_wordpiece") { (s, dir) =>
    // WordPiece merge training (the BERT tokenizer's likelihood-gain
    // rule): same word-table collapse and delimited-string mechanics
    // as qt_bpe_merges, but each round's merge maximizes
    // count(ab)/(count(a)*count(b)) in exact pico-unit floor division
    // — the oracle replays rounds with the pair/symbol-count join
    // unrolled in SQL (HUGEINT product, BIGINT on selection)
    import s.implicits._
    val words = Bpe.wordTable(t(s, dir, "documents"), col("text"))
    val (merges, fin) = WordPiece.train(words, 3)
    fin.unpersist()
    merges.map(m => (m.round, m.a, m.b, m.pairCount, m.scorePico, m.a + m.b))
      .toDF("round", "sym_a", "sym_b", "pair_count", "score_pico", "merged")
  }(
    wpTrainCtes +
    s"""
       |SELECT round, a AS sym_a, b AS sym_b, c AS pair_count,
       |  sp AS score_pico, a || b AS merged
       |FROM (SELECT 1 AS round, * FROM m1 UNION ALL
       |      SELECT 2, * FROM m2 UNION ALL
       |      SELECT 3, * FROM m3)
       |ORDER BY round""".stripMargin)

  val wordpieceEncode = gate("qt_wordpiece_encode") { (s, dir) =>
    // the APPLY side of WordPiece (qt_bpe_encode's twin under the
    // likelihood-trained merge table): merge application is
    // order-for-order BPE apply — Bpe.segment with the WordPiece
    // table — so the corpus-scale encode shares that map-only path
    val d = docsFanned(s, dir)
    val (merges, fin) = WordPiece.train(Bpe.wordTable(d, col("text")), 3)
    fin.unpersist()
    val asBpe = merges.map(m => Bpe.Merge(m.round, m.a, m.b, m.pairCount))
    val toksF = filter(TextAnalysis.tokens(col("text")),
      w => w.rlike("^[A-Za-z]+$"))
    val nSyms = aggregate(
      transform(col("_w"),
        w => size(split(Bpe.segment(w, asBpe), "\\|\\|")).cast("long")),
      lit(0L), (acc, x) => acc + x)
    d.select(col("lang"), toksF.as("_w"))
      .filter(size(col("_w")) > 0)
      .select(col("lang"), nSyms.as("_nsym"),
        size(col("_w")).cast("long").as("_nw"))
      .groupBy("lang")
      .agg(sum(col("_nsym")).as("n_symbols"), sum(col("_nw")).as("n_words"))
      .orderBy("lang")
  }(
    // WordPiece apply (qt_bpe_encode's twin): the trained merges
    // applied in order by the same triple-replace. LEFT JOIN + an
    // unmatchable chr(7) pattern when a round found no merge — a
    // CROSS JOIN against an empty m_r would empty the whole result
    // while the Scala gate applies the merges it did find
    wpTrainCtes +
    s""",
       |tok2 AS (SELECT lang, unnest(string_split_regex(trim(text), '\\s+')) AS w
       |  FROM documents),
       |aw AS (SELECT lang, regexp_replace(w, '(.)', '|\\1|', 'g') AS seg
       |  FROM tok2 WHERE regexp_matches(w, '^[A-Za-z]+$$')),
       |ap AS (SELECT lang,
       |    replace(replace(replace(seg,
       |      '|'||coalesce(m1.a, chr(7))||'||'||coalesce(m1.b, chr(7))||'|',
       |        '|'||coalesce(m1.a, '')||coalesce(m1.b, '')||'|'),
       |      '|'||coalesce(m2.a, chr(7))||'||'||coalesce(m2.b, chr(7))||'|',
       |        '|'||coalesce(m2.a, '')||coalesce(m2.b, '')||'|'),
       |      '|'||coalesce(m3.a, chr(7))||'||'||coalesce(m3.b, chr(7))||'|',
       |        '|'||coalesce(m3.a, '')||coalesce(m3.b, '')||'|') AS seg2
       |  FROM aw LEFT JOIN m1 ON true LEFT JOIN m2 ON true
       |    LEFT JOIN m3 ON true)
       |SELECT lang,
       |  CAST(sum(len(string_split(seg2, '||'))) AS BIGINT) AS n_symbols,
       |  count(*) AS n_words
       |FROM ap GROUP BY 1 ORDER BY 1""".stripMargin)

  val vocab = gate("qt_vocab") { (s, dir) =>
    // vocabulary building: top 50 tokens by corpus frequency
    t(s, dir, "documents")
      .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("tok"))
      .limit(50)
  }(
    """SELECT tok, count(*) AS freq FROM (
      |  SELECT unnest(string_split_regex(trim(text),'\s+')) AS tok FROM documents) t
      |GROUP BY 1 ORDER BY freq DESC, tok LIMIT 50""".stripMargin)

  val tokenIds = gate("qt_token_ids") { (s, dir) =>
    // vocabulary ENCODING — the text→ids step between tokenization
    // (qt_token_stats/qt_vocab) and sequence packing (qt_packing):
    // each token maps to its frequency-rank id (1-based, ties by token
    // asc), out-of-vocab → 0. The vocab is driver-sized by contract
    // (same precedent as the ANN codebooks); encodeTokens picks the
    // literal-map form here (50 entries) and switches to a broadcast-
    // variable UDF above MaxLiteralVocab — either way encoding is a
    // map-only transform, no per-doc shuffle at any corpus size; only
    // the one vocab aggregation shuffles. Output as csv + oov count
    // (array columns don't hash-compare portably across engines).
    val vocab = t(s, dir, "documents")
      .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("tok"))
      .limit(50).collect()
      .zipWithIndex.map { case (r, i) => r.getString(0) -> (i + 1L) }.toMap
    val ids = TextAnalysis.encodeTokens(
      TextAnalysis.tokens(col("text")), vocab)
    t(s, dir, "documents")
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"),
        size(filter(ids, _ === 0L)).cast("long").as("n_oov"),
        concat_ws(",", transform(ids, _.cast("string"))).as("ids_csv"))
      .orderBy("doc_id")
  }(
    s"""WITH v AS (SELECT tok, row_number() OVER (ORDER BY freq DESC, tok) AS id
       |  FROM (SELECT tok, count(*) AS freq FROM (
       |    SELECT unnest($toks) AS tok FROM documents) t GROUP BY 1
       |    ORDER BY freq DESC, tok LIMIT 50) f),
       |d AS (SELECT doc_id, $toks AS w FROM documents
       |  WHERE length(trim(text)) > 0),
       |e AS (SELECT doc_id, unnest(w) AS tok,
       |    unnest(generate_series(1, len(w))) AS ord FROM d),
       |j AS (SELECT doc_id, ord, coalesce(v.id, 0) AS id
       |  FROM e LEFT JOIN v USING (tok))
       |SELECT doc_id,
       |  CAST(sum(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       |  string_agg(CAST(id AS VARCHAR), ',' ORDER BY ord) AS ids_csv
       |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)

  val dsir = gate("qt_dsir") { (s, dir) =>
    // DSIR-style data selection: score every doc by target-vs-raw
    // hashed-bigram importance (target = the English sample, the
    // "select docs like my trusted domain corpus" primitive). The
    // one-pass predicate form: ONE corpus gram aggregation with a
    // conditional count builds both bucket tables (the two-corpus
    // overload pays two), then a map-only literal-map scoring pass —
    // per-doc work never shuffles; see CorpusSelect.targetMatchScores
    // for the 100 TB shape and the integer micro-unit surrogate of
    // the DSIR log-ratio.
    val base = docsFanned(s, dir).filter(length(trim(col("text"))) > 0)
    graft.ops.CorpusSelect.targetMatchScores(
        base, col("lang") === "en", "text", "doc_id",
        buckets = 256, maxLiteral = graft.ops.TextAnalysis.MaxLiteralVocab)
      .orderBy("doc_id")
  }(
    // DSIR replay: bucket counts with FILTER for the target (en) side,
    // Laplace micro-unit weights as BIGINT, per-doc sum over gram
    // occurrences; left join restores gram-less docs at score 0. The
    // round() operand is positive, where DuckDB's half-away and the
    // Spark driver's Math.round half-up agree.
    s"""WITH tk AS (SELECT doc_id, lang, $toks AS w FROM documents
       |  WHERE length(trim(text)) > 0),
       |g AS (SELECT doc_id, lang, ${h("gram")} % 256 AS b FROM (
       |    SELECT doc_id, lang, unnest(list_transform(range(len(w)-1),
       |      i -> w[i+1] || ' ' || w[i+2])) AS gram
       |    FROM tk WHERE len(w) >= 2)),
       |tots AS (SELECT count(*) AS nr,
       |    count(*) FILTER (WHERE lang = 'en') AS nt FROM g),
       |wt AS (SELECT b,
       |    CAST(round(1000000.0 * (count(*) FILTER (WHERE lang = 'en') + 1)
       |      / (t.nt + 256)) AS BIGINT)
       |  - CAST(round(1000000.0 * (count(*) + 1)
       |      / (t.nr + 256)) AS BIGINT) AS w
       |  FROM g, tots t GROUP BY b, t.nt, t.nr),
       |sc AS (SELECT g.doc_id, count(*) AS n_grams,
       |    CAST(sum(wt.w) AS BIGINT) AS dsir_micro
       |  FROM g JOIN wt USING (b) GROUP BY 1)
       |SELECT tk.doc_id, CAST(coalesce(sc.n_grams, 0) AS BIGINT) AS n_grams,
       |  CAST(coalesce(sc.dsir_micro, 0) AS BIGINT) AS dsir_micro
       |FROM tk LEFT JOIN sc USING (doc_id) ORDER BY doc_id""".stripMargin)

  val unigramLm = gate("qt_unigram_lm") { (s, dir) =>
    // SentencePiece-style unigram-LM tokenizer training (hard EM):
    // seed vocab = top-64 weighted substrings (≤4 chars) + all single
    // chars; 2 Viterbi E-step rounds re-estimating integer micro-unit
    // piece probabilities. The oracle replays the DP as a recursive
    // CTE carrying the last 4 (score, path) lags as columns — product
    // scores and the shortest-piece tie-break are bit-identical. See
    // UnigramLm for the O(unique words)-per-round scale shape.
    import s.implicits._
    val words = UnigramLm.wordTable(t(s, dir, "documents"), col("text"))
    val model = UnigramLm.train(words, rounds = 2, vocabSize = 64)
    model.counts.map { case (p, c) => (p, c, model.probs(p)) }
      .toDF("piece", "cnt", "p_micro").orderBy("piece")
  }(
    // unigram-LM replay: seed substring counts + 2 unrolled hard-EM
    // rounds; each round's Viterbi DP is a recursive CTE over word
    // positions carrying the last 4 (score, path) lags as columns,
    // with candidate k joined from the round's prob table and the
    // first-maximum (shortest-piece) tie-break as a CASE chain
    ulmTrainCtes +
    s"""
       |SELECT c.piece, c.pcnt AS cnt, p.p AS p_micro
       |FROM cnts2 c JOIN prb2 p USING (piece) ORDER BY piece""".stripMargin)

  val unigramEncode = gate("qt_unigram_encode") { (s, dir) =>
    // the APPLY side of unigram-LM training (qt_bpe_encode's twin):
    // segment the corpus with the trained piece vocabulary and report
    // per-language symbol counts — the compression-rate readout a
    // tokenizer choice is judged by. Scale shape: the DP runs once per
    // DISTINCT word; occurrences join back on the word (at 100 TB the
    // distinct-word table is vocabulary-sized, the join is the cheap
    // part). No unknown floor: apply-corpus = train-corpus, whose
    // round-2 Viterbi paths guarantee coverage under the final vocab.
    val docs = t(s, dir, "documents")
    val words = UnigramLm.wordTable(docs, col("text"))
    val model = UnigramLm.train(words, rounds = 2, vocabSize = 64)
    val seg = words.select(col("w"),
        UnigramLm.viterbiPath(col("w"), model.probs).as("path"))
      .select(col("w"),
        size(split(expr("trim(BOTH '|' FROM path)"), "\\|\\|"))
          .cast("long").as("ns"))
    docs.select(col("lang"),
        explode(TextAnalysis.tokens(col("text"))).as("w"))
      .filter(col("w").rlike("^[A-Za-z]+$"))
      .join(seg, "w")
      .groupBy("lang")
      .agg(sum("ns").as("n_symbols"), count(lit(1)).as("n_words"))
      .orderBy("lang")
  }(
    // unigram apply (qt_bpe_encode's twin): a third DP round under the
    // trained prb2 segments every distinct word; occurrences join back
    // per language for the symbol-count report
    ulmTrainCtes +
    s""",
       |${ulmDpRound(3, "prb2")},
       |enc AS (SELECT w,
       |    len(string_split(trim(path, '|'), '||')) AS ns FROM fin3),
       |aw AS (SELECT lang, w FROM (
       |    SELECT lang, unnest($toks) AS w FROM documents) u
       |  WHERE regexp_matches(w, '^[A-Za-z]+$$'))
       |SELECT lang, CAST(sum(ns) AS BIGINT) AS n_symbols,
       |  count(*) AS n_words
       |FROM aw JOIN enc USING (w) GROUP BY 1 ORDER BY 1""".stripMargin)

  val nbClassify = gate("qt_nb_classify") { (s, dir) =>
    // model-based quality/domain classifier (the fastText/logreg role
    // in C4/CCNet curation) as multinomial Naive Bayes: train on
    // doc_id % 5 != 0 with lang as the label, classify the held-out
    // fifth. Laplace-smoothed integer micro-unit probabilities — the
    // qt_dsir/qt_lm_score no-libm portability pattern; argmax with
    // label-ascending tie-break via a min-struct aggregation (no
    // window). See Classify.nbTrain/nbClassify for the 100 TB shape.
    val docs = t(s, dir, "documents")
    Classify.nbTrainApply(
        docs.filter(col("doc_id") % 5 =!= 0),
        docs.filter(col("doc_id") % 5 === 0),
        "doc_id", "lang", col("text"))
      .select("doc_id", "pred_label", "score_micro", "actual", "correct")
      .orderBy("doc_id")
  }(
    // Naive-Bayes replay: Laplace counts, micro-unit integer-division
    // probabilities (// on positive BIGINTs = Spark's div), per-doc
    // distinct-token tf scoring, argmax by (score DESC, label) — sums
    // BIGINT-cast per the doctrine
    s"""WITH tr AS MATERIALIZED (SELECT lang AS label, doc_id, $toks AS w
       |  FROM documents WHERE doc_id % 5 <> 0 AND length(trim(text)) > 0),
       |tok AS MATERIALIZED (SELECT label, unnest(w) AS w FROM tr),
       |cw AS MATERIALIZED (SELECT label, w, count(*) AS cnt FROM tok GROUP BY 1, 2),
       |nc AS (SELECT label, CAST(sum(cnt) AS BIGINT) AS n_tok
       |  FROM cw GROUP BY 1),
       |voc AS (SELECT count(DISTINCT w) AS v FROM tok),
       |dc AS (SELECT label, count(*) AS n_docs FROM tr GROUP BY 1),
       |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS nd FROM dc),
       |labels AS (SELECT dc.label,
       |    (dc.n_docs * 1000000) // tot.nd AS prior_micro,
       |    1000000 // (nc.n_tok + voc.v) AS floor_micro
       |  FROM dc JOIN nc ON dc.label = nc.label, voc, tot),
       |probs AS (SELECT cw.label, cw.w,
       |    ((cw.cnt + 1) * 1000000) // (nc.n_tok + voc.v) AS p_micro
       |  FROM cw JOIN nc ON cw.label = nc.label, voc),
       |tf AS (SELECT doc_id, w, count(*) AS tf FROM (
       |    SELECT doc_id, unnest($toks) AS w FROM documents
       |    WHERE doc_id % 5 = 0) u GROUP BY 1, 2),
       |sc AS (SELECT tf.doc_id, l.label,
       |    CAST(sum(tf.tf * coalesce(p.p_micro, l.floor_micro))
       |      AS BIGINT) AS tok_micro
       |  FROM tf CROSS JOIN labels l
       |  LEFT JOIN probs p ON p.label = l.label AND p.w = tf.w
       |  GROUP BY 1, 2),
       |fin AS (SELECT sc.doc_id, sc.label,
       |    CAST(l.prior_micro + sc.tok_micro AS BIGINT) AS score_micro,
       |    row_number() OVER (PARTITION BY sc.doc_id
       |      ORDER BY l.prior_micro + sc.tok_micro DESC, sc.label)
       |      AS rn
       |  FROM sc JOIN labels l ON sc.label = l.label)
       |SELECT f.doc_id, f.label AS pred_label, f.score_micro,
       |  d.lang AS actual, f.label = d.lang AS correct
       |FROM fin f JOIN documents d ON f.doc_id = d.doc_id
       |WHERE f.rn = 1 ORDER BY f.doc_id""".stripMargin)

  val oovReport = gate("qt_oov_report") { (s, dir) =>
    // tokenizer-coverage report: per-language token counts and OOV
    // rate under the top-50 frequency vocab — the check a pipeline
    // runs before committing to a tokenizer (languages the vocab
    // underserves surface as high oov_rate). One vocab aggregation
    // (driver-sized by contract), then the guarded encode map-only
    // over the corpus into one report aggregation; oov_rate is a
    // division of exactly-computed integers (portable IEEE).
    val base = t(s, dir, "documents").filter(length(trim(col("text"))) > 0)
    val vocab = base
      .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("tok"))
      .limit(50).collect()
      .zipWithIndex.map { case (r, i) => r.getString(0) -> (i + 1L) }.toMap
    val ids = TextAnalysis.encodeTokens(TextAnalysis.tokens(col("text")), vocab)
    base.select(col("lang"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tok"),
        size(filter(ids, _ === 0L)).cast("long").as("n_oov"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tok").as("n_tokens"),
        sum("n_oov").as("n_oov"))
      .withColumn("oov_rate",
        col("n_oov").cast("double") / col("n_tokens").cast("double"))
      .orderBy("lang")
  }(
    // tokenizer-coverage replay: top-50 vocab by (freq DESC, tok),
    // per-lang token/OOV sums BIGINT-cast per the doctrine, rate as
    // exact-integer division
    s"""WITH base AS (SELECT lang, text FROM documents
       |  WHERE length(trim(text)) > 0),
       |v AS (SELECT tok FROM (
       |    SELECT unnest($toks) AS tok FROM base) u
       |  GROUP BY tok ORDER BY count(*) DESC, tok LIMIT 50),
       |tk AS (SELECT lang, unnest($toks) AS tok FROM base),
       |oov AS (SELECT lang, count(*) AS n_tokens,
       |    CAST(sum(CASE WHEN tok IN (SELECT tok FROM v)
       |      THEN 0 ELSE 1 END) AS BIGINT) AS n_oov
       |  FROM tk GROUP BY 1),
       |d AS (SELECT lang, count(*) AS n_docs FROM base GROUP BY 1)
       |SELECT d.lang, d.n_docs, oov.n_tokens, oov.n_oov,
       |  CAST(oov.n_oov AS DOUBLE) / oov.n_tokens AS oov_rate
       |FROM d JOIN oov USING (lang) ORDER BY lang""".stripMargin)

  val clusterBudget = gate("qt_cluster_budget") { (s, dir) =>
    // cluster-balanced corpus selection: train the 8-centroid codebook
    // (2 deterministic Lloyd rounds), assign every embedding, join each
    // vector's document, and keep the best-quality token prefix PER
    // CLUSTER — the "balance the pretraining mixture across embedding
    // clusters" primitive (the selection step cluster-based curation
    // pipelines run after SemDeDup-style pruning). Composition of two
    // gated operators: kmeansCodebook/assignToCentroids (broadcast
    // assign, codebook driver-sized by definition) into
    // groupedBudgetPrefix (two-pass prefix, no per-group window sort);
    // integer micro-unit quality order per the portability doctrine.
    // fannedScan: the embeddings parquet is one row group, so the two
    // Lloyd rounds' assignment+aggregate jobs each ran serial (probe:
    // four ~0.2-0.4 s single-task stages per rep)
    val emb = fannedScan(s, t(s, dir, "embeddings"))
    val cents = Similarity.kmeansCodebook(emb, k = 8, iters = 2)
    val q = emb.select(col("vec_id"),
      Similarity.quantize(col("embedding")).as("qv"))
    val assigned = Similarity.assignToCentroids(q, cents)
      .select(col("vec_id").as("doc_id"),
        col("cent_id").cast("string").as("cluster"))
    val d = docsFanned(s, dir).filter(length(trim(col("text"))) > 0)
      .join(assigned, "doc_id")
      .select(col("doc_id"), col("cluster"),
        TextAnalysis.qualityScore(col("text")).as("quality"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
    graft.ops.CorpusSelect.groupedBudgetPrefix(d, "cluster", "n_tokens",
        budgetPerGroup = 3000L,
        Seq(round(col("quality") * 1000000).cast("long").desc,
          col("doc_id").asc), cumCol = "cum_tokens")
      .select("doc_id", "cluster", "n_tokens", "cum_tokens")
      .orderBy("cluster", "doc_id")
  }(
    // cluster-balanced selection replay: the unrolled 2-round Lloyd
    // training + assignment CTEs (shared with qs_kmeans_topk), joined
    // to documents on the shared id space, then the per-cluster
    // BIGINT-cast micro-unit-ordered window cumsum (same doctrine as
    // qt_lang_budget)
    quantCte +
    s""",
       |c0 AS (SELECT vec_id AS cent_id, qe AS cv FROM q WHERE vec_id < 8),
       |${kmRound(1, "c0")},
       |${kmRound(2, "c1")},
       |${kmAssign("af", "c2")},
       |d AS (SELECT doc_id, CAST(af.cent_id AS VARCHAR) AS cluster,
       |    CAST(round(($qualitySql) * 1000000) AS BIGINT) AS q_micro,
       |    CAST(len($toks) AS BIGINT) AS n_tokens
       |  FROM documents JOIN af ON af.vec_id = documents.doc_id
       |  WHERE length(trim(text)) > 0),
       |cm AS (SELECT doc_id, cluster, n_tokens,
       |    CAST(sum(n_tokens) OVER (PARTITION BY cluster
       |      ORDER BY q_micro DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_tokens
       |  FROM d)
       |SELECT doc_id, cluster, n_tokens, cum_tokens FROM cm
       |WHERE cum_tokens <= 3000 ORDER BY cluster, doc_id""".stripMargin)

  val repetition = gate("qt_repetition") { (s, dir) =>
    // Gopher-style repetition signals per doc: top-unigram share and
    // duplicate-bigram fraction (machine-generated boilerplate scores
    // high on both); two map-side-combinable hash aggregations
    TextAnalysis.repetitionStats(t(s, dir, "documents"), "doc_id", col("text"))
      .orderBy("doc_id")
  }(
    s"""WITH base AS (SELECT doc_id, $toks AS w FROM documents
       |  WHERE length(trim(text)) > 0),
       |u1 AS (SELECT doc_id, t, count(*) AS c FROM (
       |    SELECT doc_id, unnest(w) AS t FROM base) x GROUP BY 1, 2),
       |uni AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
       |    CAST(max(c) AS BIGINT) AS top_c FROM u1 GROUP BY 1),
       |bgs AS (SELECT doc_id,
       |    unnest(list_transform(range(len(w)-1), i -> w[i+1]||' '||w[i+2])) AS b
       |  FROM base WHERE len(w) >= 2),
       |bg AS (SELECT doc_id, count(*) AS n_bg, count(DISTINCT b) AS n_bg_d
       |  FROM bgs GROUP BY 1)
       |SELECT u.doc_id, n_tokens,
       |  CAST(top_c AS DOUBLE)/n_tokens AS top_unigram_frac,
       |  coalesce(CAST(1 AS DOUBLE) - CAST(n_bg_d AS DOUBLE)/n_bg, 0.0)
       |    AS dup_bigram_frac
       |FROM uni u LEFT JOIN bg USING (doc_id)
       |ORDER BY doc_id""".stripMargin)

  val bm25 = gate("qt_bm25") { (s, dir) =>
    // BM25 ranked retrieval against a fixed probe query: per-term tf via
    // array higher-order functions (no explode), one single-row stats
    // aggregate broadcast back, TakeOrdered top-k
    Ranking.bm25TopK(t(s, dir, "documents"), Bm25Terms, k = 25)
      .select("doc_id", "dl", "bm25_micro")
  }(
    bm25OracleSql)
}
