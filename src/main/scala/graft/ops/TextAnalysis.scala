package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for the large-scale training-data pipeline:
  * token counting, quality scoring, language-ID heuristics, document
  * fingerprinting. Everything is a pure `Column` expression (whole-stage
  * codegen, no UDFs) and has a DuckDB-expressible equivalent so the driver
  * oracle can hash-compare results.
  *
  * Portability rules: hashing goes through md5 (identical hex in both
  * engines); ratios are divisions of exactly-computed integers (IEEE
  * division of identical operands is bit-identical).
  */
object TextAnalysis {

  /** Whitespace tokens of trimmed text. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Whitespace token count (0 for blank text). */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, 0).otherwise(size(tokens(text)))

  /** BPE-ish token count: letter runs, digit runs, single punctuation.
    * Pattern kept to character classes shared by Java regex and RE2.
    */
  val BpeishPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  def regexTokenCount(text: Column): Column = regexp_count(text, lit(BpeishPattern))

  /** First 60 bits of md5 as a positive long — the portable base hash used
    * by minhash/simhash (DuckDB: `CAST('0x'||substr(md5(x),1,15) AS BIGINT)`).
    */
  def md5Long(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Rolling-fingerprint of a document: md5 of the text (exact identity). */
  def fingerprint(text: Column): Column = md5(text)

  /** Polynomial rolling hash over the character stream:
    * `h = fold(c => (h*31 + code(c)) mod P)` seeded at 0 — the classic
    * incremental document fingerprint, kept in modular range so the DuckDB
    * oracle (`list_reduce` with a prepended 0 seed) folds identically.
    */
  def rollingFingerprint(text: Column): Column =
    aggregate(
      transform(split(text, ""), c => ascii(c).cast("long")),
      lit(0L),
      (acc, x) => (acc * 31L + x) % P)

  val P = 1000000007L

  /** Non-alphanumeric, non-space character count. */
  def punctCount(text: Column): Column =
    regexp_count(text, lit("[^A-Za-z0-9\\s]"))

  /** Count of alphabetic characters. */
  def alphaCount(text: Column): Column = regexp_count(text, lit("[A-Za-z]"))

  /** Stopword profiles for the language-ID heuristic. */
  val StopwordProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "for", "on", "with"),
    "de" -> Seq("der", "die", "das", "und", "ist", "mit", "ein", "nicht", "von", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "un", "une", "est", "des", "du", "pour"),
    "es" -> Seq("el", "los", "y", "un", "una", "es", "de", "que", "por", "como"),
    "zh" -> Nil // zh detected by CJK codepoints, not stopwords
  )

  private val Cjk = "[一-鿿]"

  /** Tokens matching a stopword list (with repetition). */
  def stopwordCount(text: Column, words: Seq[String]): Column = {
    val arr = array(words.map(lit): _*)
    size(filter(tokens(text), w => array_contains(arr, w)))
  }

  /** CJK character count. */
  def cjkCount(text: Column): Column = regexp_count(text, lit(Cjk))

  /** Heuristic language id: zh when CJK-dense, else the stopword profile
    * with the highest hit count (ties resolved in profile order).
    */
  def langId(text: Column): Column = {
    val profiles = StopwordProfiles.filter(_._2.nonEmpty)
    val counts = profiles.map { case (l, ws) => l -> stopwordCount(text, ws) }
    // pred = first profile whose count equals the max (profile-order ties)
    val maxC = counts.map(_._2).reduce((a, b) => greatest(a, b))
    val pick = counts.foldRight(lit("unknown")) { case ((l, c), acc) =>
      when(c === maxC && maxC > 0, lit(l)).otherwise(acc)
    }
    when(cjkCount(text) * 5 > length(text), lit("zh")).otherwise(pick)
  }

  /** Quality components (all exact or deterministic-double). */
  def qualityComponents(text: Column): Seq[(String, Column)] = {
    val len = length(text)
    val nTok = tokenCount(text)
    Seq(
      "n_chars_m" -> len.cast("long"),
      "n_tokens" -> nTok.cast("long"),
      "n_punct" -> punctCount(text).cast("long"),
      "alpha_ratio" -> alphaCount(text).cast("double") / len,
      "mean_tok_len" -> (length(regexp_replace(text, "\\s", "")).cast("double") / nTok),
      "stop_ratio" -> (stopwordCount(text, StopwordProfiles.head._2).cast("double") / nTok)
    )
  }

  /** Composite quality score in [0,1]-ish: weighted deterministic blend. */
  def qualityScore(text: Column): Column = {
    val comp = qualityComponents(text).toMap
    comp("alpha_ratio") * 0.4 +
      least(comp("stop_ratio") * 4.0, lit(1.0)) * 0.3 +
      least(comp("mean_tok_len") / 8.0, lit(1.0)) * 0.3
  }

  /** PII patterns shared with the oracle SQL. Kept to regex syntax with
    * identical semantics in Java regex (Spark codegen) and RE2 (DuckDB):
    * character classes, bounded repetition, `?`, and ASCII `\b`. Each
    * entry is (kind, pattern, redaction token).
    *
    * The usual training-pipeline scrub set (C4/Dolma-style): emails,
    * NANP-ish phone numbers, dotted-quad IPs. Counting is per-pattern on
    * the raw text; [[piiRedact]] applies the replacements in this order,
    * so a phone is rewritten before the IP pass can see its digit runs.
    */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "[EMAIL]"),
    ("phone", "\\(?[0-9]{3}\\)?[ .-][0-9]{3}[ .-][0-9]{4}", "[PHONE]"),
    ("ip", "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "[IP]"))

  /** Per-kind PII match counts on the raw text (columns `n_email`,
    * `n_phone`, `n_ip`). Pure `regexp_count` — codegen, no UDFs.
    */
  def piiCounts(text: Column): Seq[(String, Column)] =
    PiiPatterns.map { case (kind, pat, _) =>
      s"n_$kind" -> regexp_count(text, lit(pat)).cast("long")
    }

  /** Redact PII in-place: sequential `regexp_replace` of every pattern
    * with its token. One projection, stays in whole-stage codegen; at any
    * scale this is a map-only pass (no shuffle, no state).
    */
  def piiRedact(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (t, (_, pat, tok)) =>
      regexp_replace(t, pat, tok)
    }

  /** Markup-strip steps, applied IN ORDER (order is part of the contract
    * and shared with the oracle SQL): tags become spaces first (so
    * adjacent words never fuse), then the common HTML entities unescape,
    * then whitespace collapses. Patterns stick to syntax with identical
    * Java-regex/RE2 semantics. A double-escaped entity (`&amp;lt;`)
    * unescapes twice — deterministic, and identical in both engines.
    */
  val MarkupSteps: Seq[(String, String)] = Seq(
    ("<[^>]*>", " "),
    ("&nbsp;", " "),
    ("&amp;", "&"),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", "\""),
    ("&#39;", "'"))

  /** URL canonicalization regexes — crawl-frontier normalization shared
    * with the oracle SQL. The canonical form lowercases ONLY scheme and
    * host (paths/queries are case-significant), drops the fragment,
    * strips the default ports and the `www.` prefix, and removes
    * `utm_*` tracking params via three separator-anchored passes (see
    * the constants below). Every pattern sticks to syntax with identical
    * Java-regex/RE2 semantics and no capture-group replacements — the
    * `$1` vs `\1` dialect split never arises.
    */
  val UrlSchemeRe = "^[A-Za-z][A-Za-z0-9+.-]*://"
  val UrlHostRe = "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"
  val UrlRestRe = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)"
  // every utm pattern is SEPARATOR-ANCHORED — an unanchored
  // "utm_…=…&" would also match inside a non-utm name or value
  // ("?xutm_source=f&id=2" must keep its parameter). Three passes:
  // &-led params drop outright; a leading "?utm_…=…&" collapses to the
  // literal "?" (no capture groups, per the dialect contract); a
  // trailing "[?&]utm_…=…$" takes its separator with it.
  val UrlUtmAmpRe = "&utm_[a-z]+=[^&]*"
  val UrlUtmLeadRe = "\\?utm_[a-z]+=[^&]*&"
  val UrlUtmTailRe = "[?&]utm_[a-z]+=[^&]*$"
  // A port is "default" only for ITS scheme: https://host:80 names a
  // different resource than https://host, so :443 strips only under
  // https and :80 only under http (scheme-conditional on both engines).
  val UrlHttpsPortRe = ":443$"
  val UrlHttpPortRe = ":80$"
  val UrlAnyPortRe = ":[0-9]+$"
  val UrlWwwRe = "^www\\."
  val UrlDomainRe = "[^.]+\\.[^.]+$"

  private def canonHost(url: Column): Column = {
    val host = lower(regexp_extract(url, UrlHostRe, 1))
    val scheme = lower(regexp_extract(url, UrlSchemeRe, 0))
    val dePorted = when(scheme === "https://",
        regexp_replace(host, UrlHttpsPortRe, ""))
      .when(scheme === "http://", regexp_replace(host, UrlHttpPortRe, ""))
      .otherwise(host)
    regexp_replace(dePorted, UrlWwwRe, "")
  }

  /** Canonical URL: `lower(scheme) + canonical host + de-tracked rest`.
    * Pure regexp Column chain — codegen, map-only at any scale; the
    * dedup/frontier key a crawl pipeline groups on.
    */
  def canonicalUrl(url: Column): Column =
    concat(lower(regexp_extract(url, UrlSchemeRe, 0)), canonHost(url),
      regexp_replace(regexp_replace(regexp_replace(
        regexp_extract(url, UrlRestRe, 1),
        UrlUtmAmpRe, ""), UrlUtmLeadRe, "?"), UrlUtmTailRe, ""))

  /** Registered domain (last two labels) of the canonical host — the
    * per-site aggregation/blocklist key. Any port is stripped first:
    * `[^.]+` admits `:`, so extracting from `site.com:8443` directly
    * would capture the port into the domain.
    */
  def urlDomain(url: Column): Column =
    regexp_extract(regexp_replace(canonHost(url), UrlAnyPortRe, ""),
      UrlDomainRe, 0)

  /** Number of markup tags in the raw text. */
  def tagCount(text: Column): Column =
    regexp_count(text, lit("<[^>]*>")).cast("long")

  /** Word blocklist for the C4-style "bad words" filter gate — a small
    * fixed list shared with the oracle SQL (real pipelines load theirs
    * from a file; the mechanics are identical). Against the synthetic
    * corpus one term occurs and two never do, so both the hit and the
    * no-op path execute.
    */
  val Blocklist: Seq[String] = Seq("slow", "spill", "stale")

  /** Per-doc blocklist hits on the token stream: the exact-match word
    * filter C4 applies before any quality model. Map-only — one filter
    * HOF over the materialized token array; at 100 TB this is a
    * side-projection inside the ingest scan, never a join (the list is
    * plan-literal; a file-loaded list would broadcast).
    * Output for FLAGGED docs only: (idCol, n_bad, first_bad) — the
    * evidence a rejection ledger records.
    */
  def blocklistHits(df: org.apache.spark.sql.DataFrame, idCol: String,
      text: Column, terms: Seq[String] = Blocklist): org.apache.spark.sql.DataFrame = {
    require(terms.nonEmpty, "empty blocklist")
    val hits = filter(tokens(text), w => w.isInCollection(terms))
    df.select(col(idCol), hits.as("_h"))
      .filter(size(col("_h")) > 0)
      .select(col(idCol), size(col("_h")).cast("long").as("n_bad"),
        element_at(col("_h"), 1).as("first_bad"))
  }

  /** C4/CCNet-style boilerplate cleanup: strip tags, unescape entities,
    * collapse whitespace. A chain of `regexp_replace` in one projection —
    * codegen, map-only at any scale (no shuffle, no UDF).
    */
  def stripMarkup(text: Column): Column =
    trim(regexp_replace(
      MarkupSteps.foldLeft(text) { case (t, (pat, rep)) =>
        regexp_replace(t, pat, rep)
      },
      "\\s+", " "))

  /** CCNet/KenLM-style language-model quality signal with exact
    * arithmetic: train a bigram MLE model on the corpus itself, then score
    * every document by its average conditional bigram probability. A real
    * LM filter sums LOG probabilities, but `log` is libm-dependent (Java
    * vs C can differ in the last ulp), so the score here is the integer-
    * scaled probability `(c(w1,w2) * scale) div c(w1·)` summed exactly —
    * the same "how predictable is this text under the corpus model"
    * signal, threshold-usable, and bit-identical in any engine.
    *
    * Scale shape: the model is two hash aggregations over the exploded
    * bigram stream (map-side combinable); scoring is two equi-joins of
    * that stream against the model keyed by bigram / prefix — the
    * standard distributed LM-training layout. Nothing is collected; the
    * model relations shuffle by their own keys and AQE handles skewed
    * heads (stopword prefixes). Docs with no bigram are dropped.
    * `scale` bounds exactness: c2 * scale must stay in Long — at 1e6 that
    * allows ~9e12 occurrences of a single bigram.
    */
  def bigramLmScore(df: org.apache.spark.sql.DataFrame, idCol: String,
      text: Column, scale: Long = 1000000L): org.apache.spark.sql.DataFrame = {
    val base = df.filter(length(trim(text)) > 0)
      .select(col(idCol), tokens(text).as("_toks"))
    val bg = base.filter(size(col("_toks")) >= 2)
      .select(col(idCol), explode(Dedup.shinglesOfTokens(col("_toks"), 2)).as("bg"))
    val c2 = bg.groupBy("bg").agg(count(lit(1)).as("c2"))
    val cp = c2.groupBy(substring_index(col("bg"), " ", 1).as("w1"))
      .agg(sum("c2").as("cp"))
    bg.join(c2, "bg")
      .join(cp, substring_index(col("bg"), " ", 1) === col("w1"))
      .select(col(idCol), expr(s"(c2 * ${scale}L) div cp").as("p"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"), sum("p").as("lm_sum"))
      .withColumn("lm_avg", col("lm_sum").cast("double") / col("n_bigrams"))
  }

  /** N-gram type growth curve — the Heaps-law audit a corpus report
    * publishes: how many NEW n-gram types each successive tenth of the
    * corpus (by the id order) introduces, and the cumulative type count.
    * A flattening curve says the crawl is saturating; a linear one says
    * dedup/filtering is leaking novelty (or boilerplate) in. Trigram
    * types by default — the same unit the dedup shingles use, and the
    * granularity where synthetic/templated corpora still show a real
    * curve (unigram vocabularies saturate in the first percentile).
    *
    * Exact and order-free: a type's first occurrence is `min(id)` (one
    * hash aggregation — no prefix scan), its decile is the integer
    * `(fdoc · buckets) div (maxId + 1)`, and the cumulative sum runs
    * over the BUCKETS-row histogram — a window over a `buckets`-sized
    * relation (a literal constant, default 10), not over the corpus.
    * Deciles that introduce no new types are absent (the cumulative
    * jumps), identically on both engines.
    *
    * Output: (decile, new_types, cum_types).
    */
  def vocabGrowth(df: org.apache.spark.sql.DataFrame, idCol: String,
      text: Column, nGram: Int = 3, buckets: Int = 10)
      : org.apache.spark.sql.DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    require(nGram > 0, s"nGram must be positive, got $nGram")
    import org.apache.spark.sql.expressions.Window
    val base = df.filter(length(trim(text)) > 0)
      .select(col(idCol), tokens(text).as("_toks"))
    val mx = base.agg(max(col(idCol))).head()
    val m = if (mx.isNullAt(0)) 0L else mx.getLong(0)
    val bk = base.filter(size(col("_toks")) >= nGram)
      .select(col(idCol),
        explode(Dedup.shinglesOfTokens(col("_toks"), nGram)).as("t"))
      .groupBy("t").agg(min(col(idCol)).as("fdoc"))
      .select(expr(s"(fdoc * $buckets) div (${m}L + 1)").as("decile"))
      .groupBy("decile").agg(count(lit(1)).as("new_types"))
    val w = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bk.withColumn("cum_types", sum("new_types").over(w))
  }

  /** Corpus collocations by the DICE COEFFICIENT —
    * `2·c(w1w2) / (c(w1)+c(w2))` in exact micro units: Dice is the
    * standard collocation measure that needs NO logarithm (unlike PMI,
    * whose log — and whose N² numerator, which overflows 64-bit at
    * corpus scale — both violate the portability doctrine), is bounded
    * in [0, 1], and its integral surrogate `(2·c12·10⁶) div (c1+c2)`
    * can never overflow. A minimum pair count keeps hapax noise out.
    *
    * Scale shape: two hash aggregations (unigram + bigram counts,
    * map-side combinable), the count floor applied BEFORE the joins
    * (the surviving bigram table is floor-bounded), two token-keyed
    * equi-joins, and a global top-k = TakeOrdered (k-bounded, not a
    * sort). Ties break by the bigram string.
    *
    * Output: (g, c12, c1, c2, dice_micro), k rows max.
    */
  /** Simpson corpus concentration per group — the no-log diversity
    * measure (entropy needs libm; Simpson is rational): the probability
    * two tokens drawn WITHOUT replacement are the same type, as the
    * exact integer pair counts `Σ cᵢ(cᵢ−1)` over `N(N−1)` — kept RAW
    * (no micro scaling) so the fold stays inside BIGINT for corpora up
    * to ~3·10⁹ tokens per group; the reported `simpson` is their
    * IEEE-exact double quotient and `eff_types = N(N−1) div Σcᵢ(cᵢ−1)`
    * the equivalent-uniform vocabulary size (inverse Simpson, floored).
    * Two hash aggregations, nothing collected.
    */
  def simpsonDiversity(docs: org.apache.spark.sql.DataFrame,
      groupCol: String, text: Column): org.apache.spark.sql.DataFrame = {
    val cnt = docs.filter(length(trim(text)) > 0)
      .select(col(groupCol), explode(tokens(text)).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(groupCol, "tok").agg(count(lit(1)).as("c"))
    cnt.groupBy(groupCol)
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("vocab"),
        sum(col("c") * (col("c") - 1)).as("sum_cc"))
      .withColumn("simpson", col("sum_cc").cast("double") /
        (col("n_tokens") * (col("n_tokens") - 1)).cast("double"))
      // an all-distinct group has sum_cc = 0: its inverse Simpson is
      // unbounded — NULL by contract (ANSI `div` would throw)
      .withColumn("eff_types", when(col("sum_cc") > 0,
        expr("(n_tokens * (n_tokens - 1)) div sum_cc")))
      .orderBy(groupCol)
  }

  def collocationsTopK(df: org.apache.spark.sql.DataFrame, text: Column,
      k: Int = 20, minCount: Long = 5L, scale: Long = 1000000L)
      : org.apache.spark.sql.DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val base = df.filter(length(trim(text)) > 0).select(tokens(text).as("_toks"))
    val uni = base.select(explode(col("_toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val bg = base.filter(size(col("_toks")) >= 2)
      .select(explode(Dedup.shinglesOfTokens(col("_toks"), 2)).as("g"))
      .groupBy("g").agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= minCount)
    bg.join(uni.select(col("w").as("_w1"), col("c").as("c1")),
        substring_index(col("g"), " ", 1) === col("_w1"))
      .join(uni.select(col("w").as("_w2"), col("c").as("c2")),
        substring_index(col("g"), " ", -1) === col("_w2"))
      .select(col("g"), col("c12"), col("c1"), col("c2"),
        expr(s"(2 * c12 * ${scale}L) div (c1 + c2)").as("dice_micro"))
      .orderBy(col("dice_micro").desc, col("g"))
      .limit(k)
  }

  /** Per-document TF-IDF keywords: the top-k tokens of each document
    * ranked by `tf · idf`, with the IDF as the exact micro-unit
    * surrogate `(N · 10⁶) div df` instead of `log(N/df)` — log is
    * libm-dependent and banned by the portability doctrine; the
    * surrogate is monotone in N/df, so within one document the relative
    * keyword ordering agrees with classic IDF whenever df differs and
    * every value is exactly replayable. Ties break by token (score
    * desc, token asc), so the result is a deterministic relation.
    *
    * Scale shape: two hash aggregations (tf per (doc, token) — map-side
    * combinable; df per token over the already-distinct tf relation), a
    * token-keyed equi-join (AQE owns the stopword-head skew), and a
    * PER-DOCUMENT row_number window — parallel across documents,
    * bounded by each doc's own vocabulary, never global. The only
    * driver value is the corpus document count (one long).
    *
    * Output: (idCol, tok, tf, score), k rows max per document.
    */
  def tfidfTopK(df: org.apache.spark.sql.DataFrame, idCol: String,
      text: Column, k: Int = 3, scale: Long = 1000000L)
      : org.apache.spark.sql.DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    import org.apache.spark.sql.expressions.Window
    val base = df.filter(length(trim(text)) > 0)
      .select(col(idCol), tokens(text).as("_toks"))
    val n = base.count()
    val tf = base.select(col(idCol), explode(col("_toks")).as("tok"))
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(idCol).orderBy(col("score").desc, col("tok"))
    tf.join(dfc, "tok")
      .withColumn("score", col("tf") * expr(s"(${n}L * ${scale}L) div df"))
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") <= k)
      .select(col(idCol), col("tok"), col("tf"), col("score"))
  }

  /** CCNet-style perplexity bucketing: score every document with the
    * corpus-trained [[bigramLmScore]], then split the corpus into
    * head / middle / tail TERCILES of the score distribution (CCNet
    * trains per-bucket; the head — most LM-probable, i.e. lowest
    * perplexity — is the premium slice). Bucket membership is defined
    * by two score CUTOFFS (the N/3-th and 2N/3-th smallest scores), not
    * by per-row rank, so tied scores always land in one bucket and the
    * result is engine-independent.
    *
    * The score is the exact micro-unit surrogate
    * `(lm_sum · 10⁶) div n_bigrams` (integer division — the
    * [[bigramLmScore]]/qt_dsir no-libm portability pattern), so cutoff
    * comparisons are pure long arithmetic.
    *
    * Scale shape: scoring is the bigram-LM pipeline (hash aggregations
    * + gram-keyed joins, nothing collected); the cutoffs derive from
    * the SCORE HISTOGRAM (distinct micro-score → doc count) via
    * [[CorpusSelect.cumulativeWeightsWithTotal]]'s two-pass
    * prefix-combine — no global window, no corpus-sized sort; only the
    * two cutoff longs reach the driver. Bucket assignment is map-only
    * against those two literals. The scored relation is evaluated
    * twice (histogram pass + labeling pass) — at cluster scale persist
    * the input or accept one extra LM-pipeline pass, the same recompute
    * trade the sibling dedup gates make.
    *
    * Output: (idCol, s_micro, bucket) over docs with ≥ 1 bigram; bucket
    * ∈ head | middle | tail.
    */
  def perplexityBuckets(df: org.apache.spark.sql.DataFrame, idCol: String,
      text: Column): org.apache.spark.sql.DataFrame = {
    val scored = bigramLmScore(df, idCol, text)
      .select(col(idCol), expr("(lm_sum * 1000000L) div n_bigrams").as("s_micro"))
    val hist = scored.groupBy("s_micro").agg(count(lit(1)).as("hn"))
    val (cum, n) = CorpusSelect.cumulativeWeightsWithTotal(
      hist, "hn", Seq(col("s_micro")), "cw")
    if (n == 0L) {
      scored.withColumn("bucket", lit("head")).limit(0)
    } else {
      val k1 = math.max(n / 3, 1L)
      val k2 = math.max(2 * n / 3, 1L)
      val cuts = cum.agg(
        min(when(col("cw") >= k1, col("s_micro"))).as("c1"),
        min(when(col("cw") >= k2, col("s_micro"))).as("c2")).head()
      val (c1, c2) = (cuts.getLong(0), cuts.getLong(1))
      scored.select(col(idCol), col("s_micro"),
        when(col("s_micro") <= c1, "tail")
          .when(col("s_micro") <= c2, "middle")
          .otherwise("head").as("bucket"))
    }
  }

  /** Stupid Backoff trigram scoring (Brants et al. 2007, "Large Language
    * Models in Machine Translation") — the web-scale n-gram LM signal
    * next to [[bigramLmScore]]: `S(w3|w1 w2) = c(w1w2w3)/c(w1w2)` when
    * the trigram was seen, else `0.4 · S(w3|w2)`, else `0.4² · c(w3)/N`.
    * Stupid Backoff exists BECAUSE it needs no normalization statistics
    * beyond raw counts — the property that made it the distributed
    *-counting LM at web scale, and the property that makes it exactly
    * replayable here: every tier is one integral micro-unit quotient
    * (0.4 = 2/5 folded into the division — `(c·2·scale) div (d·5)` — so
    * no floating backoff factor ever appears; no libm, the
    * [[bigramLmScore]] portability doctrine).
    *
    * Scale shape: three hash-aggregated count tables (trigram, bigram,
    * unigram — map-side combinable) plus a 1-row token total; scoring
    * joins the doc trigram stream against them keyed by the gram —
    * the standard distributed n-gram layout, nothing collected, AQE
    * owns the stopword-head skew. The model trains on `train` and
    * scores `test` (self-training would never back off: every trigram
    * finds itself); a w3 unseen even as a unigram scores 0 — Brants'
    * `c(w3)/N` with c = 0. Test docs with < 3 tokens drop.
    *
    * Output: (idCol, n_trigrams, sb_sum, sb_avg).
    */
  def stupidBackoffScore(train: org.apache.spark.sql.DataFrame,
      test: org.apache.spark.sql.DataFrame, idCol: String,
      text: Column, scale: Long = 1000000L): org.apache.spark.sql.DataFrame = {
    val base = train.filter(length(trim(text)) > 0)
      .select(tokens(text).as("_toks"))
    val uni = base.select(explode(col("_toks")).as("w"))
    val c1 = uni.groupBy("w").agg(count(lit(1)).as("c1"))
    val tot = uni.agg(count(lit(1)).as("nt"))
    val c2 = base.filter(size(col("_toks")) >= 2)
      .select(explode(Dedup.shinglesOfTokens(col("_toks"), 2)).as("g"))
      .groupBy("g").agg(count(lit(1)).as("c2"))
    val c3 = base.filter(size(col("_toks")) >= 3)
      .select(explode(Dedup.shinglesOfTokens(col("_toks"), 3)).as("_t3"))
      .groupBy("_t3").agg(count(lit(1)).as("c3"))
    val tg0 = test.filter(length(trim(text)) > 0)
      .select(col(idCol), tokens(text).as("_toks"))
      .filter(size(col("_toks")) >= 3)
      .select(col(idCol), explode(Dedup.shinglesOfTokens(col("_toks"), 3)).as("g3"))
    // materialize the split once — deriving each part from an inline
    // split would re-tokenize the trigram per derived column
    val tg = tg0.withColumn("_a", split(col("g3"), " "))
      .select(col(idCol), col("g3"),
        concat(element_at(col("_a"), 1), lit(" "), element_at(col("_a"), 2)).as("_b12"),
        concat(element_at(col("_a"), 2), lit(" "), element_at(col("_a"), 3)).as("_b23"),
        element_at(col("_a"), 2).as("_w2"), element_at(col("_a"), 3).as("_w3"))
    tg
      .join(c3, col("g3") === col("_t3"), "left")
      .join(c2.withColumnRenamed("g", "_g12").withColumnRenamed("c2", "c12"),
        col("_b12") === col("_g12"), "left")
      .join(c2.withColumnRenamed("g", "_g23").withColumnRenamed("c2", "c23"),
        col("_b23") === col("_g23"), "left")
      .join(c1.withColumnRenamed("w", "_u2").withColumnRenamed("c1", "cw2"),
        col("_w2") === col("_u2"), "left")
      .join(c1.withColumnRenamed("w", "_u3").withColumnRenamed("c1", "cw3"),
        col("_w3") === col("_u3"), "left")
      .crossJoin(broadcast(tot))
      .select(col(idCol),
        when(col("c3").isNotNull,
          expr(s"(c3 * ${scale}L) div c12"))
        .when(col("c23").isNotNull,
          expr(s"(c23 * 2L * ${scale}L) div (cw2 * 5L)"))
        .otherwise(
          expr(s"(coalesce(cw3, 0L) * 4L * ${scale}L) div (nt * 25L)")).as("p"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_trigrams"), sum("p").as("sb_sum"))
      .withColumn("sb_avg", col("sb_sum").cast("double") / col("n_trigrams"))
  }

  /** Repetition statistics per document — the Gopher/MassiveText-style
    * repetition filter signals: `top_unigram_frac` (share of the most
    * frequent token) and `dup_bigram_frac` (1 − distinct/total bigrams);
    * heavily repetitive machine-generated text scores high on both.
    *
    * Scale shape: explode → two hash aggregations keyed by (doc, gram)
    * then doc — map-side combinable, no windows, no driver state; the
    * per-doc outputs join on the doc id. Ratios are IEEE divisions of
    * exactly-counted integers (oracle-identical). Blank docs are dropped;
    * single-token docs have no bigrams → `dup_bigram_frac` 0.0.
    */
  def repetitionStats(df: org.apache.spark.sql.DataFrame, idCol: String,
      text: Column): org.apache.spark.sql.DataFrame = {
    val base = df.filter(length(trim(text)) > 0)
      .select(col(idCol), tokens(text).as("_toks"))
    val uni = uniAgg(base, idCol)
    val bg = base.filter(size(col("_toks")) >= 2)
      .select(col(idCol), explode(Dedup.shinglesOfTokens(col("_toks"), 2)).as("b"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bg"), countDistinct(col("b")).as("n_bg_d"))
    uni.join(bg, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        (col("top_c").cast("double") / col("n_tokens")).as("top_unigram_frac"),
        coalesce(lit(1.0) - col("n_bg_d").cast("double") / col("n_bg"), lit(0.0))
          .as("dup_bigram_frac"))
  }

  /** Unigram tier of [[repetitionStats]] on its own — (idCol, n_tokens,
    * top_unigram_frac). The filter gates threshold only on the unigram
    * signal; this skips the bigram explode+countDistinct shuffle they
    * would otherwise pay for and discard.
    */
  def topUnigramStats(df: org.apache.spark.sql.DataFrame, idCol: String,
      text: Column): org.apache.spark.sql.DataFrame =
    uniAgg(df.filter(length(trim(text)) > 0)
        .select(col(idCol), tokens(text).as("_toks")), idCol)
      .select(col(idCol), col("n_tokens"),
        (col("top_c").cast("double") / col("n_tokens")).as("top_unigram_frac"))

  /** Per-doc (n_tokens, top_c) over a `_toks` relation — the shared
    * unigram aggregation of [[repetitionStats]] and [[topUnigramStats]].
    */
  private def uniAgg(base: org.apache.spark.sql.DataFrame,
      idCol: String): org.apache.spark.sql.DataFrame =
    base.select(col(idCol), explode(col("_toks")).as("w"))
      .groupBy(col(idCol), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol)).agg(sum("c").as("n_tokens"), max("c").as("top_c"))

  /** Feature-hashed bag-of-words embedding (the HashingTF shape): token
    * hash residues bucket into `dims` counts — the cheap, vocabulary-free
    * text→vector bridge that feeds the similarity tier when no learned
    * embeddings exist. Map-only at any corpus size: no vocabulary
    * aggregation, no shuffle, no driver state.
    *
    * Pass a MATERIALIZED residue column from [[hashResidues]] (lambda
    * bodies re-evaluate embedded subexpressions per element — computing
    * md5 inside each of the `dims` count lambdas would hash every token
    * `dims` times; residues are hashed once and the per-dim counts are
    * cheap integer filters).
    */
  def hashResidues(toks: Column, dims: Int): Column =
    transform(toks, t => md5Long(t) % dims)

  /** Per-dimension counts over [[hashResidues]] output: `f0..f{dims-1}`. */
  def hashEmbed(residues: Column, dims: Int): Seq[Column] =
    (0 until dims).map(j =>
      size(filter(residues, r => r === j)).cast("long").as(s"f$j"))

  /** Deflate-compressibility quality signal — the RefinedWeb/Dolma
    * heuristic: highly compressible text (boilerplate, repeated
    * fragments, templated spam) is low-quality training data; the
    * compressed/raw byte ratio prices it in one number. Appends
    * `raw_bytes`, `comp_bytes`, and `ratioCol` (empty text → ratio 1.0;
    * NULL text null-propagates per the F4 convention).
    *
    * Codec work is JVM-native (`java.util.zip.Deflater`, level 6, raw
    * stream), so this runs in `mapPartitions` like the [[Multimodal]]
    * decoders — the documented exception to the pure-Column rule: ONE
    * Deflater per partition, reset per row, released on task completion.
    * Map-only at any corpus size (no shuffle, no state, no driver
    * collect). No SQL oracle can replay zlib byte counts, so this
    * operator's evidence is its spec (ordering, bounds, determinism),
    * not a DuckDB hash gate.
    */
  def withCompressionRatio(df: org.apache.spark.sql.DataFrame,
      textCol: String, ratioCol: String = "compress_ratio")
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val tIdx = df.schema.fieldIndex(textCol)
    require(df.schema(tIdx).dataType ==
      org.apache.spark.sql.types.StringType, s"$textCol must be string")
    val out = df.schema
      .add("raw_bytes", LongType, nullable = true)
      .add("comp_bytes", LongType, nullable = true)
      .add(ratioCol, DoubleType, nullable = true)
    val rows = df.rdd.mapPartitions { it =>
      val defl = new java.util.zip.Deflater(6, true)
      Option(org.apache.spark.TaskContext.get()).foreach(
        _.addTaskCompletionListener[Unit](_ => defl.end()))
      val buf = new Array[Byte](64 * 1024)
      it.map { r =>
        if (r.isNullAt(tIdx))
          org.apache.spark.sql.Row.fromSeq(r.toSeq ++ Seq(null, null, null))
        else {
          val bytes = r.getString(tIdx)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          defl.reset(); defl.setInput(bytes); defl.finish()
          var total = 0L
          while (!defl.finished()) total += defl.deflate(buf)
          val ratio =
            if (bytes.length == 0) 1.0 else total.toDouble / bytes.length
          // Seq[Any], NOT Seq(...): Long/Long/Double would unify by
          // numeric widening and box raw_bytes as a Double
          org.apache.spark.sql.Row.fromSeq(
            r.toSeq ++ Seq[Any](bytes.length.toLong, total, ratio))
        }
      }
    }
    df.sparkSession.createDataFrame(rows, out)
  }

  /** Vocab size bound for the literal-map encode form. Above it, a
    * `typedLit` map bloats the analyzed plan and codegen (every entry is
    * a literal in the expression tree) and ships with EVERY task binary;
    * a real BPE vocab (50k–200k entries) must ride a broadcast variable
    * instead. 10k keeps the literal plan comfortably under Janino/plan
    * size limits while covering every gate-sized vocab.
    */
  val MaxLiteralVocab = 10000

  /** token-array → vocab-id-array encode (OOV → 0). Two forms, identical
    * results, picked by vocab size:
    *
    *  - `<= maxLiteral`: `typedLit` map + `transform`/`element_at` —
    *    pure codegen, zero serialization beyond the plan itself;
    *  - above: the vocab rides a TorrentBroadcast (one copy per
    *    executor, not per task) and a Scala UDF does the lookup — still
    *    map-only, no shuffle, but off codegen for the lookup itself.
    *
    * Both forms preserve null arrays as null.
    */
  def encodeTokens(toks: Column, vocab: Map[String, Long],
      maxLiteral: Int = MaxLiteralVocab): Column =
    if (vocab.size <= maxLiteral) {
      val m = typedLit(vocab)
      transform(toks, t => coalesce(element_at(m, t), lit(0L)))
    } else {
      val bc = org.apache.spark.sql.SparkSession.active
        .sparkContext.broadcast(vocab)
      val enc = udf((ts: Seq[String]) =>
        if (ts == null) null else ts.map(t => bc.value.getOrElse(t, 0L)))
      enc(toks)
    }
}
