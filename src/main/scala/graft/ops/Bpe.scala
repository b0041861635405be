package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed BPE (byte-pair-encoding) merge training — the tokenizer-
  * construction step of a training-data pipeline, run where the data is
  * instead of shipping a corpus sample to a single-node trainer.
  *
  * Classic BPE trains on the WORD-FREQUENCY table, not the corpus: the
  * corpus collapses once (one tokenize + groupBy shuffle) into
  * (word-segmentation, count) rows — unique words, orders of magnitude
  * smaller than the corpus and the only full-volume pass in the whole
  * procedure. Each merge round then (1) counts adjacent symbol pairs
  * weighted by word count — a map-side explode + one aggregation over the
  * WORD table, (2) takes the argmax pair (one driver row; deterministic
  * tie-break count desc → pair lexicographic), and (3) applies the merge
  * map-only. At 100 TB the corpus is touched once; rounds cost
  * O(unique words), the same asymmetry as [[Similarity.kmeansCodebook]]'s
  * driver-sized codebook loop.
  *
  * Segmentations are DELIMITED STRINGS, not arrays: `|a||b||c|` (every
  * symbol wrapped in single `|`, so adjacent symbols meet as `||`). A
  * merge of (a, b) is then `replace(seg, "|a||b|", "|ab|")` — and
  * left-to-right non-overlapping string replacement IS greedy BPE apply:
  * consuming a matched pair consumes its symbols, so an overlapping
  * chain (`aaa` under merge (a,a)) collapses to `aa,a`, never `a,aa`,
  * and disjoint occurrences in one word all merge in one pass. The same
  * `replace` exists with the same semantics in DuckDB, which is what
  * makes the training replayable by the SQL oracle round for round.
  * Symbols must therefore never contain `|` — [[wordTable]] restricts
  * words to alphanumerics, and [[train]] rejects a violating merge pair.
  */
object Bpe {

  /** (seg, cnt): the word-frequency table with initial character
    * segmentation — the one corpus-wide step. Words are whitespace
    * tokens restricted to `[A-Za-z]+` (the delimiter-safety contract).
    */
  def wordTable(docs: DataFrame, text: Column): DataFrame =
    docs.select(explode(TextAnalysis.tokens(text)).as("w"))
      .filter(col("w").rlike("^[A-Za-z]+$"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(regexp_replace(col("w"), "(.)", "|$1|").as("seg"), col("cnt"))

  final case class Merge(round: Int, a: String, b: String, count: Long)

  /** Run `merges` rounds over a [[wordTable]] relation. Returns the merge
    * table (driver-sized: one row per round) and the final segmented word
    * relation, persisted — the caller owns it and must `unpersist()`
    * (the [[Dedup.minhashNearDups]] contract).
    */
  def train(words: DataFrame, merges: Int): (Seq[Merge], DataFrame) = {
    require(merges >= 1, s"merges must be >= 1, got $merges")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    var w = words.persist(lvl)
    // on any failure the caller never receives the handle it is
    // contractually required to unpersist — release the current round's
    // caches before propagating
    var ok = false
    try {
      w.count()
      val out = Seq.newBuilder[Merge]
      var exhausted = false
      for (r <- 1 to merges if !exhausted) {
        topPair(w) match {
          case None => exhausted = true // no adjacent pairs left anywhere
          case Some((a, b, c)) =>
            require(!(a + b).contains("|"),
              s"BPE symbols must not contain '|': merge ($a, $b)")
            out += Merge(r, a, b, c)
            val merged = w
              .select(regexp_replace(col("seg"),
                lit(java.util.regex.Pattern.quote(s"|$a||$b|")),
                lit(java.util.regex.Matcher.quoteReplacement(s"|$a$b|"))).as("seg"),
                col("cnt"))
              .persist(lvl)
            try merged.count()
            catch { case e: Throwable => merged.unpersist(); throw e }
            w.unpersist()
            w = merged
        }
      }
      ok = true
      (out.result(), w)
    } finally if (!ok) w.unpersist()
  }

  /** Highest-count adjacent pair over the word table, weighted by word
    * count; None when no word has two symbols left. Tie-break: count
    * desc, then (a, b) lexicographic — deterministic across engines for
    * the alphanumeric symbol contract.
    */
  private def topPair(w: DataFrame): Option[(String, String, Long)] = {
    val sy = split(expr("trim(BOTH '|' FROM seg)"), "\\|\\|")
    val pairs = w.select(col("cnt"), sy.as("sy"))
      .select(col("cnt"), explode(when(size(col("sy")) > 1,
        transform(sequence(lit(1), size(col("sy")) - 1),
          i => struct(element_at(col("sy"), i).as("a"),
            element_at(col("sy"), i + 1).as("b"))))
        .otherwise(array().cast("array<struct<a:string,b:string>>"))).as("p"))
    pairs.groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("cnt")).as("c"))
      .orderBy(col("c").desc, col("a"), col("b"))
      .limit(1)
      .collect()
      .headOption
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
  }

  /** Re-segment arbitrary words with a trained merge table: the APPLY
    * side of BPE, map-only (fold of `replace` calls — one per merge, in
    * merge order, which is the BPE apply rule). Input column must obey
    * the same no-`|` contract; output is the delimited segmentation.
    */
  def segment(word: Column, merges: Seq[Merge]): Column =
    merges.foldLeft(regexp_replace(word, "(.)", "|$1|")) { (seg, m) =>
      regexp_replace(seg,
        lit(java.util.regex.Pattern.quote(s"|${m.a}||${m.b}|")),
        lit(java.util.regex.Matcher.quoteReplacement(s"|${m.a}${m.b}|")))
    }
}
