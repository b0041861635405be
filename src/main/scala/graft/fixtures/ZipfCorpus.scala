package graft.fixtures

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.TextAnalysis
import Tables.t

/** The Zipf-vocabulary corpus: the Spark generator [[zipfDocs]] and
  * its DuckDB twin, the `zdocs` CTE [[zdocsBody]] built on the same md5
  * hash [[h]].
  */
private[graft] object ZipfCorpus {

  /** Zipf-vocabulary derived corpus: the driver-generated documents
    * table has a ~31-word vocabulary (the recorded standing trap), so its
    * gates certify nothing about realistic token RARITY. This derives a
    * large-vocabulary corpus deterministically from `doc_id` — a 3-tier
    * mixture (10 very-common / 300 mid / 30k rare word types, ~20/30/50%
    * of token mass), letters-only words so the tokenizer trainers consume
    * them — using the cross-engine md5 hash, so the DuckDB oracle derives
    * the IDENTICAL relation and hash-certifies realistic-vocabulary
    * behavior end to end. Docs with `doc_id % 10 == 1` are planted
    * near-dup twins of `doc_id - 1` (same tokens, last replaced by a
    * marker), giving the similarity gates true pairs at J ≈ (L-3)/(L-1).
    *
    * The fanned seed is an eager `localCheckpoint`, a hard pushdown
    * barrier: without it consumers' text filters (`length(trim(text)) >
    * 0`, `size(toks) >= n`) were pushed below the round-robin exchange,
    * and the pushed copy re-synthesized the whole per-token md5 text on
    * the single scan task just to test non-emptiness (a measured 1.15 s
    * single-task stage per consumer branch in qz_collocations). The
    * checkpoint computes the 4-column seed once per build (5000 rows at
    * sf0.1). The trade: building the frame runs a Spark job, and the seed
    * is a block that dies with its executor (a lost block fails the query
    * instead of recomputing it). Only the harness releases the blocks,
    * between reps (`GraftSession.release`), so every rep still computes
    * from the parquet input. ROADMAP direction 3 replaces it with a lazy
    * logical barrier.
    */
  def zipfDocs(s: SparkSession, dir: String): DataFrame = {
    import TextAnalysis.md5Long
    val base = t(s, dir, "documents").select(
      col("doc_id"),
      when(col("doc_id") % 10 === 1, col("doc_id") - 1)
        .otherwise(col("doc_id")).as("_b"),
      (col("doc_id") % 10 === 1).as("_tw"))
      // fan the SEED rows out before the per-token md5 synthesis: the
      // bench documents table is one parquet split, so without this the
      // whole ~2×tokens md5 workload runs on a single scan task (guide
      // §2.5 input skew — measured 1.12 s single-task vs ~0.1 s spread;
      // every qz gate re-derives this corpus, some under several distinct
      // downstream partitionings). Three narrow columns ride the shuffle;
      // the derived text never does.
      .repartition(s.sparkContext.defaultParallelism)
      .withColumn("_len",
        lit(30L) + md5Long(concat(col("_b").cast("string"), lit("_len"))) % 41L)
      .localCheckpoint()
    base.select(col("doc_id"),
      zipfText(col("_b"), col("_tw"), col("_len"), 30000).as("text"))
  }

  /** The text of a [[zipfDocs]]-style document from its seed columns:
    * `len` words salted by `b` (the doc itself, or the original a twin
    * copies), drawn from 10 very-common, 300 mid and `rareTypes` rare
    * types, letters only; a `twin` doc's last word is the marker.
    */
  def zipfText(b: Column, twin: Column, len: Column,
      rareTypes: Long): Column = {
    import TextAnalysis.md5Long
    def letters(c: Column): Column =
      translate(c.cast("string"), "0123456789", "abcdefghij")
    concat_ws(" ", transform(sequence(lit(1L), len), tk => {
      val salt = concat(b.cast("string"), lit("_"), tk.cast("string"))
      val tier = md5Long(salt) % 100L
      val hw = md5Long(concat(salt, lit("_w")))
      when(twin && (tk === len), lit("twinmark"))
        .when(tier < 20, concat(lit("a"), letters(hw % 10)))
        .when(tier < 50, concat(lit("b"), letters(hw % 300)))
        .otherwise(concat(lit("c"), letters(hw % rareTypes)))
    }))
  }

  /** Portable md5-based 60-bit hash (DuckDB SQL). */
  def h(x: String) = s"CAST('0x'||substr(md5($x),1,15) AS BIGINT)"

  /** The DuckDB twin of [[zipfDocs]], the CTE `zdocs` (same md5 hash, same
    * tiering, same twins), so qz_* gates hash-certify realistic-vocabulary
    * behavior end to end.
    */
  val zdocsBody = {
    val salt = "concat(b, '_', t)"
    def zw(mod: Int, pfx: String) =
      s"'$pfx' || translate(CAST(${h(s"concat($salt, '_w')")} % $mod " +
        "AS VARCHAR), '0123456789', 'abcdefghij')"
    s"""zdocs AS MATERIALIZED (
       |  SELECT doc_id, array_to_string(list_transform(range(1, len + 1),
       |    t -> CASE WHEN tw AND t = len THEN 'twinmark'
       |      WHEN ${h(salt)} % 100 < 20 THEN ${zw(10, "a")}
       |      WHEN ${h(salt)} % 100 < 50 THEN ${zw(300, "b")}
       |      ELSE ${zw(30000, "c")} END), ' ') AS text
       |  FROM (SELECT doc_id, b, tw,
       |      30 + ${h("concat(b, '_len')")} % 41 AS len
       |    FROM (SELECT doc_id,
       |        CASE WHEN doc_id % 10 = 1 THEN doc_id - 1 ELSE doc_id END AS b,
       |        doc_id % 10 = 1 AS tw
       |      FROM documents) q) q2)""".stripMargin
  }
}
