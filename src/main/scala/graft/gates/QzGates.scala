package graft.gates

import org.apache.spark.sql.functions._
import graft.ops.{Bpe, Dedup, TextAnalysis, WordPiece}
import graft.fixtures.ZipfCorpus._
import graft.fixtures.SharedSql._

/** Zipf-corpus gates (`qz_*`): gates whose behaviour depends on
  * realistic token rarity, over [[graft.fixtures.ZipfCorpus.zipfDocs]].
  */
object QzGates extends GateFamily {

  private val zShinglesCte = shinglesCteFrom("zdocs", zdocsBody + ",\n")

  val prefixJoin = gate("qz_prefix_join") { (s, dir) =>
    // qd_prefix_join's exact similarity join re-certified on the
    // Zipf-vocabulary corpus (see zipfDocs): ~30k word types instead
    // of the documents table's ~31, so the rare-prefix bound carries
    // real weight and the planted twins are the true pairs
    Dedup.prefixFilterNearDups(zipfDocs(s, dir), "doc_id", col("text"))
      .orderBy("doc_a", "doc_b")
  }(
    // the same exact prefix-filter join certified on the derived
    // Zipf-vocabulary corpus (realistic token rarity; planted twins
    // are the true pairs) — body shared with qd_prefix_join
    zShinglesCte + prefixJoinBody)

  val collocations = gate("qz_collocations") { (s, dir) =>
    // qt_collocations on the Zipf-vocabulary corpus: with 30k word
    // types the min-count floor and Dice ranking discriminate real
    // co-occurrence structure (common-tier bigrams) instead of the
    // everything-co-occurs-with-everything ~31-word regime
    TextAnalysis.collocationsTopK(zipfDocs(s, dir), col("text"))
      .orderBy(col("dice_micro").desc, col("g"))
  }(
    // the same collocation derivation certified on the Zipf-vocabulary
    // corpus, where Dice + min-count discriminate real structure
    collocationsSql(zdocsBody + ",\n", "zdocs"))

  val wordpiece = gate("qz_wordpiece") { (s, dir) =>
    // qt_wordpiece's trainer on the Zipf-vocabulary corpus: the word
    // table is ~15k distinct types (vs ~31), so the pair/symbol-count
    // argmax runs in the word-table-bounded regime the 100 TB scale
    // story claims — ZipfVocabSpec proved the Scala side, this gate
    // makes the DuckDB oracle certify it too
    import s.implicits._
    val words = Bpe.wordTable(zipfDocs(s, dir), col("text"))
    val (merges, fin) = WordPiece.train(words, 3)
    fin.unpersist()
    merges.map(m => (m.round, m.a, m.b, m.pairCount, m.scorePico, m.a + m.b))
      .toDF("round", "sym_a", "sym_b", "pair_count", "score_pico", "merged")
  }(
    // the same 3-round likelihood trainer on the Zipf-vocabulary word
    // table (~15k distinct types) — the word-table-bounded regime
    wpTrainCtesFrom("zdocs", zdocsBody + ",\n") +
    s"""
       |SELECT round, a AS sym_a, b AS sym_b, c AS pair_count,
       |  sp AS score_pico, a || b AS merged
       |FROM (SELECT 1 AS round, * FROM m1 UNION ALL
       |      SELECT 2, * FROM m2 UNION ALL
       |      SELECT 3, * FROM m3)
       |ORDER BY round""".stripMargin)
}
