package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Overlapping token-window chunking — the document→chunk expansion every
  * embedding/RAG ingest and long-context training pipeline runs before
  * vectorizing: fixed-size windows of `chunkSize` whitespace tokens taken
  * every `stride` tokens (overlap = chunkSize − stride).
  *
  * Scale shape: one projection (split + `sequence` of window starts), one
  * `posexplode` — map-only, no shuffle, no UDF; the expansion factor is
  * ~tokens/stride per document and each task expands only its own rows.
  * At 100 TB the chunker is a streaming-friendly narrow transform whose
  * output can feed [[Similarity]] embeddings or [[Ranking.bm25TopK]]
  * directly without a repartition.
  *
  * Reference analog: none (the CAN engine has no text surface) — this is
  * part of the training-data-pipeline extension the engine carries beyond
  * the reference's operator set.
  */
object Chunker {

  /** Chunk `textCol` into overlapping token windows.
    *
    * Output: (`idCol`, `chunk_id`, `n_tokens`, `chunk_text`), one row per
    * window; `chunk_id` numbers windows 0,1,… within each document and
    * window k covers tokens `[k*stride, k*stride + chunkSize)` (the final
    * windows are shorter when the document ends). Documents with no
    * tokens after trim emit nothing.
    *
    * Window starts are `sequence(0, n_tokens-1, stride)` — every token is
    * covered by at least one window, and the last window starts strictly
    * inside the document (no empty trailing chunk).
    */
  def chunk(df: DataFrame, idCol: String, textCol: String,
      chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize > 0, s"chunkSize must be positive, got $chunkSize")
    require(stride > 0 && stride <= chunkSize,
      s"stride must be in [1, chunkSize=$chunkSize], got $stride")
    // the repo-wide tokenization convention — every text gate's oracle
    // parity hangs on this single definition
    val toks = TextAnalysis.tokens(col(textCol))
    df.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol), toks.as("w"))
      .select(col(idCol), col("w"),
        posexplode(sequence(lit(0), size(col("w")) - 1, lit(stride))))
      .select(
        col(idCol),
        col("pos").cast("long").as("chunk_id"),
        size(slice(col("w"), col("col") + 1, lit(chunkSize))).cast("long")
          .as("n_tokens"),
        array_join(slice(col("w"), col("col") + 1, lit(chunkSize)), " ")
          .as("chunk_text"))
  }
}
