package graft.ops

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.JoinedRow
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types.{ArrayType, LongType}
import graft.plans.RangeScan

/** Token-budget corpus selection: keep the maximal prefix of a totally-
  * ordered corpus whose running weight sum stays within `budget` — the
  * "highest-quality documents until the token budget is full" selection
  * step of a training-data pipeline.
  *
  * The naive form is a GLOBAL ordered window (`sum(w) OVER (ORDER BY ...)`),
  * which funnels the whole corpus through one partition. This is the 100 TB
  * design instead — the shared two-pass [[graft.plans.RangeScan]]:
  *
  *   1. range-partition on the selection order; per-partition weight
  *      subtotals (ONE row per partition) are collected to the driver;
  *   2. prefix-combine subtotals into per-partition carry-in offsets;
  *      partitions whose carry-in already exceeds the budget are SKIPPED
  *      WHOLESALE — no row work, so total cost is O(selected prefix +
  *      one subtotal scan), not O(corpus sorted through one task);
  *   3. surviving partitions fold locally against their broadcast
  *      carry-in; within the straddling partition the scan stops at the
  *      first row past the budget (weights are non-negative, so the
  *      cumulative sum is monotone).
  *
  * The result carries every input column plus `cumCol` (the inclusive
  * running sum). Selection is independent of the partition count: the
  * range boundaries move work between passes but the selected set is
  * defined purely by the total order, which callers must make total
  * (e.g. `(quality DESC, doc_id)`).
  *
  * CONTRACT ([[graft.plans.RangeScan]]'s, for every prefix entry point
  * here): the input is staged and pass 1 runs at call time, in one SQL
  * execution; the returned DataFrame is lazy and persists nothing. Each
  * action on it runs pass 2 over the range shuffle's files, so there is
  * nothing for the caller to release.
  */
object CorpusSelect {

  def budgetPrefix(df: DataFrame, weightCol: String, budget: Long,
      order: Seq[Column], cumCol: String = "cum_weight",
      numPartitions: Int = 0): DataFrame =
    prefixCore(df, weightCol, order, cumCol, numPartitions, _ => budget)

  /** Fraction-budget mode: keep the prefix holding `fractionNum /
    * fractionDen` of the TOTAL weight (e.g. 1/10 with weight 1 = the
    * top decile by the selection order). The total comes from pass 1's
    * per-partition subtotals — which already traverse every row — so
    * resolving the budget adds ZERO extra scans, where the naive
    * `df.count()` + [[budgetPrefix]] pairing pays one full corpus scan
    * just to learn k (one fewer 100 TB pass; CorpusSelectSpec pins the
    * job count). The fraction is an exact rational, not a double:
    * budget = ceil(total · num / den) in integer arithmetic, so the
    * selected rank is bit-identical across engines (the same
    * portability reasoning that made qt_quality_topk a rank threshold
    * rather than a percentile-interpolation one).
    */
  def fractionPrefix(df: DataFrame, weightCol: String,
      fractionNum: Long, fractionDen: Long, order: Seq[Column],
      cumCol: String = "cum_weight", numPartitions: Int = 0): DataFrame = {
    require(fractionNum > 0 && fractionDen > 0 && fractionNum <= fractionDen,
      s"fraction must be in (0, 1]: $fractionNum/$fractionDen")
    prefixCore(df, weightCol, order, cumCol, numPartitions, total =>
      ((BigInt(total) * fractionNum + fractionDen - 1) / fractionDen).toLong)
  }

  /** Bounded top-`n`-per-group selection — the per-domain document cap
    * every curation pipeline runs ("keep the best N pages per source").
    *
    * The naive form is `row_number() OVER (PARTITION BY group ORDER BY
    * score DESC, id)` ≤ n, which shuffles and SORTS every row of every
    * group — a group holding 1% of a 100 TB corpus funnels 1 TB through
    * one task's sort. This form is a typed
    * [[org.apache.spark.sql.expressions.Aggregator]] whose state is the
    * bounded top-n list itself: partial aggregation runs map-side, so
    * each task ships AT MOST n rows per group it saw — the shuffle
    * volume is `n · groups · tasks` regardless of skew, and no sort of
    * group members ever happens. (`collect_list`+`slice` has the same
    * API shape but collects UNBOUNDED per-group state before slicing —
    * the bound inside the buffer is the whole point.)
    *
    * Determinism: rank by (`score` DESC, `id` ASC), exact double
    * comparison. `score` must be non-NaN (NaN would break the strict
    * weak ordering) — token counts, quality scores, and the other repo
    * scoring functions never produce one.
    *
    * Output: (`groupCol`, `idCol`, `scoreName`), ≤ n rows per group.
    */
  def topPerGroup(df: DataFrame, groupCol: String, score: Column,
      idCol: String, n: Int, scoreName: String = "score"): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    // the id rides through the aggregator as a long — a silent cast of
    // a string/UUID id column would null every id AND break the
    // documented (score DESC, id ASC) tie determinism
    require(Seq[org.apache.spark.sql.types.DataType](
        org.apache.spark.sql.types.ByteType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.LongType)
        .contains(df.schema(idCol).dataType),
      s"$idCol must be an integral column, got ${df.schema(idCol).dataType}")
    val top = F.udaf(new TopNAgg(n))
    df.select(F.col(groupCol), score.as("_s"),
        F.col(idCol).cast("long").as("_id"))
      .groupBy(F.col(groupCol))
      .agg(top(F.col("_s"), F.col("_id")).as("_top"))
      .select(F.col(groupCol), F.explode(F.col("_top")).as("_t"))
      .select(F.col(groupCol), F.col("_t._2").as(idCol),
        F.col("_t._1").as(scoreName))
  }

  /** STREAMING per-group cap — the continuous leaderboard: each
    * micro-batch folds into a winners ledger holding the best `n` rows
    * per group over EVERYTHING seen so far. Bounded top-n is
    * associative, commutative, and insensitive to how the input splits
    * into batches (`top(top(A) ∪ B) = top(A ∪ B)`), so the final ledger
    * equals the batch [[topPerGroup]] over the concatenated input under
    * ANY arrival order — strictly stronger than the in-order-only
    * contract of [[streamingShardAssign]]. Batch N writes
    * `winners_batch=N` computed from the highest ledger below N plus
    * batch N (overwrite ⇒ idempotent crash replay); the ledger is
    * `n × groups`-bounded, so each fold's non-batch input is tiny.
    * Ids must be unique across batches (exactly-once source) — a doc
    * re-arriving in two different batches would occupy two slots.
    *
    * Retention: after committing ledger N the writer deletes
    * generations ABOVE N (stale leftovers of a previous, differently
    * batched run under a fresh checkpoint — `winnersBatches(...).max`
    * would silently serve them) and below N−1 (history; N−1 stays
    * because a crash-replay of batch N reads it). The out dir is a
    * LEDGER, not a plain-readable corpus — read via
    * [[winnersBatches]].max, never `spark.read.parquet(outPath)`.
    */
  def streamingTopPerGroup(docs: DataFrame, groupCol: String, score: Column,
      idCol: String, n: Int, outPath: String, checkpoint: String,
      scoreName: String = "score")
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val prior = winnersBatches(s, outPath).filter(_ < batchId)
        val current = topPerGroup(batch, groupCol, score, idCol, n, scoreName)
        val combined =
          if (prior.isEmpty) current
          else topPerGroup(
            s.read.parquet(s"$outPath/winners_batch=${prior.max}")
              .unionByName(current),
            groupCol, F.col(scoreName), idCol, n, scoreName)
        combined.write.mode("overwrite")
          .parquet(s"$outPath/winners_batch=$batchId")
        // retention sweep (see scaladoc): stale generations above this
        // commit, history below the crash-replay window
        BatchDirs.deleteWhere(s, outPath, "winners_batch=")(
          id => id > batchId || id < batchId - 1)
      }
      .start()

  /** Ledger partitions of a [[streamingTopPerGroup]] output dir. */
  def winnersBatches(spark: org.apache.spark.sql.SparkSession,
      outPath: String): Seq[Long] =
    BatchDirs.ids(spark, outPath, "winners_batch=")

  /** Weighted sampling without replacement, per group — sequential
    * Poisson sampling (Ohlsson '98): each row draws priority `u / w`
    * where `u` is a deterministic uniform integer hash and `w` its
    * positive integer weight, and the `n` SMALLEST priorities per group
    * win. P(priority < x) = min(1, x·w), so inclusion probability is
    * ∝ weight — the standard "sample long/high-quality docs more often"
    * knob — while staying a plain top-n selection that rides
    * [[topPerGroup]]'s bounded aggregator: map-side partials ship ≤ n
    * rows per group per task, no per-group sort, no rand() (replayable
    * across runs AND engines).
    *
    * Cross-engine determinism is exact, not approximate: `u` and `w` are
    * integers below 2^53, so both cast to double losslessly, and IEEE
    * 754 requires division to be correctly rounded — Spark and DuckDB
    * produce the same 64 bits for every priority. No ln()/pow() variant
    * of weighted sampling (Efraimidis–Spirakis) can promise that:
    * transcendental functions are NOT correctly rounded and differ
    * between libm implementations.
    *
    * `weight` must be a positive integer expression (NaN/zero/negative
    * would break ranking — enforce upstream); `uniformHash` an integral
    * hash like `md5Long(text) % 2^40`. Output: (groupCol, idCol,
    * `priority`), ≤ n rows per group, smallest priorities first by
    * construction of the rank (ties broken by id ASC).
    */
  def weightedSamplePerGroup(df: DataFrame, groupCol: String, idCol: String,
      weight: Column, uniformHash: Column, n: Int): DataFrame = {
    val pri = uniformHash.cast("double") / weight.cast("double")
    // topPerGroup keeps LARGEST score; negate so smallest priority wins.
    // -(-x) is exact for doubles, so the surfaced priority is bit-equal
    // to the oracle's u/w.
    topPerGroup(df, groupCol, -pri, idCol, n, "_neg_pri")
      .select(F.col(groupCol), F.col(idCol),
        (-F.col("_neg_pri")).as("priority"))
  }

  /** Aggregation state for [[topPerGroup]]: a list kept sorted by
    * (score DESC, id ASC) and truncated to `n` — constant-bounded
    * buffer, mergeable map-side. Insertion is an O(n) merge into the
    * sorted list (n is a cap like 3–100, not a data-sized structure).
    */
  private final class TopNAgg(n: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        (Double, Long), List[(Double, Long)], Seq[(Double, Long)]] {
    private def before(a: (Double, Long), b: (Double, Long)): Boolean =
      a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)
    override def zero: List[(Double, Long)] = Nil
    override def reduce(buf: List[(Double, Long)],
        x: (Double, Long)): List[(Double, Long)] =
      if (buf.lengthCompare(n) >= 0 && !before(x, buf.last)) buf
      else {
        val (ahead, behind) = buf.span(before(_, x))
        (ahead ::: x :: behind).take(n)
      }
    override def merge(b1: List[(Double, Long)],
        b2: List[(Double, Long)]): List[(Double, Long)] =
      b2.foldLeft(b1)(reduce)
    override def finish(r: List[(Double, Long)]): Seq[(Double, Long)] = r
    override def bufferEncoder: org.apache.spark.sql.Encoder[List[(Double, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[(Double, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** Per-group budget prefix — the mixture-construction primitive
    * ("spend at most B tokens per language, best documents first"):
    * within every group, keep the maximal prefix of the group's
    * selection order whose running weight stays ≤ `budgetPerGroup`.
    *
    * The naive form is `sum(w) OVER (PARTITION BY group ORDER BY …)`,
    * which funnels every hot group through one sorting task. This is
    * the [[budgetPrefix]] two-pass machinery generalized: range-
    * partition on (group, order) — a group larger than one partition
    * spreads over several CONSECUTIVE partitions — then per-(partition,
    * group) weight subtotals (driver-sized: range partitioning keeps
    * distinct groups per partition small, so the collect is
    * O(partitions + groups)) prefix-combine into per-(partition, group)
    * carry-ins. Pass 2 folds each partition once, resetting the running
    * sum at group boundaries; partitions whose EVERY group is already
    * past budget are skipped wholesale.
    *
    * `groupCol` must be a string column (languages, sources — the
    * grouped-budget use cases); weights are non-negative longs, like
    * [[budgetPrefix]]. Result carries every input column plus `cumCol`
    * (the inclusive within-group running sum). Lazy, per the object
    * CONTRACT.
    */
  def groupedBudgetPrefix(df: DataFrame, groupCol: String,
      weightCol: String, budgetPerGroup: Long, order: Seq[Column],
      cumCol: String = "cum_weight", numPartitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    require(df.schema(weightCol).dataType == LongType,
      s"$weightCol must be LongType (exact token counts); cast upstream")
    require(df.schema(groupCol).dataType ==
      org.apache.spark.sql.types.StringType,
      s"$groupCol must be a string column")
    require(!df.columns.contains(cumCol),
      s"output column '$cumCol' already exists in the input")
    val gIdx = df.schema.fieldIndex(groupCol)
    val wIdx = df.schema.fieldIndex(weightCol)
    def group(r: InternalRow): String =
      if (r.isNullAt(gIdx)) null else r.getUTF8String(gIdx).toString

    // Pass 1: per-(partition, group) subtotals. LinkedHashMap keeps
    // group-arrival order, but correctness only needs the sums.
    val (sorted, subtotals) = RangeScan(df, F.col(groupCol) +: order,
        numPartitions, "groupedBudgetPrefix") { it =>
      val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      it.foreach { r =>
        val w = r.getLong(wIdx)
        require(w >= 0, s"negative weight $w breaks prefix monotonicity")
        val g = group(r)
        m.update(g, m.getOrElse(g, 0L) + w)
      }
      m.toList
    }

    // Prefix-combine per group across partitions (partitions ascend).
    val acc = scala.collection.mutable.Map.empty[String, Long]
    val offsets: Map[(Int, String), Long] =
      subtotals.zipWithIndex.flatMap { case (gs, pid) =>
        gs.map { case (g, s) =>
          val o = acc.getOrElse(g, 0L)
          acc.update(g, o + s)
          ((pid, g), o)
        }
      }.toMap
    // a partition is skippable iff every group it holds is already
    // strictly past the budget on entry (== still admits zero-weight
    // rows, matching budgetPrefix)
    val skip: Set[Int] = subtotals.indices.filter { pid =>
      subtotals(pid).forall { case (g, _) => offsets((pid, g)) > budgetPerGroup }
    }.toSet
    val bcOff = spark.sparkContext.broadcast(offsets)
    val bcSkip = spark.sparkContext.broadcast(skip)

    val selected = sorted.mapPartitionsWithIndex { (pid, it) =>
      if (bcSkip.value.contains(pid)) Iterator.empty[InternalRow]
      else {
        // explicit first-row flag: a null GROUP VALUE is legal (null
        // lang/source), so null cannot double as the "no group yet"
        // sentinel — it would skip the carry-in for the null group at
        // every partition start and reset its budget per partition
        var started = false
        var curG: String = null
        var run = 0L
        it.flatMap { r =>
          val g = group(r)
          if (!started || g != curG) {
            started = true
            curG = g
            run = bcOff.value.getOrElse((pid, g), 0L)
          }
          run += r.getLong(wIdx)
          if (run <= budgetPerGroup) Some(new JoinedRow(r, InternalRow(run)): InternalRow)
          else None
        }
      }
    }
    Shims.internalDataFrame(spark, selected,
      df.schema.add(cumCol, LongType, nullable = false))
  }

  /** Corpus snapshot diff — the monitoring step between two versions of
    * a dataset: classify every id as `added` / `removed` / `changed` /
    * `unchanged` by a full outer join on the id comparing a content
    * signature. Signatures are computed map-side on each snapshot, so
    * the diff shuffles (id, signature) pairs, never text; one shuffle
    * on the id is the irreducible cost of the alignment.
    *
    * Output: (idCol, change).
    */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
      sig: Column): DataFrame = {
    // presence flags, not signature nullness: a NULL signature (md5 of a
    // null text) must not masquerade as an absent row — and signature
    // comparison is null-safe so (null, null) reads unchanged, not
    // dropped from the CASE
    val o = oldDf.select(F.col(idCol), sig.as("_sig_old"),
      F.lit(true).as("_in_old"))
    val n = newDf.select(F.col(idCol), sig.as("_sig_new"),
      F.lit(true).as("_in_new"))
    o.join(n, Seq(idCol), "full_outer")
      .select(F.col(idCol),
        F.when(F.col("_in_old").isNull, "added")
          .when(F.col("_in_new").isNull, "removed")
          .when(!(F.col("_sig_old") <=> F.col("_sig_new")), "changed")
          .otherwise("unchanged").as("change"))
  }

  /** Incremental per-doc re-scoring across corpus snapshots: run the
    * EXPENSIVE scorer only over docs that [[corpusDiff]] marks
    * added/changed, and carry unchanged docs' rows forward from the
    * prior snapshot's score table. Removed docs drop out on both paths.
    *
    * This is the shape that makes a recurring 100 TB pipeline viable:
    * day-over-day crawls change a few percent of documents, and the
    * costly stages (quality scoring, language ID, PII scan, token
    * counting) are pure per-doc functions — so recomputing them for the
    * unchanged 97% is pure waste. The diff costs one map-side signature
    * per side plus the id-aligned join (narrow rows: id + hash, no
    * text), the scorer sees only the delta, and the carry join moves
    * prior SCORES (narrow) rather than re-reading prior text.
    *
    * `score` must be a deterministic per-doc transform of `newDf` rows
    * that keeps `idCol` in its output (this is asserted) — given that,
    * the result is row-identical to `score(newDf)` by construction.
    *
    * Output: score(delta rows) ∪ prior scores of unchanged rows.
    */
  def incrementalScores(oldScores: DataFrame, oldDf: DataFrame,
      newDf: DataFrame, idCol: String, sig: Column,
      score: DataFrame => DataFrame): DataFrame = {
    val diff = corpusDiff(oldDf, newDf, idCol, sig)
    val delta = newDf.join(
      diff.filter(F.col("change").isin("added", "changed")).select(idCol),
      Seq(idCol), "left_semi")
    val rescored = score(delta)
    require(rescored.columns.contains(idCol),
      s"scorer output must keep the id column $idCol")
    val carried = oldScores.join(
      diff.filter(F.col("change") === "unchanged").select(idCol),
      Seq(idCol), "left_semi")
    rescored.unionByName(carried)
  }

  /** Token-budget shard assignment — the "write the corpus as ~B-token
    * shards in one deterministic global order" output shape. Every row
    * gets `shardCol` = floor(preceding-cum / shardBudget): boundaries
    * fall where the PRECEDING cumulative weight crosses a budget
    * multiple, so a document never splits across shards and each shard
    * holds at most `shardBudget` plus one straddling document's weight.
    * Shard ids start at 0 and are contiguous as long as no single
    * document outweighs the budget; an over-budget document advances
    * the next shard index by floor(weight/budget) — a deliberate gap,
    * not a bug (renumbering would need a second global pass for purely
    * cosmetic ids).
    *
    * Same two-pass prefix machinery as [[budgetPrefix]] with the budget
    * resolved to the grand total (nothing filtered): a global total
    * order WITHOUT a global window — `sum(w) OVER (ORDER BY …)` funnels
    * every row through one running-sum task at 100 TB, and qt_packing's
    * per-group window parallelizes only across groups. The shard id is
    * exact long arithmetic inside the pass-2 fold (no double division
    * anywhere), emitted alongside `cumCol`. Lazy, per the object
    * CONTRACT.
    */
  def shardAssign(df: DataFrame, weightCol: String, shardBudget: Long,
      order: Seq[Column], cumCol: String = "cum_weight",
      shardCol: String = "shard", numPartitions: Int = 0,
      startAt: Long = 0L): DataFrame = {
    require(shardBudget > 0, s"shardBudget must be positive, got $shardBudget")
    require(startAt >= 0, s"startAt must be non-negative, got $startAt")
    // startAt: resume a GLOBAL shard sequence from a prior cumulative
    // total (the streaming carry) — shard ids are global, cumCol stays
    // local to this call's input
    shardAssignWithTotal(df, weightCol, shardBudget, order, cumCol,
      shardCol, numPartitions, startAt)._1
  }

  /** [[shardAssign]] plus this input's total weight — pass 1 already
    * folded it on the driver, so a streaming caller's carry update
    * costs no extra job.
    */
  def shardAssignWithTotal(df: DataFrame, weightCol: String,
      shardBudget: Long, order: Seq[Column], cumCol: String = "cum_weight",
      shardCol: String = "shard", numPartitions: Int = 0,
      startAt: Long = 0L): (DataFrame, Long) = {
    require(shardBudget > 0, s"shardBudget must be positive, got $shardBudget")
    require(startAt >= 0, s"startAt must be non-negative, got $startAt")
    prefixCoreWithTotal(df, weightCol, order, cumCol, numPartitions, identity,
      Seq(shardCol -> ((cum: Long, w: Long) => (startAt + cum - w) / shardBudget)))
  }

  /** STREAMING shard assignment — the continuous corpus-builder output
    * stage: micro-batches append to ~budget-token shards whose running
    * token total carries ACROSS batches through a one-long-per-batch
    * state ledger under `<outPath>/_state` (the `_` prefix hides it
    * from parquet discovery, so reading `outPath` sees only data).
    * Batch N reads `total_after` from the highest `state_batch` below N
    * (0 when none), assigns GLOBAL shard ids via [[shardAssign]]'s
    * `startAt`, and overwrites BOTH `out_batch=N` and `state_batch=N` —
    * replay after a crash is idempotent by partition overwrite, the
    * [[graft.streaming.CanStream.partitionedParquetSink]] contract.
    * In-order arrival reproduces the batch [[shardAssign]] over the
    * concatenated input exactly (each batch's carry-in IS the preceding
    * batches' total) — gate-shared oracle; multi-batch equality,
    * restart continuation, and replay are spec'd in
    * StreamingShardAssignSpec.
    */
  def streamingShardAssign(docs: DataFrame, weightCol: String,
      shardBudget: Long, order: Seq[Column], outPath: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val stateBase = s"$outPath/_state"
        val prior = BatchDirs.ids(s, stateBase, "state_batch=")
          .filter(_ < batchId)
        val carry =
          if (prior.isEmpty) 0L
          else s.read.parquet(s"$stateBase/state_batch=${prior.max}")
            .head().getLong(0)
        // the total comes from pass 1's driver fold — no re-aggregation
        // job per micro-batch
        val (assigned, localTotal) = shardAssignWithTotal(batch, weightCol,
          shardBudget, order, startAt = carry)
        assigned.write.mode("overwrite")
          .parquet(s"$outPath/out_batch=$batchId")
        import s.implicits._
        Seq(carry + localTotal).toDF("total_after").coalesce(1)
          .write.mode("overwrite")
          .parquet(s"$stateBase/state_batch=$batchId")
        // stale-generation sweep: a fresh-checkpoint re-drive that
        // batches the source more coarsely would otherwise leave
        // higher out_batch/state partitions from the previous run —
        // a plain read would return those rows TWICE. Ids above the
        // one just committed cannot belong to this run (batch ids are
        // monotone under a checkpoint), so they are stale by
        // construction.
        BatchDirs.deleteWhere(s, outPath, "out_batch=")(_ > batchId)
        BatchDirs.deleteWhere(s, stateBase, "state_batch=")(_ > batchId)
      }
      .start()

  /** DSIR-style target-distribution importance scoring (Xie et al. 2023,
    * "Data Selection via Importance Resampling"): score each raw document
    * by how much its hashed-bigram profile looks like a TARGET sample
    * (a trusted domain/language corpus) vs the raw pool, then select or
    * resample by the score. This is the integer-exact surrogate of
    * DSIR's log-likelihood ratio — per hashed bucket
    *
    *   w(b) = round(1e6·(c_t(b)+1)/(N_t+B)) − round(1e6·(c_r(b)+1)/(N_r+B))
    *
    * (difference of Laplace-smoothed gram probabilities in micro-units;
    * `log` is libm-dependent and would break the cross-engine
    * bit-identical contract, while products and quotients of exactly-
    * represented integers are IEEE-identical everywhere), and per doc
    * the score is the sum of w over its bigram OCCURRENCES. Ranking by
    * this score is the n-gram-feature data-selection step; feed it to
    * [[budgetPrefix]] / [[weightedSamplePerGroup]] for the resample.
    *
    * Scale shape: two explode+hash aggregations produce the B-sized
    * bucket tables (map-side combine ships ≤ B rows per task, B ≪
    * corpus); the weight table is DRIVER-SIZED BY CONTRACT (B buckets,
    * default 1024) and rides either a literal map (`B <= maxLiteral` —
    * per-doc scoring stays map-only inside whole-stage codegen, zero
    * per-doc shuffle) or, above the [[TextAnalysis.MaxLiteralVocab]]-
    * style guard, a broadcast hash join + one per-doc re-aggregation.
    * Totals are `require`d below 2^53/1e6 so the micro-unit product
    * stays exactly representable.
    *
    * Output: (idCol, n_grams, dsir_micro) — docs with < 2 tokens score 0.
    */
  def targetMatchScores(raw: DataFrame, target: DataFrame, textCol: String,
      idCol: String, buckets: Int = 1024,
      maxLiteral: Int = TextAnalysis.MaxLiteralVocab): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    def counts(df: DataFrame): Map[Long, Long] = df
      .select(F.explode(gramBuckets(F.col(textCol), buckets)).as("b"))
      .groupBy("b").agg(F.count(F.lit(1)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // B rows each — driver-sized by contract, same as the ANN codebooks
    dsirScore(raw, textCol, idCol, counts(target), counts(raw),
      buckets, maxLiteral)
  }

  /** One-pass form for the common "target = a trusted SUBSET of raw"
    * case (the shape a `lang = 'en'` / domain-allowlist selection has):
    * both bucket tables come from a SINGLE corpus gram pass with a
    * conditional count — at 100 TB this halves the dominant cost, the
    * corpus explode+aggregate, vs the two-corpus overload.
    */
  def targetMatchScores(raw: DataFrame, targetPred: Column, textCol: String,
      idCol: String, buckets: Int, maxLiteral: Int): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val both = raw
      .select(F.explode(gramBuckets(F.col(textCol), buckets)).as("b"),
        targetPred.as("t"))
      .groupBy("b").agg(F.count(F.lit(1)).as("cr"),
        F.count(F.when(F.col("t"), 1)).as("ct"))
      .collect()
    val rc = both.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val tc = both.map(r => r.getLong(0) -> r.getLong(2))
      .filter(_._2 > 0).toMap
    dsirScore(raw, textCol, idCol, tc, rc, buckets, maxLiteral)
  }

  /** Hashed-bigram bucket ids of `text` (whitespace tokens; `< 2`
    * tokens → empty array). md5-based, so both engines bucket
    * identically.
    */
  private def gramBuckets(text: Column, buckets: Int): Column = {
    val t = TextAnalysis.tokens(text)
    val n = F.size(t)
    F.zip_with(
      F.slice(t, F.lit(1), F.greatest(n - 1, F.lit(0))),
      F.slice(t, F.lit(2), F.greatest(n - 1, F.lit(0))),
      (x, y) => F.pmod(
        TextAnalysis.md5Long(F.concat(x, F.lit(" "), y)),
        F.lit(buckets.toLong)))
  }

  /** Weight-table build + per-doc scoring shared by both
    * [[targetMatchScores]] overloads (see the two-corpus overload's
    * scaladoc for the semantics and scale shape).
    */
  private def dsirScore(raw: DataFrame, textCol: String, idCol: String,
      tc: Map[Long, Long], rc: Map[Long, Long], buckets: Int,
      maxLiteral: Int): DataFrame = {
    val b = buckets.toLong
    val nt = tc.values.sum; val nr = rc.values.sum
    require(nt + b < (1L << 53) / 1000000 && nr + b < (1L << 53) / 1000000,
      s"gram totals ($nt target / $nr raw) too large for exact micro-unit " +
        "probabilities; raise the unit or shrink the sample")
    def micro(c: Long, n: Long): Long =
      Math.round(1000000.0 * (c + 1) / (n + b))
    val weights = (0L until b).map(k =>
      k -> (micro(tc.getOrElse(k, 0L), nt) - micro(rc.getOrElse(k, 0L), nr)))
    // null text → empty gram array so BOTH forms return (0, 0): the
    // literal path would otherwise null-propagate through size/aggregate
    // while the join path's explode_outer+coalesce yields zeros
    val grams = F.coalesce(gramBuckets(F.col(textCol), buckets),
      F.array().cast(ArrayType(LongType)))
    if (buckets <= maxLiteral) {
      val m = F.typedLit(weights.toMap)
      raw.select(F.col(idCol),
        F.size(grams).cast(LongType).as("n_grams"),
        F.aggregate(F.transform(grams, g => F.element_at(m, g)),
          F.lit(0L), (acc, w) => acc + w).as("dsir_micro"))
    } else {
      val s = raw.sparkSession
      import s.implicits._
      val wdf = weights.toDF("b", "w")
      val exploded = raw
        .select(F.col(idCol), F.explode_outer(grams).as("b"))
        .join(F.broadcast(wdf), Seq("b"), "left")
      exploded.groupBy(idCol)
        .agg(F.count(F.col("b")).as("n_grams"),
          F.coalesce(F.sum("w"), F.lit(0L)).as("dsir_micro"))
    }
  }

  /** Exact global running sum of `weightCol` in `order` — the bare
    * two-pass prefix-combine underneath [[budgetPrefix]]/[[shardAssign]]
    * with the budget resolved to the grand total, so NOTHING is
    * filtered: every input row comes back with `cumCol` = cumulative
    * weight through itself. This is the scalable replacement for
    * `sum(w) OVER (ORDER BY …)` (which funnels every row through one
    * running-sum task); callers use it for exact quantile/threshold
    * derivations over histograms and ledgers.
    *
    * Returns (rows + cumCol, grand total); the DataFrame is lazy, per the
    * object CONTRACT.
    */
  def cumulativeWeightsWithTotal(df: DataFrame, weightCol: String,
      order: Seq[Column], cumCol: String = "cum_weight",
      numPartitions: Int = 0): (DataFrame, Long) =
    prefixCoreWithTotal(df, weightCol, order, cumCol, numPartitions, identity)

  private def prefixCore(df: DataFrame, weightCol: String,
      order: Seq[Column], cumCol: String, numPartitions: Int,
      resolveBudget: Long => Long,
      extras: Seq[(String, (Long, Long) => Long)] = Nil): DataFrame =
    prefixCoreWithTotal(df, weightCol, order, cumCol, numPartitions,
      resolveBudget, extras)._1

  /** [[prefixCore]] plus pass 1's grand total — already computed from
    * the per-partition subtotals on the driver; exposing it saves
    * callers (the streaming shard carry) a whole re-aggregation job.
    */
  private def prefixCoreWithTotal(df: DataFrame, weightCol: String,
      order: Seq[Column], cumCol: String, numPartitions: Int,
      resolveBudget: Long => Long,
      extras: Seq[(String, (Long, Long) => Long)] = Nil): (DataFrame, Long) = {
    val spark = df.sparkSession
    require(df.schema(weightCol).dataType == LongType,
      s"$weightCol must be LongType (exact token counts); cast upstream")
    (cumCol +: extras.map(_._1)).foreach { n =>
      require(!df.columns.contains(n),
        s"output column '$n' already exists in the input")
    }
    val wIdx = df.schema.fieldIndex(weightCol)

    // Pass 1: per-partition weight subtotal (driver-sized: one long per
    // partition).
    val (sorted, subtotals) = RangeScan(df, order, numPartitions,
        "budgetPrefix") { it =>
      var s = 0L
      it.foreach { r =>
        val w = r.getLong(wIdx)
        require(w >= 0, s"negative weight $w breaks prefix monotonicity")
        s += w
      }
      s
    }

    // Prefix-combine: carry-in for partition p = sum of partitions 0..p-1;
    // the last entry is the grand total.
    val offsets = subtotals.scanLeft(0L)(_ + _)
    val total = offsets.last
    // budget resolution sees the grand total — for the fraction mode this
    // is the point where k materializes, with no extra scan
    val budget = resolveBudget(total)
    val bc = spark.sparkContext.broadcast(offsets)

    // Pass 2: skip partitions already past the budget (strictly past —
    // carry-in == budget still admits zero-weight rows); fold the rest
    // locally, stopping at the first row over budget.
    val schema = extras.foldLeft(df.schema.add(cumCol, LongType, nullable = false)) {
      case (s, (n, _)) => s.add(n, LongType, nullable = false)
    }
    val extraFns = extras.map(_._2)
    val selected = sorted.mapPartitionsWithIndex { (pid, it) =>
      if (bc.value(pid) > budget) Iterator.empty[InternalRow]
      else {
        var run = bc.value(pid)
        it.map { r =>
          run += r.getLong(wIdx)
          (run, r)
        }.takeWhile(_._1 <= budget).map { case (cum, r) =>
          new JoinedRow(r, InternalRow.fromSeq(
            cum +: extraFns.map(_(cum, r.getLong(wIdx))))): InternalRow
        }
      }
    }
    (Shims.internalDataFrame(spark, selected, schema), total)
  }
}
