package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact order statistics at corpus scale — the robust-statistics layer
  * under outlier-aware quality filtering. A 100 TB corpus can't sort
  * globally for a median, and approximate percentiles aren't
  * oracle-replayable; instead the k-th smallest of an integer column
  * comes from its VALUE HISTOGRAM plus
  * [[CorpusSelect.cumulativeWeightsWithTotal]]'s two-pass
  * prefix-combine: one hash aggregation, a range-partitioned running
  * count, and a filtered min — no global window, no single-task sort;
  * only the chosen value (one long) reaches the driver.
  */
object RobustStats {

  /** Exact k-th smallest (1-based; `kOf` sees the total count) of a
    * LongType column. Throws on empty input or k outside [1, n].
    */
  def exactKth(df: DataFrame, valueCol: String, kOf: Long => Long): Long = {
    val hist = df.groupBy(valueCol).agg(count(lit(1)).as("_hn"))
    val (cum, n) = CorpusSelect.cumulativeWeightsWithTotal(
      hist, "_hn", Seq(col(valueCol)), "_cw")
    require(n > 0, "exactKth of an empty input")
    val k = kOf(n)
    require(k >= 1 && k <= n, s"k=$k outside [1, $n]")
    cum.filter(col("_cw") >= k).agg(min(col(valueCol))).head().getLong(0)
  }

  /** Lower median — the ⌈n/2⌉-th smallest (= DuckDB `quantile_disc(x,
    * 0.5)`), chosen over the interpolated median so even-n results stay
    * exact integers.
    */
  def lowerMedian(df: DataFrame, valueCol: String): Long =
    exactKth(df, valueCol, n => (n + 1) / 2)

  /** Rank (percentile) normalization per group — the distribution-free
    * score rescaling ML preprocessing uses before mixing heterogeneous
    * quality signals: each row's value maps to the exact fraction of
    * its group at-or-below it, in micro-units
    * (`pct_micro = cum_≤ · 10⁶ div n`, in (0, 10⁶]).
    *
    * Scale shape: the cumulative runs over the per-group VALUE
    * HISTOGRAM (one row per distinct value — bounded by the value
    * spread, never the corpus), so the window partitions by group and
    * sorts only distinct values; rows get their percentile back by an
    * equi-join on (group, value). No per-row window anywhere — the
    * [[groupedQuantilesDisc]] reasoning applied to normalization.
    */
  def rankNormalize(df: DataFrame, groupCol: String, valueCol: String,
      idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = df.groupBy(groupCol, valueCol).agg(count(lit(1)).as("_hn"))
    val cum = hist.withColumn("_cum",
      sum("_hn").over(Window.partitionBy(groupCol).orderBy(valueCol)))
    val tot = df.groupBy(groupCol).agg(count(lit(1)).as("_n"))
    df.select(col(idCol), col(groupCol), col(valueCol))
      .join(cum.select(col(groupCol), col(valueCol), col("_cum")),
        Seq(groupCol, valueCol))
      .join(tot, groupCol)
      .select(col(idCol), col(groupCol), col(valueCol),
        expr("(_cum * 1000000) div _n").as("pct_micro"))
  }

  /** Per-GROUP discrete quantiles in ONE pass: each requested quantile
    * `(name, qn, qd)` emits the k-th smallest of the group with
    * `k = ⌈n·qn/qd⌉ = (n·qn + qd − 1) div qd` — element-exact DuckDB
    * `quantile_disc(x, qn/qd)` semantics, verified over n = 1..200, so
    * the rational index arithmetic never touches a float. The
    * cumulative count is a window PARTITIONED BY the group over the
    * group's own value histogram, so it parallelizes across groups and
    * each partition holds one group's distinct values (bounded by that
    * group's value spread, never the corpus) — the qt_packing
    * per-group-window reasoning, not a global running sum; all
    * quantiles share the single histogram/cumulative pass as
    * conditional mins in one aggregation.
    *
    * Output: (groupCols…, n, name₁, name₂, …).
    */
  def groupedQuantilesDisc(df: DataFrame, groupCols: Seq[String],
      valueCol: String, quantiles: Seq[(String, Long, Long)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    require(quantiles.nonEmpty, "quantiles must be non-empty")
    quantiles.foreach { case (nm, qn, qd) =>
      require(qd > 0 && qn > 0 && qn <= qd,
        s"quantile $nm = $qn/$qd outside (0, 1]")
    }
    val hist = df.groupBy((groupCols :+ valueCol).map(col): _*)
      .agg(count(lit(1)).as("_hn"))
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(col(valueCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("_cw", sum("_hn").over(w))
    val tot = hist.groupBy(groupCols.map(col): _*).agg(sum("_hn").as("n"))
    val qCols = quantiles.map { case (nm, qn, qd) =>
      min(when(col("_cw") >= expr(s"(n * $qn + ${qd - 1}) div $qd"),
        col(valueCol))).as(nm)
    }
    cum.join(tot, groupCols)
      .groupBy(groupCols.map(col): _*)
      .agg(first(col("n")).as("n"), qCols: _*)
  }

  /** Per-GROUP lower median — [[groupedQuantilesDisc]] at 1/2.
    * Output: (groupCols…, n, median).
    */
  def groupedLowerMedian(df: DataFrame, groupCols: Seq[String],
      valueCol: String): DataFrame =
    groupedQuantilesDisc(df, groupCols, valueCol, Seq(("median", 1L, 2L)))

  /** Per-GROUP median/MAD outlier report — [[madOutliers]] with both
    * medians computed per group via [[groupedLowerMedian]] and joined
    * back, so NOTHING reaches the driver (the scalar form collects its
    * two cutoff longs; here they stay relational — the right shape when
    * the group count itself is large). Flags `dev > nMads · MAD` within
    * each group's own distribution: a 40-token median Chinese slice and
    * a 400-token English slice each keep their own center.
    *
    * Output: (groupCols…, idCol, valueCol, dev, is_outlier).
    */
  def groupedMadOutliers(df: DataFrame, groupCols: Seq[String],
      idCol: String, valueCol: String, nMads: Long = 3L): DataFrame = {
    require(nMads >= 0, s"nMads must be non-negative, got $nMads")
    val med = groupedLowerMedian(df, groupCols, valueCol)
      .select((groupCols.map(col) :+ col("median").as("_med")): _*)
    val dev = df.join(med, groupCols)
      .select(groupCols.map(col) ++ Seq(col(idCol), col(valueCol),
        abs(col(valueCol) - col("_med")).as("dev")): _*)
    val mad = groupedLowerMedian(dev, groupCols, "dev")
      .select((groupCols.map(col) :+ col("median").as("_mad")): _*)
    dev.join(mad, groupCols)
      .select(groupCols.map(col) ++ Seq(col(idCol), col(valueCol),
        col("dev"), (col("dev") > col("_mad") * nMads).as("is_outlier")): _*)
  }

  /** Median/MAD outlier report — the robust alternative to mean/stddev
    * z-scores (one template-spam burst drags a mean; the median doesn't
    * move): per row, `dev = |v − median|`, flagged iff
    * `dev > nMads · MAD` where MAD is the lower median of the devs.
    * All integer arithmetic — exactly replayable.
    *
    * Scale shape: two [[lowerMedian]] passes (each histogram-sized past
    * the first aggregation) plus one map-only projection; the input
    * projection is evaluated for each pass — persist upstream if the
    * score derivation is expensive (the perplexityBuckets recompute
    * trade).
    *
    * Output: (idCol, valueCol, dev, is_outlier).
    */
  def madOutliers(df: DataFrame, idCol: String, valueCol: String,
      nMads: Long = 3L): DataFrame = {
    require(nMads >= 0, s"nMads must be non-negative, got $nMads")
    val med = lowerMedian(df, valueCol)
    val dev = df.select(col(idCol), col(valueCol),
      abs(col(valueCol) - med).as("dev"))
    val mad = lowerMedian(dev, "dev")
    dev.withColumn("is_outlier", col("dev") > nMads * mad)
  }
}
