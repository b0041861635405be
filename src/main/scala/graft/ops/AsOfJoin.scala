package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed as-of (backward) join: for each left row, the most recent
  * right row with `right.ts < left.ts` (strict; `<=` when `strict=false`)
  * and equal key.
  *
  * The reference has no joins beyond hash dispatch (SURVEY §2.5), but its
  * time-bucketing is exactly what an as-of engine calls resampling — this
  * operator is the general form, built Spark-first: instead of a custom
  * `SparkPlan`, union both sides and carry the right payload forward with a
  * keyed ordered window:
  *
  *   1. tag: left side=0, right side=1, right payload columns nulled on the
  *      left rows;
  *   2. window per key ordered by (ts, side): `last(payload, ignoreNulls)`
  *      over unbounded-preceding. At equal ts the ordering of `side`
  *      decides strictness (left-before-right excludes same-instant right
  *      rows = strict `<`);
  *   3. keep left rows.
  *
  * One shuffle on the key, sort within partitions, no row explosion —
  * scales with key cardinality like any windowed aggregation (skewed single
  * keys degrade exactly like they would in a merge-join as-of).
  */
object AsOfJoin {

  def backward(left: DataFrame, right: DataFrame, key: String, ts: String,
      payload: Seq[String], strict: Boolean = true): DataFrame =
    asof(left, right, key, ts, payload, strict, descending = false, prefix = "prev_")

  /** Forward as-of join: for each left row, the EARLIEST right row with
    * `right.ts > left.ts` (strict; `>=` when `strict=false`) and equal
    * key — the backward join run down a descending time order. Same
    * one-shuffle, no-explosion shape; output columns are `next_<payload>`.
    */
  def forward(left: DataFrame, right: DataFrame, key: String, ts: String,
      payload: Seq[String], strict: Boolean = true): DataFrame =
    asof(left, right, key, ts, payload, strict, descending = true, prefix = "next_")

  /** Tolerance-bounded backward as-of: like [[backward]], but a match
    * older than `tolerance` (in the ts column's own units — convert
    * timestamps to epoch micros upstream) reads as NO match (nulls). The
    * standard telemetry semantics: "the most recent sensor reading,
    * unless it is stale". Same single-shuffle plan — the matched row's ts
    * rides the payload struct and the bound is a projection-time filter,
    * so tolerance costs nothing.
    */
  def backwardWithin(left: DataFrame, right: DataFrame, key: String,
      ts: String, payload: Seq[String], tolerance: Long,
      strict: Boolean = true): DataFrame =
    asof(left, right, key, ts, payload, strict, descending = false,
      prefix = "prev_", toleranceOpt = Some(tolerance))

  /** Nearest as-of: for each left row, the right row minimizing |Δts|
    * among the same key's matches on EITHER side — the "closest sensor
    * reading" semantics ([[backward]] ∘ [[forward]], then a per-row
    * pick). Ties (equidistant past and future) prefer the PAST match,
    * the telemetry convention. `tsPayload` names the payload column
    * carrying the right side's timestamp — required to compare
    * distances, so `ts` must be numeric (epoch micros, the repo
    * convention). Two union+window folds, one per direction: still one
    * key-shuffle each, no row explosion. Output columns are
    * `nearest_<payload>`.
    */
  def nearest(left: DataFrame, right: DataFrame, key: String, ts: String,
      payload: Seq[String], tsPayload: String): DataFrame = {
    require(payload.contains(tsPayload),
      s"payload must include the right-side ts column $tsPayload")
    val both = forward(backward(left, right, key, ts, payload),
      right, key, ts, payload)
    val useB = col(s"prev_$tsPayload").isNotNull &&
      (col(s"next_$tsPayload").isNull ||
        col(ts) - col(s"prev_$tsPayload") <=
          col(s"next_$tsPayload") - col(ts))
    payload.foldLeft(both) { (acc, p) =>
        acc.withColumn(s"nearest_$p",
          when(useB, col(s"prev_$p")).otherwise(col(s"next_$p")))
      }
      .drop(payload.flatMap(p => Seq(s"prev_$p", s"next_$p")): _*)
  }

  /** Shared union+window fold: descending time turns "last preceding" into
    * "first following"; at equal ts the side order decides strictness.
    */
  private def asof(left: DataFrame, right: DataFrame, key: String, ts: String,
      payload: Seq[String], strict: Boolean, descending: Boolean,
      prefix: String, toleranceOpt: Option[Long] = None): DataFrame = {
    require(!payload.contains("_asof_ts"),
      "payload column name _asof_ts is reserved")
    val (lSide, rSide) = if (strict) (0, 1) else (1, 0)
    val leftCols = left.columns.toSeq
    val l = left.withColumn("_side", lit(lSide))
    // carry the payload as ONE struct so the matched right row is atomic —
    // per-column fills would mix fields from different right rows whenever
    // the latest match has a null field (an as-of join must return the
    // matched row's nulls, not older non-null values). The matched ts
    // rides the same struct for the tolerance bound.
    val r = right.select(col(key), col(ts),
        struct(payload.map(col) :+ col(ts).as("_asof_ts"): _*).as("_asof_p"))
      .withColumn("_side", lit(rSide))
    val unioned = l.unionByName(r, allowMissingColumns = true)
    val order = if (descending) col(ts).desc else col(ts).asc
    val w = Window.partitionBy(key).orderBy(order, col("_side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = unioned.withColumn("_asof_p",
      last(col("_asof_p"), ignoreNulls = true).over(w))
    // staleness: age of the match in the direction of travel; a match
    // past the bound nulls out (same as no match). No tolerance → pass
    // the payload through untouched.
    def bounded(c: String): Column = toleranceOpt match {
      case None => col(s"_asof_p.$c")
      case Some(t) =>
        val age =
          if (descending) col(s"_asof_p._asof_ts") - col(ts)
          else col(ts) - col(s"_asof_p._asof_ts")
        when(age <= t, col(s"_asof_p.$c"))
    }
    filled.filter(col("_side") === lSide)
      .select((leftCols.map(col) ++
        payload.map(c => bounded(c).as(s"$prefix$c"))): _*)
  }
}

/** Fixed-grid linear-interpolation resampling — the time-series shape the
  * reference's bucketing approximates (SURVEY §2.6 keeps one sample per
  * bucket; resampling EVALUATES the series on a regular grid): per key,
  * ticks at every multiple of `periodUs` inside the key's own [min ts,
  * max ts], value lerped between the surrounding samples.
  *
  * Exactness: time is epoch micros (long) and values are caller-scaled
  * integers (cents/micro-units), so the interpolation is pure long
  * arithmetic — `v0 + (v1-v0)·(g-t0) div (t1-t0)` with truncating
  * division (Spark `div` and DuckDB `//` both truncate toward zero). A
  * tick landing ON a sample returns that sample exactly.
  *
  * Scale shape: grid generation is one aggregation per key plus a
  * `sequence` explode (grid-sized, ~span/period rows per key — the
  * caller picks the period, so the explosion is bounded by contract);
  * both surrounding samples come from [[AsOfJoin]]'s union+window fold —
  * one shuffle per direction on the key, no row explosion, no
  * corpus-sized collect anywhere.
  */
object Resample {

  /** `samples(key, tsCol: long micros, valCol: long)` → one row per
    * (key, grid tick): (key, tick_us, `valCol` lerped). Colliding
    * samples at one (key, ts) collapse to their MIN value first so the
    * interpolation input is deterministic.
    */
  def lerpGrid(samples: DataFrame, key: String, tsCol: String,
      valCol: String, periodUs: Long): DataFrame = {
    require(periodUs > 0, s"periodUs must be positive, got $periodUs")
    val s = samples
      .select(col(key), col(tsCol).as("_t"), col(valCol).as("_v"))
      .groupBy(col(key), col("_t")).agg(min("_v").as("_v"))
    // grid alignment must be true ceil/floor to a period multiple —
    // pmod-based (`x + pmod(-x,p)` / `x - pmod(x,p)`), NOT truncating
    // `div`, which for negative (pre-1970) epoch-micros would misalign
    // by one period and emit out-of-span ticks / drop in-span ones
    val grid = s.groupBy(col(key))
      .agg(min("_t").as("_mn"), max("_t").as("_mx"))
      .select(col(key),
        expr(s"_mn + pmod(-_mn, ${periodUs}L)").as("_g0"),
        expr(s"_mx - pmod(_mx, ${periodUs}L)").as("_g1"))
      .filter(col("_g0") <= col("_g1")) // a sub-period key has no ticks
      .select(col(key),
        explode(sequence(col("_g0"), col("_g1"), lit(periodUs))).as("_t"))
    val both = AsOfJoin.forward(
      AsOfJoin.backward(grid, s, key, "_t", Seq("_v", "_t"), strict = false),
      s, key, "_t", Seq("_v", "_t"), strict = false)
    both.select(col(key), col("_t").as("tick_us"),
      when(col("next__t") === col("prev__t"), col("prev__v"))
        .otherwise(expr(
          "prev__v + ((next__v - prev__v) * (_t - prev__t)) div (next__t - prev__t)"))
        .as(valCol))
  }
}

/** Skew-mitigated equi-join: salt the (possibly skewed) left side into S
  * sub-keys and replicate the right side S times, so one hot key spreads
  * over S tasks instead of one straggler. Result is exactly the plain
  * join (verified by oracle query qj_skew_salted). AQE's skew-join
  * handling covers sort-merge cases adaptively; explicit salting remains
  * the tool when a single key exceeds what one task can hold.
  */
object SkewJoin {

  def saltedInner(left: DataFrame, right: DataFrame, leftKey: String,
      rightKey: String, salts: Int): DataFrame = {
    val l = left.withColumn("_salt",
      pmod(xxhash64(col(leftKey), monotonically_increasing_id()), lit(salts)).cast("int"))
    val r = right.withColumn("_salt",
      explode(array((0 until salts).map(lit): _*)))
    l.join(r, l(leftKey) === r(rightKey) && l("_salt") === r("_salt"))
      .drop("_salt")
  }
}
