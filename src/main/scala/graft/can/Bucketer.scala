package graft.can

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.JoinedRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types._
import graft.plans.RangeScan

/** Time-bucketing of the wide per-frame table (reference T1-T4,
  * `/root/reference/src/main.cpp:122-150`, SURVEY §2.4).
  *
  * Two fidelity modes:
  *
  *   - [[BucketMode.Tumbling]] — fixed tumbling grid `floor(ts/cacheMs)`.
  *     Fully parallel hash aggregation (partial aggregation map-side, one
  *     shuffle on the bucket key). Differs from the reference only when
  *     traffic gaps exceed `cacheMs` (the reference's data-driven bucket
  *     spans the gap; a tumbling grid leaves empty buckets — which simply
  *     don't appear, since buckets exist only where data does).
  *   - [[BucketMode.Exact]] — the reference's exact data-driven chaining:
  *     a row closes when a frame arrives more than `cacheMs` after the
  *     bucket opened, and the closing frame opens the next bucket at its own
  *     timestamp (`src/main.cpp:127-131`). Boundaries chain sequentially, so
  *     this is inherently order-dependent; it runs as a sorted fold, per
  *     group key if given (parallel across keys; single partition when
  *     keyless — the documented fidelity fallback, SURVEY §7.4).
  *
  * `cacheMs == 0` ⇒ one row per frame (`/root/reference/src/arguments.h:29`).
  *
  * Within-bucket combine (T4): `LastWins` (legacy main, the default — most
  * recent sample in bucket) or `FirstWins` (current main's append-only
  * builder). Implemented as an order-insensitive argmin/argmax —
  * lexicographic (ts, value) with value tie-break — so the parallel
  * aggregation is deterministic regardless of row order: no
  * `first()`/`last()` nondeterminism. Up to [[Bucketer.CodegenArgWidthLimit]]
  * signals this runs as [[graft.plans.ArgExtremum]] (primitive buffers,
  * whole-stage codegen); wider frames fall back to the equivalent
  * `min/max(struct(ts, value))` ObjectHashAggregate form.
  */
sealed trait BucketMode
object BucketMode {
  final case class Tumbling(cacheMs: Double) extends BucketMode
  final case class Exact(cacheMs: Double, keyCols: Seq[String] = Nil,
      closeOrder: CloseOrder = CloseOrder.Clean) extends BucketMode
  case object PerFrame extends BucketMode
}

sealed trait CombinePolicy
object CombinePolicy {
  case object FirstWins extends CombinePolicy
  case object LastWins extends CombinePolicy
}

/** Which row the bucket-closing frame lands in (T1b fidelity).
  *
  * The reference decodes the incoming frame into the CURRENT row *before*
  * the gap check (`/root/reference/src/main.cpp:125-131`), so the frame
  * that closes a row has its values in the row being closed while its
  * timestamp opens the next bucket; the gap test is the subtract form
  * `ts - rowStart > cacheMs`. [[CloseOrder.DeFacto]] reproduces that.
  * [[CloseOrder.Clean]] (default) assigns the closing frame to the bucket
  * it opens — self-consistent (a row's values all carry timestamps within
  * `[Time_ms, Time_ms + cacheMs]`) and oracle-friendly, but a deliberate
  * divergence from the reference's loop ordering. Both use each mode's own
  * FP gap expression verbatim (`ts - start > cache` vs `ts > start +
  * cache`), which round differently at exact boundaries.
  *
  * Not reproduced here: the reference's input-side quirks (first-frame
  * discard, 5-bad-line EOF) live in the source layer — opt into them with
  * `CandumpParser.readLogFidelity`. Still not reproduced anywhere: the
  * legacy driver stamping a closed row with the NEXT bucket's start
  * (`/root/reference/src/main.cpp.bak:346-349`) — over-fidelity to a bug.
  */
sealed trait CloseOrder
object CloseOrder {
  case object Clean extends CloseOrder
  case object DeFacto extends CloseOrder
}

object Bucketer {

  import DbcColumns._

  /** wide(ts_ms, sig...) → bucketed(Time_ms, sig...). */
  def bucket(wide: DataFrame, mode: BucketMode,
      policy: CombinePolicy = CombinePolicy.LastWins): DataFrame = mode match {
    case BucketMode.PerFrame =>
      wide.withColumnRenamed("ts_ms", TimeCol)
    case BucketMode.Tumbling(cacheMs) if cacheMs <= 0 =>
      bucket(wide, BucketMode.PerFrame, policy)
    case BucketMode.Tumbling(cacheMs) =>
      val sigCols = wide.columns.filter(_ != "ts_ms")
      if (sigCols.length <= CodegenArgWidthLimit)
        tumblingArgExtremum(wide, cacheMs, policy)
      else tumblingStruct(wide, cacheMs, policy)
    case BucketMode.Exact(cacheMs, _, _) if cacheMs <= 0 =>
      bucket(wide, BucketMode.PerFrame, policy)
    case BucketMode.Exact(cacheMs, keyCols, closeOrder) =>
      // DeFacto is fold-only (see exactFold doc): gap segmentation assumes
      // Clean ownership of the closing frame
      if (keyCols.isEmpty && closeOrder == CloseOrder.Clean)
        exactDistributed(wide, cacheMs, policy)
      else exactFold(wide, cacheMs, keyCols, policy, forwardFill = false, closeOrder)
  }

  /** Width ceiling for the codegen (arg-extremum) tumbling aggregate.
    *
    * The declarative two-slot-per-signal aggregate emits ~5.4 KB of
    * generated code per signal into the decode+partial-agg codegen class
    * (measured: 129 signals → 720 KB). Past Spark's 1 MB
    * `GENERATED_CLASS_SIZE_THRESHOLD` (~180 signals) later-added generated
    * functions spill into a Janino nested class, and if
    * `doAggregateWithKeys` is among them the stage throws
    * `IllegalAccessError` on `BufferedRowIterator.partitionIndex` at
    * runtime (protected-field access across Janino's nested-class +
    * classloader boundary — observed, not theoretical). Which function
    * spills is an implementation detail of codegen ordering, so the
    * declarative path is gated at a conservative 150 signals and wider
    * frames use [[tumblingStruct]] — same semantics, ObjectHashAggregate
    * execution (interpreted update, still map-side partial + one shuffle).
    */
  val CodegenArgWidthLimit = 150

  /** Tumbling-bucket aggregation via [[graft.plans.ArgExtremum]]: primitive
    * two-slot buffers keep the whole `HashAggregateExec` inside whole-stage
    * codegen at fleet width (measured round 10: 129-signal decode+bucket of
    * 100k frames 5.43 s interpreted-struct → 0.88 s codegen).
    *
    * T2: row timestamp = ts of the first frame in the bucket; T3/T4: the
    * deterministic arg-extremum gives first/last non-null regardless of row
    * order — lexicographic (ts, value) with value tie-break, identical to
    * [[tumblingStruct]].
    */
  private[can] def tumblingArgExtremum(wide: DataFrame, cacheMs: Double,
      policy: CombinePolicy): DataFrame = {
    val sigCols = wide.columns.filter(_ != "ts_ms")
    val pick: (Column, Column) => Column = policy match {
      case CombinePolicy.LastWins  => graft.plans.ArgExtremum.argLast
      case CombinePolicy.FirstWins => graft.plans.ArgExtremum.argFirst
    }
    wide
      .groupBy(floor(col("ts_ms") / lit(cacheMs)).as("_bucket"))
      .agg(
        min(col("ts_ms")).as(TimeCol),
        sigCols.map(s => pick(col(s), col("ts_ms")).as(s)): _*)
      .drop("_bucket")
  }

  /** Tumbling bucketing computed FROM RAW FRAMES — the arbitrary-width
    * codegen path for fleet DBCs past [[CodegenArgWidthLimit]], where any
    * per-signal declarative aggregate would cross Spark's 1 MB
    * generated-class spill threshold.
    *
    * Key idea: within one bucket, the last-wins value of EVERY signal of a
    * message is decoded from that message's latest frame (per mux value
    * for multiplexed messages), so the big-data aggregation only needs the
    * frame payload, not the N decoded columns:
    *
    *   1. one scan: `(ts, can_id, payload-u64, mux-raw)` — 4 columns at
    *      ANY network width;
    *   2. `groupBy(bucket, can_id, mux)` with the codegen
    *      [[graft.plans.ArgExtremum]] over `(payload, ts)` — the ONLY
    *      aggregation that touches full data volume. Two primitive buffer
    *      slots total (width-independent), and the grouping key is finer
    *      than `bucket` alone, so hot buckets spread across reducers
    *      instead of skewing one;
    *   3. decode the winning frames — `buckets × messages × mux-values`
    *      rows, data-independent-of-N-frames tiny — with the standard
    *      signal trees over the reconstructed u64 views;
    *   4. per-bucket combine of the per-(message, mux) rows: each signal
    *      is non-null only in its own message's rows, ordered by the
    *      group's extreme frame ts, so an arg-extremum (or the struct
    *      form above the width gate — this aggregate sees only the tiny
    *      winner set, where interpreted execution is free) reassembles
    *      the wide row exactly.
    *
    * Tie semantics: equal-ts frames within one (message, mux) group break
    * by payload-u64 (deterministic), where the wide-table paths break per
    * signal by decoded value. The two agree on any stream without
    * duplicate timestamps inside a (message, mux) group; with duplicates
    * both are deterministic but may pick different frames. Differential
    * spec covers mux, short-dlc padding, and 129/513-signal widths on
    * tie-free data.
    */
  def tumblingFromFrames(net: graft.dbc.Network, frames: DataFrame,
      cacheMs: Double, policy: CombinePolicy = CombinePolicy.LastWins,
      mode: graft.dbc.TypingMode = graft.dbc.TypingMode.Intended): DataFrame = {
    require(cacheMs > 0, "tumblingFromFrames requires cacheMs > 0")
    val winners = winnerFrames(frameViews(net, frames),
      floor(col("ts_ms") / lit(cacheMs)).as("_bucket"), policy)
    decodeAndReassemble(net, winners, "_bucket", col("_bucket"), "_bucket",
      policy, mode)
  }

  /** Stage-1 input for the frame-level tumbling paths (batch
    * [[tumblingFromFrames]] and streaming
    * [[graft.streaming.CanStream.bucketedStreamFromFrames]]): known-id
    * frames (F1) with the shared big-endian u64 payload view and the
    * message's mux-switch raw value (`_mux`, 0 for unmultiplexed messages).
    */
  private[graft] def frameViews(net: graft.dbc.Network,
      frames: DataFrame): DataFrame = {
    // shared F1 filter + view assembly (SignalDecoder owns it): the _le
    // view is the direct little-endian PayloadU64 assembly — value-
    // identical to the byte-reverse of _be this path used to compute
    val withViews = SignalDecoder.knownWithU64Views(net, frames)
    val muxed = net.messages.filter(_.muxSwitch.isDefined)
    val muxExpr = muxed.foldLeft(lit(0L)) { (acc, m) =>
      when(col("can_id") === lit(m.id),
        SignalDecoder.rawExpr(m.muxSwitch.get, col("_le"), col("_be"))).otherwise(acc)
    }
    withViews.withColumn("_mux", muxExpr)
  }

  /** Stage 1: the ONE full-volume aggregation — the winning payload per
    * (bucket, message, mux). Two primitive buffer slots at any network
    * width; the grouping key is finer than the bucket alone, so hot buckets
    * spread across reducers. `bucketCol` is the bucket grouping expression
    * (batch: `floor(ts_ms/cacheMs) AS _bucket`; streaming: an event-time
    * `window(ts, ...)`).
    */
  private[graft] def winnerFrames(views: DataFrame, bucketCol: Column,
      policy: CombinePolicy): DataFrame = {
    import graft.plans.ArgExtremum.{argFirst, argLast}
    val pick: (Column, Column) => Column = policy match {
      case CombinePolicy.LastWins  => argLast
      case CombinePolicy.FirstWins => argFirst
    }
    // per-group extreme ts drives the final per-signal combine: max ts for
    // LastWins, min for FirstWins
    val tq = policy match {
      case CombinePolicy.LastWins  => max(col("ts_ms"))
      case CombinePolicy.FirstWins => min(col("ts_ms"))
    }
    views.groupBy(bucketCol, col("can_id"), col("_mux"))
      .agg(pick(col("_be"), col("ts_ms")).as("_be"),
        min(col("ts_ms")).as("_t0"), tq.as("_tq"))
  }

  /** Stages 2+3 of the frame-level tumbling paths.
    *
    * Stage 2 (tiny): decode each winning frame with the standard signal
    * trees. Above the aggregate width gate the neighboring stage-3
    * aggregate is a SortAggregate whose map-side sort would fuse with this
    * projection into one overgrown generated class (see
    * [[graft.plans.NoCodegen]]), so the projection carries a fusion
    * barrier (on `_t0` — the bucket key may be a metadata-bearing window
    * struct that must not be wrapped) and runs interpreted — it only ever
    * sees the winner set. Between the outline threshold and the gate,
    * outlined trees keep the shared span compilable; below, plain inline
    * codegen.
    *
    * Stage 3 (tiny): reassemble the wide row per bucket. Past the width
    * gate the struct combine keeps this aggregate out of the generated-
    * class-size danger zone — it only ever sees the winner set.
    *
    * `keyCol` names the bucket column in `winners`; `regroup` is the
    * stage-3 grouping expression over it (batch: `col("_bucket")`;
    * streaming: `window(window_time(col("window")), ...)` — the chained
    * streaming-aggregation re-window); `dropCol` is the grouped output
    * column dropped from the result.
    */
  private[graft] def decodeAndReassemble(net: graft.dbc.Network,
      winners: DataFrame, keyCol: String, regroup: Column, dropCol: String,
      policy: CombinePolicy, mode: graft.dbc.TypingMode): DataFrame = {
    import graft.plans.ArgExtremum.{argFirst, argLast}
    val pick: (Column, Column) => Column = policy match {
      case CombinePolicy.LastWins  => argLast
      case CombinePolicy.FirstWins => argFirst
    }
    val withLe = winners.withColumn("_le", SignalDecoder.leU64(col("_be")))
    val wide = net.signalsInOrder.size > CodegenArgWidthLimit
    val outline = !wide &&
      net.signalsInOrder.size >= SignalDecoder.OutlineSignalThreshold
    val canIdType = withLe.schema("can_id").dataType
    val sigCols = net.signalsInOrder.map { case (m, s) =>
      if (outline)
        graft.plans.Outline(Seq(col("can_id") -> canIdType,
            col("_le") -> LongType, col("_be") -> LongType)) {
          case Seq(canId, le, be) =>
            SignalDecoder.signalExprFrom(m, s, canId,
              x => SignalDecoder.rawExpr(x, le, be), mode)
        }.as(s.name)
      else
        SignalDecoder.signalColumnFrom(m, s, col("can_id"),
          x => SignalDecoder.rawExpr(x, col("_le"), col("_be")), mode)
    }
    val t0Col =
      if (wide) graft.plans.NoCodegen(col("_t0")).as("_t0")
      else col("_t0")
    val decoded = withLe.select(
      col(keyCol) +: t0Col +: col("_tq") +: sigCols: _*)

    val names = net.signalsInOrder.map(_._2.name)
    val finalPick: String => Column =
      if (names.length <= CodegenArgWidthLimit)
        s => pick(col(s), col("_tq"))
      else {
        val structPick: Column => Column = policy match {
          case CombinePolicy.LastWins  => max
          case CombinePolicy.FirstWins => min
        }
        s => structPick(when(col(s).isNotNull,
          struct(col("_tq").as("t"), col(s).as("v")))).getField("v")
      }
    decoded
      .groupBy(regroup)
      .agg(min(col("_t0")).as(TimeCol),
        names.map(s => finalPick(s).as(s)): _*)
      .drop(dropCol)
  }

  /** Tumbling-bucket aggregation via `min/max(struct(ts, v))` — the
    * arbitrary-width fallback (struct-typed buffers are not UnsafeRow-
    * mutable, so this plans as ObjectHashAggregate outside whole-stage
    * codegen; see [[CodegenArgWidthLimit]]). Same deterministic
    * lexicographic-(ts, value) semantics as [[tumblingArgExtremum]].
    */
  private[can] def tumblingStruct(wide: DataFrame, cacheMs: Double,
      policy: CombinePolicy): DataFrame = {
    val sigCols = wide.columns.filter(_ != "ts_ms")
    val pick: Column => Column = policy match {
      case CombinePolicy.LastWins  => max
      case CombinePolicy.FirstWins => min
    }
    // struct min/max plans as SortAggregate; past the width gate its
    // map-side SortExec must not fuse with a fleet-width upstream
    // projection (generated-class spill → runtime IllegalAccessError on
    // partitionIndex — see [[graft.plans.NoCodegen]]). The barrier costs
    // one interpreted identity projection on a path whose aggregate is
    // interpreted anyway.
    val in =
      if (sigCols.length > CodegenArgWidthLimit)
        wide.withColumn("ts_ms", graft.plans.NoCodegen(col("ts_ms")))
      else wide
    in
      .groupBy(floor(col("ts_ms") / lit(cacheMs)).as("_bucket"))
      .agg(
        min(col("ts_ms")).as(TimeCol),
        sigCols.map { s =>
          pick(when(col(s).isNotNull, struct(col("ts_ms").as("t"), col(s).as("v"))))
            .getField("v").as(s)
        }: _*)
      .drop("_bucket")
  }

  /** Distributed EXACT data-driven bucketing — the scalable form of the
    * reference's chained fold.
    *
    * Key property: the boundary chain resyncs at any inter-frame gap
    * larger than `cacheMs`. If `ts_next - ts_prev > cacheMs`, then for any
    * open bucket start `s ≤ ts_prev`, `ts_next > s + cacheMs`, so the
    * bucket always closes at the gap and the next bucket anchors at
    * `ts_next` — independent of all earlier history. Frames between two
    * such gaps therefore form an independent segment, and the global
    * sequential fold equals per-segment folds run in parallel.
    *
    * Implementation (two passes of the shared [[graft.plans.RangeScan]]
    * on `ts_ms`):
    *   1. per partition: first/last ts + count of internal resync gaps;
    *   2. driver: prefix-combine partition summaries (adding boundary gaps
    *      between consecutive partitions) into per-partition segment-id
    *      offsets; broadcast;
    *   3. per partition: assign each frame its global segment id;
    *   4. [[exactFold]] keyed by segment id — parallel across segments.
    *
    * Degenerates gracefully: a stream with no gaps > cacheMs is one
    * segment (the honest sequential case); real telemetry at ms-scale
    * windows has gaps everywhere, giving near-linear parallelism.
    *
    * CONTRACT ([[graft.plans.RangeScan]]'s): the input is staged and
    * pass 1 runs now; the returned DataFrame is lazy and persists nothing.
    *
    * `frameCounter` gets the input's row count from pass 1's collected
    * summaries, added once. It is kept only for the benchmark's traced
    * exact job, which still passes one; the pipeline counts frames with
    * an observed metric (see [[PipelineMetrics.newExactFramesCounter]]).
    */
  def exactDistributed(wide: DataFrame, cacheMs: Double,
      policy: CombinePolicy = CombinePolicy.LastWins,
      numPartitions: Int = 0,
      frameCounter: Option[org.apache.spark.util.LongAccumulator] = None)
      : DataFrame = {
    require(cacheMs > 0,
      s"cacheMs must be positive, got $cacheMs (cacheMs <= 0 means " +
        "one row per frame — route through Bucketer.bucket, which " +
        "dispatches that case to BucketMode.PerFrame)")
    val spark = wide.sparkSession
    val tsIdx = wide.schema.fieldIndex("ts_ms")

    // Pass 1: per-partition (firstTs, lastTs, internalGapCount, rows);
    // empty → NaN. The gap test MUST be the fold's own close test with the
    // worst-case bucket start (s = previous ts): `ts > last + cacheMs`,
    // computed with the identical floating-point expression — `ts - last
    // > cacheMs` rounds differently and could split a bucket the fold
    // keeps open.
    val (sorted, summaries) = RangeScan(wide, Seq(col("ts_ms")), numPartitions,
        "exactDistributed") { it =>
      var first = Double.NaN; var last = Double.NaN; var gaps = 0L; var n = 0L
      it.foreach { r =>
        val ts = r.getDouble(tsIdx)
        if (first.isNaN) first = ts
        else if (ts > last + cacheMs) gaps += 1
        last = ts
        n += 1
      }
      (first, last, gaps, n)
    }
    frameCounter.foreach(_.add(summaries.map(_._4).sum))

    // Driver prefix: segment-id offset at the start of each partition
    val offsets = new Array[Long](summaries.length)
    var segBase = 0L
    var prevLast = Double.NaN
    summaries.zipWithIndex.foreach { case ((first, last, gaps, _), pid) =>
      if (!first.isNaN && !prevLast.isNaN && first > prevLast + cacheMs) segBase += 1
      offsets(pid) = segBase
      if (!first.isNaN) { segBase += gaps; prevLast = last }
    }
    val bc = spark.sparkContext.broadcast(offsets)

    // Pass 2: assign global segment ids
    val withSeg = Shims.internalDataFrame(spark,
      sorted.mapPartitionsWithIndex { (pid, it) =>
        var seg = bc.value(pid)
        var last = Double.NaN
        it.map { r =>
          val ts = r.getDouble(tsIdx)
          if (!last.isNaN && ts > last + cacheMs) seg += 1
          last = ts
          new JoinedRow(r, InternalRow(seg)): InternalRow
        }
      },
      wide.schema.add(StructField("_seg", LongType, nullable = false)))
    exactFold(withSeg, cacheMs, Seq("_seg"), policy, forwardFill = false)
      .drop("_seg")
  }

  /** Exact data-driven bucketing as a sorted fold (T1b) over the
    * reference's chained-boundary semantics (`/root/reference/src/main.cpp:122-131`):
    * a row closes when a frame arrives more than `cacheMs` after the bucket
    * opened, and the closing frame's timestamp anchors the next bucket.
    * Which ROW the closing frame's values land in is [[CloseOrder]]:
    * `Clean` (default, repo semantics — closing frame belongs to the bucket
    * it opens) or `DeFacto` (reference loop ordering — closing frame's
    * values land in the row being closed). See [[CloseOrder]] for the full
    * divergence list; this fold is NOT a byte-level replay of the reference
    * loop in Clean mode.
    *
    * With `keyCols` the fold runs independently per key (e.g. per source
    * file / interface), hash-partitioned and sorted within partitions —
    * parallel at any scale. Keyless, it is the honest single-partition
    * sequential semantics of the reference.
    *
    * `forwardFill = true` additionally carries last-seen values across rows
    * (T5 exact semantics, legacy main `/root/reference/src/main.cpp.bak:399-405`).
    *
    * In DeFacto mode a trailing bucket that received no frame values (its
    * opener's values went to the closed row and nothing followed) is not
    * emitted. DeFacto is fold-only: [[exactDistributed]]'s gap segmentation
    * assumes the closing frame belongs to the segment it opens, so the
    * distributed path is Clean by construction.
    */
  def exactFold(wide: DataFrame, cacheMs: Double, keyCols: Seq[String],
      policy: CombinePolicy, forwardFill: Boolean,
      closeOrder: CloseOrder = CloseOrder.Clean): DataFrame = {
    require(cacheMs > 0,
      s"cacheMs must be positive, got $cacheMs (cacheMs <= 0 means one " +
        "row per frame — route through Bucketer.bucket's PerFrame dispatch)")
    val inSchema = wide.schema
    val tsIdx = inSchema.fieldIndex("ts_ms")
    val keyIdx = keyCols.map(inSchema.fieldIndex)
    val sigIdx = inSchema.indices.filter(i => i != tsIdx && !keyIdx.contains(i))
    val outFields =
      keyCols.map(inSchema(_)) ++
        (StructField(TimeCol, DoubleType, nullable = false) +:
          sigIdx.map(inSchema(_)).toSeq)
    val outSchema = StructType(outFields.toSeq)

    val prepared =
      if (keyCols.isEmpty) wide.repartition(1).sortWithinPartitions("ts_ms")
      else wide.repartition(keyCols.map(col): _*)
        .sortWithinPartitions((keyCols :+ "ts_ms").map(col): _*)

    val n = sigIdx.length
    prepared.mapPartitions { it =>
      new Iterator[Row] {
        private var bucketOpen = false
        private var bucketStart = 0.0
        private var curKey: Seq[Any] = null
        private val cells = new Array[Any](n)
        private val setInBucket = new Array[Boolean](n)
        private var framesInBucket = 0L
        private var pendingOut: Row = null
        private var done = false

        private def closeRow(): Row = {
          // clone: cells is cleared below and Array.toSeq may wrap, not copy
          val vals = curKey ++ (bucketStart +: cells.clone().toSeq)
          if (!forwardFill) java.util.Arrays.fill(cells.asInstanceOf[Array[AnyRef]], null)
          java.util.Arrays.fill(setInBucket, false)
          framesInBucket = 0L
          Row.fromSeq(vals)
        }

        private def writeValues(r: Row): Unit = {
          var j = 0
          while (j < n) {
            val v = r.get(sigIdx(j))
            if (v != null && (policy == CombinePolicy.LastWins || !setInBucket(j))) {
              cells(j) = v
              setInBucket(j) = true
            }
            j += 1
          }
          framesInBucket += 1L
        }

        private def openBucket(ts: Double, key: Seq[Any]): Unit = {
          bucketOpen = true
          bucketStart = ts
          if (key != curKey && forwardFill)
            java.util.Arrays.fill(cells.asInstanceOf[Array[AnyRef]], null)
          curKey = key
        }

        private def consume(r: Row): Row = closeOrder match {
          case CloseOrder.Clean =>
            val ts = r.getDouble(tsIdx)
            val key = keyIdx.map(r.get)
            var out: Row = null
            // Clean gap test: additive form, frame goes to the NEW bucket
            if (bucketOpen && (key != curKey || ts > bucketStart + cacheMs)) {
              out = closeRow()
              bucketOpen = false
            }
            if (!bucketOpen) openBucket(ts, key)
            writeValues(r)
            out
          case CloseOrder.DeFacto =>
            val ts = r.getDouble(tsIdx)
            val key = keyIdx.map(r.get)
            var out: Row = null
            // key switch still closes cleanly — the reference is keyless, so
            // cross-key leakage would be an invention, not fidelity. An
            // EMPTY gap-anchor bucket (the previous key's last frame
            // gap-closed, leaving framesInBucket == 0) dies with its key:
            // the same framesInBucket > 0 rule emitTrailing applies at
            // end-of-stream — without it, the same trace emitted an
            // all-null row here iff another key happened to follow
            if (bucketOpen && key != curKey) {
              out = if (framesInBucket > 0L) closeRow() else { closeRow(); null }
              bucketOpen = false
            }
            if (!bucketOpen) {
              openBucket(ts, key)
              writeValues(r)
              out
            } else {
              // reference ordering: decode into the CURRENT row first...
              writeValues(r)
              // ...then the subtract-form gap test; the frame's values stay
              // in the closed row, its ts anchors the next (empty) bucket
              if (ts - bucketStart > cacheMs) {
                out = closeRow()
                bucketStart = ts
              }
              out
            }
        }

        private def emitTrailing: Boolean =
          bucketOpen && (closeOrder match {
            case CloseOrder.Clean   => true
            case CloseOrder.DeFacto => framesInBucket > 0L
          })

        def hasNext: Boolean = {
          if (pendingOut != null) return true
          while (it.hasNext) {
            val out = consume(it.next())
            if (out != null) { pendingOut = out; return true }
          }
          if (!done && emitTrailing) { pendingOut = closeRow(); done = true; return true }
          false
        }

        def next(): Row = {
          if (!hasNext) throw new NoSuchElementException
          val r = pendingOut; pendingOut = null; r
        }
      }
    }(Encoders.row(outSchema))
  }
}

/** Shared column-name constants. */
object DbcColumns {
  val TimeCol: String = graft.dbc.DbcSchema.TimeCol
}
