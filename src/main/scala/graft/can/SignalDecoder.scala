package graft.can

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.dbc._

/** Compiles a parsed [[graft.dbc.Network]] into per-signal decode `Column`
  * expressions over a frames DataFrame `(ts_ms, can_id, data)`.
  *
  * This is the Spark-first re-expression of the reference's per-frame decode
  * loop (`/root/reference/src/decoder.cpp:76-129`): instead of a runtime
  * hash-dispatch + per-signal interpreter, the whole DBC is compiled at plan
  * time into a static `select` of expression trees — message dispatch becomes
  * `when(can_id === id, ...)` (P2), bit extraction becomes shift/mask
  * arithmetic (P3), scaling is constant-folded multiply-add (P4), mux gating
  * is a nested `when` (P5), and typing is a `cast` (P7). Everything lands in
  * whole-stage codegen; no UDF is on the hot path except the 32-bit
  * float-reinterpret (P6), which is rare by construction.
  */
object SignalDecoder {

  /** Big-endian u64 of the (zero-padded) 8-byte payload: byte 0 of the frame
    * is the most significant byte. Built via hex-string + signed conv so the
    * full unsigned 64-bit range round-trips under ANSI mode.
    */
  def beU64(data: Column): Column =
    conv(rpad(hex(data), 16, "0"), 16, -10).cast(LongType)

  /** Little-endian u64 (byte 0 = least significant): Long.reverseBytes(be)
    * as an expression tree — pure long arithmetic, codegen-friendly.
    */
  def leU64(be: Column): Column = {
    def b(shiftIn: Int, shiftOut: Int): Column = {
      val x = if (shiftIn > 0) shiftrightunsigned(be, shiftIn) else be
      val m = x.bitwiseAND(lit(0xFFL))
      if (shiftOut > 0) shiftleft(m, shiftOut) else m
    }
    (0 to 7).map(i => b(8 * (7 - i), 8 * i)).reduce(_ bitwiseOR _)
  }

  /** Raw (unscaled) field value of one signal from the helper columns.
    * Sign-extended for signed signals. `le`/`be` are the two u64 views.
    */
  def rawExpr(sig: Signal, le: Column, be: Column): Column = {
    val L = sig.bitLen
    val unsignedRaw =
      if (sig.littleEndian) {
        val shifted = if (sig.startBit > 0) shiftrightunsigned(le, sig.startBit) else le
        if (L >= 64) shifted else shifted.bitwiseAND(lit(sig.mask))
      } else {
        val sh = 64 - sig.motorolaMsbPos - L
        require(sh >= 0, s"signal ${sig.name}: extends past 8-byte payload")
        val shifted = if (sh > 0) shiftrightunsigned(be, sh) else be
        if (L >= 64) shifted else shifted.bitwiseAND(lit(sig.mask))
      }
    if (sig.signed && L < 64)
      shiftright(shiftleft(unsignedRaw, 64 - L), 64 - L)
    else unsignedRaw
  }

  /** Native byte-level extraction (graft.plans.CanSignalExtract): one
    * codegen loop per signal, no hex-string/u64 materialization.
    */
  def rawNative(data: Column, sig: Signal): Column =
    graft.plans.CanSignalExtract(data, sig.startBit, sig.bitLen,
      sig.littleEndian, sig.signed)

  /** IEEE-754 reinterpret for `flt32_` signals (P6): native codegen
    * Expression (graft.plans.IntBitsToFloat) — stays in whole-stage codegen.
    */
  def intBitsToFloat(raw: Column): Column = graft.plans.FloatReinterpret.intBitsToFloat(raw)

  /** IEEE-754 reinterpret for `SIG_VALTYPE_ : 2` (float64) signals: native
    * codegen Expression over the full 64-bit raw field.
    */
  def longBitsToDouble(raw: Column): Column = graft.plans.FloatReinterpret.longBitsToDouble(raw)

  /** Physical (scaled, typed) value of one signal (P4/P6/P7) from its raw.
    *
    * `SIG_VALTYPE_` IEEE signals reinterpret the raw bits first (the
    * low-32 cast inside [[intBitsToFloat]] makes any sign extension of the
    * extract irrelevant), then apply factor/offset in double precision —
    * standard DBC raw→phys semantics, unlike the reference's `flt32_` name
    * hack which is scale-less by its own documented convention.
    */
  def physExprFrom(raw: Column, sig: Signal, mode: TypingMode): Column = {
    val target = DbcSchema.sparkType(sig, mode)
    def scaled(v: Column): Column =
      if (sig.isIdentityScale) v
      else (v.cast(DoubleType) * lit(sig.factor) + lit(sig.offset)).cast(target)
    if (sig.isFlt32) intBitsToFloat(raw)
    else if (sig.valType == ValType.Float32) scaled(intBitsToFloat(raw))
    else if (sig.valType == ValType.Float64) scaled(longBitsToDouble(raw))
    else if (target == BooleanType) raw =!= 0L
    else if (sig.isIdentityScale) raw.cast(target)
    else (raw.cast(DoubleType) * lit(sig.factor) + lit(sig.offset)).cast(target)
  }

  /** Full per-signal decode tree incl. message dispatch (P2) and mux
    * gating (P5), without the output alias: null unless `can_id` matches
    * the signal's message (inner-join semantics — unknown ids produce
    * all-null signal cells and are filtered by F1 upstream) and, for
    * multiplexed signals, the mux switch matches.
    */
  private[can] def signalExprFrom(msg: Message, sig: Signal, canId: Column,
      rawOf: Signal => Column, mode: TypingMode): Column = {
    val base = physExprFrom(rawOf(sig), sig, mode)
    def muxSig = msg.muxSwitch.getOrElse(
      throw new IllegalArgumentException(
        s"signal ${sig.name} is multiplexed but message ${msg.name} has no mux switch"))
    val gated = sig.mux match {
      case Mux.Value(sw) =>
        when(rawOf(muxSig) === lit(sw), base)
      case Mux.ExtRanges(ranges) =>
        // extended mux (SG_MUL_VAL_): decode when the switch raw value is
        // inside any declared inclusive range — still a pure function of
        // the switch raw, so the frame-level tumbling paths' (bucket,
        // can_id, mux) grouping remains correct
        val sw = rawOf(muxSig)
        when(ranges.map { case (lo, hi) => sw >= lit(lo) && sw <= lit(hi) }
          .reduce(_ || _), base)
      case _ => base
    }
    when(canId === lit(msg.id), gated)
  }

  /** One decode column per signal, in network order, over the columns
    * `can_id` (of type `canIdType`) and the two u64 payload views `_le`
    * and `_be`. With `outline` each signal's tree is outlined into its own
    * generated method ([[graft.plans.Outline]], which keeps the alias at
    * the projection level); otherwise the trees inline. [[wideFrame]] and
    * [[Bucketer.decodeAndReassemble]] both decode through this.
    */
  private[can] def signalColumns(net: Network, canIdType: DataType,
      outline: Boolean, mode: TypingMode): Seq[Column] =
    net.signalsInOrder.map { case (m, s) =>
      if (outline)
        graft.plans.Outline(Seq(col("can_id") -> canIdType,
            col("_le") -> LongType, col("_be") -> LongType)) {
          case Seq(canId, le, be) =>
            signalExprFrom(m, s, canId, x => rawExpr(x, le, be), mode)
        }.as(s.name)
      else
        signalExprFrom(m, s, col("can_id"),
          x => rawExpr(x, col("_le"), col("_be")), mode).as(s.name)
    }

  /** Signal count at or above which [[wideFrame]] outlines each signal's
    * decode tree into its own generated method ([[graft.plans.Outline]]);
    * below it the trees inline into the projection's `doConsume`.
    *
    * Measured round 10 (local[32], min-of-5 noop writes, mixed-type
    * 4-signal messages — the WideDbcSpec fleet shape):
    *
    *   - narrow (5–32 signals): inlining wins 1.14–1.25×. The outlined
    *     call + mutable-state write per signal per row is pure overhead
    *     once the whole `doConsume` fits HotSpot's 8000-bytecode JIT
    *     ceiling. This is the board's regime (mini-DBC decode queries).
    *   - 128 signals, decode-only: inline ~1.0 s / 500k frames (stable).
    *     The ~25 KB inline method exceeds the JIT ceiling and runs in the
    *     interpreter, but per row only one message's trees execute (the
    *     `can_id` guards short-circuit the other 124 signals), so
    *     interpretation is cheap. Outlined: 1.0 s on good runs but up to
    *     5.2 s when C2 attempts the 7.6 KB dispatcher and bails ("out of
    *     nodes during split", observed via -XX:+PrintCompilation), leaving
    *     the hot loop cycling at C1.
    *   - 128 signals, decode→tumbling-bucket (the production spine):
    *     OUTLINED wins 0.96 vs 1.40 s — the fused partial-aggregate
    *     consume executes for every column on every row (no dispatch
    *     sparsity to exploit), so keeping the signal trees in small
    *     JIT-able methods pays.
    *   - 512 signals: inline fails Janino's 64 KB method cap and Spark
    *     falls back to the interpreted projection (1.20 s — graceful);
    *     outlined compiles (2.15 s decode-only). Outlining is the only
    *     form with a compile GUARANTEE at this width.
    *
    * 64 splits the regimes: every narrow query inlines (no call tax), and
    * fleet-width networks keep the compile guarantee and the fused-spine
    * win. Callers with an unusual consumer shape can pass their own
    * threshold (0 forces outlining, Int.MaxValue forces inline).
    */
  val OutlineSignalThreshold = 64

  /** Attach `VAL_` enum labels to a decoded wide frame: for every signal
    * with a value table (and a column present in `df`), adds
    * `<name>_label` = the label of the column's integer value, null when
    * unlisted. Opt-in and additive — decode itself stays numeric, like
    * the reference (dbcppp parses value encodings; its decode never
    * applies them), because labels are presentation, not physics.
    *
    * Map-only: each table becomes a literal map and the lookup is an
    * `element_at` projection — no join, no shuffle, any corpus size.
    * Labels address the RAW integer domain, so the lookup casts the
    * decoded column back through the inverse scale only when it is the
    * identity (the overwhelmingly common case for enum signals); a
    * labeled signal with a non-identity factor/offset is rejected loudly
    * rather than silently mislabeled.
    */
  def withLabels(net: Network, df: DataFrame): DataFrame = {
    val labeled = net.signalsInOrder.collect {
      case (m, s) if s.labels.nonEmpty && df.columns.contains(s.name) => (m, s)
    }
    labeled.foldLeft(df) { case (d, (m, s)) =>
      require(s.isIdentityScale,
        s"withLabels on ${m.name}.${s.name}: value table over a scaled " +
          s"signal (factor=${s.factor}, offset=${s.offset}) — labels " +
          "address raw values; decode is physical")
      val entries = s.labels.flatMap { case (v, l) => Seq(lit(v), lit(l)) }
      d.withColumn(s"${s.name}_label",
        element_at(map(entries: _*), col(s.name).cast(LongType)))
    }
  }

  /** Known-id frames (F1) with the shared u64 payload views — the ONE
    * place the id filter and the `_be`/`_le` assembly live, shared by
    * [[wideFrame]] and [[graft.can.Bucketer.frameViews]] (a fix to id
    * matching or view assembly must reach both paths).
    */
  private[graft] def knownWithU64Views(net: Network,
      frames: DataFrame): DataFrame = {
    val ids = net.messages.map(_.id)
    frames.filter(col("can_id").isin(ids: _*)) // F1: unknown ids dropped
      .withColumn("_be", graft.plans.PayloadU64(col("data"), littleEndian = false))
      .withColumn("_le", graft.plans.PayloadU64(col("data"), littleEndian = true))
  }

  /** frames(ts_ms, can_id, data) → wide per-frame table:
    * `(ts_ms, sig1, sig2, ...)` — one row per frame, nulls for signals not
    * carried by that frame's message. The known-id filter (F1) is applied
    * here and pushes down to the scan.
    *
    * The two shared u64 views are assembled with [[graft.plans.PayloadU64]]
    * (one codegen byte loop per endianness per frame, no string
    * materialization) and each signal is extracted with constant
    * shift/mask. Per-signal [[graft.plans.CanSignalExtract]]
    * ([[rawNative]]) exists for single-signal use and SQL, but repeats the
    * assembly per signal — shared views win once messages carry several
    * signals.
    *
    * At and above `outlineThreshold` signals ([[OutlineSignalThreshold]])
    * each signal's decode tree is outlined into its own generated method —
    * see the threshold's scaladoc for the measured regimes on both sides.
    *
    * `carryCols` are passed through unchanged (e.g. `iface` as an exact-
    * bucketing key).
    */
  def wideFrame(net: Network, frames: DataFrame,
      mode: TypingMode = TypingMode.Intended,
      carryCols: Seq[String] = Nil,
      outlineThreshold: Int = OutlineSignalThreshold): DataFrame = {
    val sigCols = signalColumns(net, frames.schema("can_id").dataType,
      outline = net.signalsInOrder.size >= outlineThreshold, mode)
    knownWithU64Views(net, frames)
      .select(col("ts_ms") +: carryCols.map(col) ++: sigCols: _*)
  }
}
