package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import graft.can.{Bucketer, CandumpParser, CombinePolicy, SignalDecoder}
import graft.dbc.{Network, TypingMode}

/** Structured Streaming parity for the reference's unbounded modes
  * (SURVEY §2.9): SocketCAN live capture → S2 maps to a socket text stream
  * in candump format (the reference's own remote-capture path is literally
  * `candump | nc`, README.md:52-55); file replay → S1 as a file stream.
  *
  * The decode stage is the exact same expression catalog as batch
  * ([[SignalDecoder.wideFrame]] is plan-agnostic), so batch/stream parity
  * is by construction. Bucketing:
  *
  *   - tumbling (T1a): event-time `window()` aggregation with a watermark —
  *     parallel, late-data-tolerant, append-mode output;
  *   - exact (T1b): [[exactStream]] via `flatMapGroupsWithState`, carrying
  *     the open bucket in state — the reference's chained boundaries
  *     (`src/main.cpp:127-131`) in streaming form.
  */
object CanStream {

  /** Streaming state-store backend (the §2.9 scale seam): every stateful
    * operator here — [[exactStream]]'s open buckets, [[sessionStream]]'s
    * session state, [[graft.ops.Dedup.streamingExact]]'s signature keys —
    * stores its state through this provider.
    *
    *   - [[StateBackend.InHeap]] (Spark's default): all keys live in
    *     executor heap. Fastest per key; memory grows with TOTAL key
    *     cardinality — the first thing to OOM when a 100 TB corpus streams
    *     through a signature-keyed dedup.
    *   - [[StateBackend.RocksDB]]: state lives in a local RocksDB instance
    *     per partition (on-disk SST files + a bounded block cache), so
    *     executor memory stays flat at unbounded key cardinality, at a
    *     per-access latency cost. The right default for production dedup /
    *     high-cardinality keyed state.
    *
    * The provider is a session-level config captured when a query STARTS:
    * call [[StateBackend.configure]] before `writeStream.start()`. Queries
    * already running (and restarts from an existing checkpoint, which pin
    * their provider) are unaffected.
    */
  sealed abstract class StateBackend(val providerClass: String)
  object StateBackend {
    case object InHeap extends StateBackend(
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    case object RocksDB extends StateBackend(
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

    /** Set the session's state-store provider for subsequently started
      * streaming queries.
      *
      * For RocksDB, changelog checkpointing is enabled alongside: the
      * per-commit durable artifact becomes the batch's change log (append
      * of puts/deletes) instead of a full SST snapshot upload, with
      * snapshots taken asynchronously in the background — at 100 TB-class
      * state this turns commit cost from O(state size) into O(batch
      * updates), the difference between a streaming job that keeps up and
      * one whose commit time grows with its own history. Recovery replays
      * the latest snapshot plus the changelog tail (proven in
      * RecoverySpec's cross-restart cases, which run under this config).
      */
    def configure(spark: SparkSession, backend: StateBackend): Unit = {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        backend.providerClass)
      if (backend == RocksDB)
        spark.conf.set(
          "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
          "true")
    }
  }

  /** S3/S2 portable form: candump-format lines over a TCP socket. */
  def framesFromSocket(spark: SparkSession, host: String, port: Int): DataFrame =
    CandumpParser.parseLines(
      spark.readStream.format("socket")
        .option("host", host).option("port", port).load())

  /** S1 streaming replay: candump log files appearing under a directory.
    * `maxFilesPerTrigger` bounds how many backlog files enter one
    * micro-batch — set it when replaying a large directory into stateful
    * sinks (see [[exactStream]]'s memory bound).
    */
  def framesFromTextFiles(spark: SparkSession, path: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    CandumpParser.parseLines(reader.text(path))
  }

  /** S2 bridge form: spawn a capture process (`candump -L can0`, or any
    * command emitting candump lines) via [[graft.sources.ProcessSource]]
    * and stream its stdout. `maxLinesPerTrigger` bounds how many buffered
    * lines enter one micro-batch (admission control for backlogged
    * replays — see [[exactStream]]'s memory bound).
    */
  def framesFromProcess(spark: SparkSession, command: String,
      maxLinesPerTrigger: Option[Long] = None): DataFrame = {
    val reader = spark.readStream.format("graft.sources.ProcessSource")
      .option("command", command)
    maxLinesPerTrigger.foreach(n => reader.option("maxLinesPerTrigger", n))
    CandumpParser.parseLines(reader.load())
  }

  /** S6: CAN-over-TCP packed struct (the reference's dormant
    * `CanTcpPacket`, `/root/reference/src/tcpstream.h:7-14` — 32-byte LE
    * records: can_frame at 0, epoch double at 16, packetID i64 at 24).
    * [[graft.sources.TcpStructSource]] ships raw packets; THIS is the
    * decode, all column expressions (hex/conv byte plumbing + the
    * [[graft.plans.FloatReinterpret]] codegen reinterpret for the epoch)
    * so unpacking scales with executors, not the driver ingest thread.
    *
    * Semantics: RTR (0x40000000) and error (0x20000000) frames drop —
    * they carry no decodable payload — and the 29-bit id mask strips the
    * EFF flag, matching the candump text path's id space. Output is the
    * standard frame schema `(ts_us, iface, can_id, data)` with
    * `iface = "tcp"` (the struct carries none) plus `packet_id` for
    * sequence auditing.
    */
  def framesFromTcpStruct(spark: SparkSession, host: String, port: Int,
      maxPacketsPerTrigger: Option[Long] = None): DataFrame = {
    val reader = spark.readStream.format("graft.sources.TcpStructSource")
      .option("host", host).option("port", port)
    maxPacketsPerTrigger.foreach(n => reader.option("maxPacketsPerTrigger", n))
    unpackTcpStruct(reader.load())
  }

  /** The S6 struct unpack on its own (`packet: binary` → frames) — the
    * live source above streams through it, and a RECORDED packet dump
    * (`spark.read.parquet(...)` with a 32-byte `packet` column) replays
    * through the identical expressions in batch.
    */
  def unpackTcpStruct(p: DataFrame): DataFrame = {
    // little-endian field at 1-based [off, off+len) via the zero-
    // allocation PayloadU64 codegen loop (zero-pads to 8 bytes) — the
    // previous hex()/concat/conv() string plumbing materialized a
    // 16-char string PER FIELD PER PACKET on the hot ingest path (the
    // exact cost PayloadU64's scaladoc documents for the built-ins). An
    // 8-byte LE read returns the i64 bits directly, sign included.
    def le(off: Int, len: Int) =
      graft.plans.PayloadU64(substring(col("packet"), off, len),
        littleEndian = true)
    val canIdRaw = le(1, 4)
    val epoch = graft.plans.FloatReinterpret.longBitsToDouble(le(17, 8))
    p.filter(length(col("packet")) === graft.sources.TcpStructSource.PacketBytes)
      .withColumn("_id_raw", canIdRaw)
      .filter((col("_id_raw").bitwiseAND(0x60000000L)) === 0L) // no RTR/ERR
      // corrupt-epoch drop (the struct twin of the parser's malformed-line
      // filter F2): a garbage double — NaN or beyond long-micros range —
      // would throw on the ANSI cast and kill the stream for one bad packet
      .filter(!isnan(epoch) && abs(epoch) < 9.2e12)
      .withColumn("ts_us", round(epoch * 1000000.0).cast("long"))
      .withColumn("iface", lit("tcp"))
      .withColumn("can_id", col("_id_raw").bitwiseAND(0x1FFFFFFFL))
      .withColumn("dlc", least(le(5, 1), lit(8L)).cast("int"))
      .withColumn("data", expr("substring(packet, 9, dlc)"))
      .withColumn("packet_id", le(25, 8))
      .select("ts_us", "iface", "can_id", "data", "packet_id")
  }

  /** Decode frames to the wide per-frame table. Streaming keeps absolute
    * time: `ts_ms = ts_us / 1000` (epoch ms; the reference's socket mode
    * stamps relative wall-clock, `--no-adjust-timestamp` shape — a t0
    * subtraction can be applied by the caller where needed) plus an
    * event-time `ts` column for watermarks/windows.
    */
  def decoded(net: Network, frames: DataFrame,
      typing: TypingMode = TypingMode.Intended,
      carryCols: Seq[String] = Nil): DataFrame = {
    val withTs = frames.withColumn("ts_ms", col("ts_us") / 1000.0)
    SignalDecoder.wideFrame(net, withTs, typing, carryCols = carryCols)
      .withColumn("ts", timestamp_millis(col("ts_ms").cast("long")))
  }

  /** T1a streaming: tumbling event-time windows with watermark; same
    * deterministic argmin/argmax combine as the batch [[Bucketer]].
    *
    * Uses the batch path's [[graft.plans.ArgExtremum]] below
    * [[Bucketer.CodegenArgWidthLimit]] signals (flat primitive aggregation
    * buffers — the state-store rows stay two primitive slots per signal
    * instead of a struct, and the partial aggregate codegens exactly as in
    * batch) and the equivalent `min/max(struct(ts, v))` form above it,
    * mirroring the batch width gate for the same generated-class-size
    * reason. Above the gate prefer [[bucketedStreamFromFrames]], which
    * keeps the full-volume aggregation codegen'd at any width.
    *
    * CHECKPOINT COMPATIBILITY: switching a query between the arg-extremum
    * and struct combines changes the streaming-aggregation state schema
    * (two flat primitive slots per signal vs one struct slot), so a query
    * restarted from a checkpoint written under the other form fails
    * Spark's state-store schema check. This happened once by upgrade
    * (round 10 moved ≤150-signal frames from struct to arg-extremum);
    * drain existing checkpoints with the old build, or start a fresh
    * checkpoint, when crossing that boundary.
    */
  def bucketedStream(wide: DataFrame, cacheMs: Long,
      watermark: String = "0 seconds",
      policy: CombinePolicy = CombinePolicy.LastWins): DataFrame = {
    // same guard as bucketedStreamFromFrames: a sub-millisecond CLI
    // --cache truncates to 0 and would otherwise die in window()
    // analysis with an opaque 'window duration must be greater than 0'
    require(cacheMs > 0, s"cacheMs must be positive, got $cacheMs")
    val sigCols = wide.columns.filterNot(Set("ts_ms", "ts"))
    val narrow = sigCols.length <= Bucketer.CodegenArgWidthLimit
    val pick: String => org.apache.spark.sql.Column =
      (policy, narrow) match {
        case (CombinePolicy.LastWins, true) =>
          s => graft.plans.ArgExtremum.argLast(col(s), col("ts_ms"))
        case (CombinePolicy.FirstWins, true) =>
          s => graft.plans.ArgExtremum.argFirst(col(s), col("ts_ms"))
        case (CombinePolicy.LastWins, false) =>
          s => max(when(col(s).isNotNull, struct(col("ts_ms").as("t"), col(s).as("v"))))
            .getField("v")
        case (CombinePolicy.FirstWins, false) =>
          s => min(when(col(s).isNotNull, struct(col("ts_ms").as("t"), col(s).as("v"))))
            .getField("v")
      }
    wide
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), s"$cacheMs milliseconds"))
      .agg(
        min(col("ts_ms")).as(graft.can.DbcColumns.TimeCol),
        sigCols.map(s => pick(s).as(s)).toSeq: _*)
      .drop("window")
  }

  /** T1a streaming at FLEET WIDTH: the frame-level tumbling path
    * ([[Bucketer.tumblingFromFrames]]) as a chained streaming aggregation —
    * the streaming counterpart of the batch fix that keeps the bucket
    * aggregate codegen'd past [[Bucketer.CodegenArgWidthLimit]] signals.
    *
    * Shape (same stages as batch, Spark's documented chained
    * time-window-aggregation pattern):
    *
    *   1. watermarked `groupBy(window(ts), can_id, _mux)` arg-extremum over
    *      `(payload_u64, ts_ms)` — the ONLY full-volume stateful operator.
    *      Four grouping/aggregation columns at ANY network width, flat
    *      primitive state rows, `HashAggregateExec` inside whole-stage
    *      codegen — where [[bucketedStream]] above the gate degrades to the
    *      interpreted `min/max(struct(ts, v))` combine per signal;
    *   2. decode only the winning frames (append-mode output of stage 1 —
    *      finalized windows) through the standard signal trees;
    *   3. re-window via `window_time` and reassemble the wide row — a
    *      second stateful aggregation that only ever sees the winner set
    *      (≈ buckets × messages × mux values rows).
    *
    * Requires append output mode (Spark's multiple-stateful-operator
    * rule); rows emit once the watermark passes their window, one
    * watermark delay later than [[bucketedStream]] would emit them.
    * Tie semantics match batch `tumblingFromFrames` (equal-ts frames break
    * by payload u64, not per signal by value — identical on tie-free
    * streams; see its scaladoc).
    *
    * `frames` is the parsed candump stream (`ts_us, can_id, data`); the
    * event-time columns (`ts_ms` double + `ts` timestamp) are derived from
    * `ts_us` unless the caller already provides both (time-unit-agnostic
    * callers — e.g. a gate keeping µs end-to-end — pre-derive them; the
    * only requirement is that `ts` quantizes `ts_ms` no coarser than
    * `cacheMs` buckets).
    */
  def bucketedStreamFromFrames(net: Network, frames: DataFrame, cacheMs: Long,
      watermark: String = "0 seconds",
      policy: CombinePolicy = CombinePolicy.LastWins,
      typing: TypingMode = TypingMode.Intended): DataFrame = {
    require(cacheMs > 0, "bucketedStreamFromFrames requires cacheMs > 0")
    val withTs =
      if (frames.columns.contains("ts_ms") && frames.columns.contains("ts")) frames
      else frames.withColumn("ts_ms", col("ts_us") / 1000.0)
        .withColumn("ts", timestamp_millis(col("ts_ms").cast("long")))
    val views = Bucketer.frameViews(net, withTs).withWatermark("ts", watermark)
    val winners = Bucketer.winnerFrames(views,
      window(col("ts"), s"$cacheMs milliseconds"), policy)
    Bucketer.decodeAndReassemble(net, winners, "window",
      window(window_time(col("window")), s"$cacheMs milliseconds"), "window",
      policy, typing)
  }

  /** Mutable open-bucket state for [[exactStream]] (kryo-serialized). */
  final class OpenBucket(
      var startMs: Double,
      var cells: Array[Any],
      var setInBucket: Array[Boolean]) extends Serializable

  /** T1b streaming: exact data-driven bucketing via flatMapGroupsWithState.
    * One state per key (single global key when `keyCol` is None — same
    * sequential-fidelity tradeoff as batch exact mode). Rows are sorted by
    * ts within each micro-batch (the reference assumes monotonic input;
    * out-of-order *across* micro-batches lands in the open bucket, matching
    * its current-bucket behavior at `src/main.cpp:127`).
    *
    * MEMORY BOUND: each group invocation buffers and sorts its micro-batch
    * slice in one task's heap (`rows.toSeq.sortBy`). Keyed streams split
    * that across keys and executors; the KEYLESS form funnels the ENTIRE
    * micro-batch through one group on one task — fine at telemetry rates
    * (a 1 kHz bus is ~60k rows/min of trigger interval), an OOM risk if a
    * backlogged source replays hours into a single micro-batch. For
    * keyless catch-up reads, bound the batch with source rate options —
    * [[framesFromTextFiles]]' `maxFilesPerTrigger`, [[framesFromProcess]]'
    * `maxLinesPerTrigger` (CLI: `--max-lines-per-trigger`) — or use the
    * batch exact bucketer, which is gap-segmented and fully distributed. Prefer
    * the keyed form whenever a partition key (bus/channel/device) exists:
    * it is the same semantics per key and scales with the cluster.
    */
  def exactStream(wide: DataFrame, cacheMs: Double, keyCol: Option[String] = None,
      policy: CombinePolicy = CombinePolicy.LastWins,
      forwardFill: Boolean = false): DataFrame = {
    val inSchema = wide.schema
    val tsIdx = inSchema.fieldIndex("ts_ms")
    val keyIdx = keyCol.map(inSchema.fieldIndex)
    // exclude the event-time "ts" column decoded() appends, like
    // bucketedStream does — otherwise every caller must .drop("ts") by
    // hand or get a bogus Timestamp signal column combined per bucket
    val tsEventIdx = inSchema.fields.indexWhere(_.name == "ts")
    val sigIdx = inSchema.indices.filter(i =>
      i != tsIdx && i != tsEventIdx && !keyIdx.contains(i))
    // keyed streams carry the key column through to the output (state is
    // per-key, so each emitted row belongs to exactly one key)
    val outSchema = org.apache.spark.sql.types.StructType(
      keyIdx.map(inSchema(_)).toSeq ++
        (org.apache.spark.sql.types.StructField(graft.can.DbcColumns.TimeCol,
          org.apache.spark.sql.types.DoubleType, nullable = false) +:
          sigIdx.map(inSchema(_)).toSeq))
    val n = sigIdx.length

    implicit val stateEnc = Encoders.kryo[OpenBucket]
    implicit val rowEnc = Encoders.row(outSchema)
    implicit val strEnc = Encoders.STRING

    // injective state-key encoding: a bare String.valueOf would route a
    // null key and the literal string "null" through ONE state group
    // (merged buckets, nondeterministic emitted key). The prefix byte
    // separates null from every real value; within one stream the key
    // column has a single runtime type, so toString stays injective —
    // PROVIDED that type's toString is value-based. Array/binary/struct/
    // map keys are not: Array[_].toString is the identity hash, different
    // per executor and per restart, which would scatter one logical key
    // across state groups nondeterministically. Binary keys get a
    // canonical hex encoding; other non-atomic key types are rejected
    // loudly up front (key on a derived string column instead).
    // NOTE (checkpoint compatibility): this prefix encoding changed the
    // flatMapGroupsWithState group keys in round 18 — a keyed stream
    // restarted from a pre-r18 checkpoint orphans its open-bucket state
    // (those buckets never close/emit). [[requireExactStateFormat]]
    // detects that restart at query start via the checkpoint's
    // _graft_state_format marker and refuses it loudly (the CLI exact
    // path calls it; library callers starting their own query should
    // too). Recovery: restart from a fresh checkpoint — the sinks'
    // overwrite-by-batch idempotence makes replay safe.
    keyIdx.foreach { i =>
      inSchema(i).dataType match {
        case org.apache.spark.sql.types.BinaryType => // hex-encoded below
        case dt @ (_: org.apache.spark.sql.types.ArrayType |
                   _: org.apache.spark.sql.types.MapType |
                   _: org.apache.spark.sql.types.StructType) =>
          throw new IllegalArgumentException(
          s"exactStream key column '${inSchema(i).name}' has non-atomic type " +
            s"${dt.simpleString}: its toString is identity-based, so state " +
            "grouping would be nondeterministic across executors/restarts. " +
            "Key on a derived string column (e.g. hex/concat of the fields).")
        case _ => () // atomic: toString is value-based
      }
    }
    val keyIsBinary = keyIdx.exists(i =>
      inSchema(i).dataType == org.apache.spark.sql.types.BinaryType)
    wide.groupByKey(r => keyIdx.map { i =>
      val v = r.get(i)
      if (v == null) "\u0000"
      else if (keyIsBinary)
        "\u0001" + v.asInstanceOf[Array[Byte]].map("%02x".format(_)).mkString
      else "\u0001" + v.toString
    }.getOrElse(""))
      .flatMapGroupsWithState[OpenBucket, Row](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[Row], state: GroupState[OpenBucket]) =>
          val sorted = rows.toSeq.sortBy(_.getDouble(tsIdx))
          // group invocations always carry ≥1 row under NoTimeout, so the
          // original-typed key value is recoverable from any row
          val keyVals = keyIdx.map(i => sorted.head.get(i)).toSeq
          val st = state.getOption.getOrElse(
            new OpenBucket(Double.NaN, new Array[Any](n), new Array[Boolean](n)))
          val out = Seq.newBuilder[Row]
          def close(): Unit = {
            out += Row.fromSeq(keyVals ++ (st.startMs +: st.cells.clone().toSeq))
            if (!forwardFill) // T5: carried values persist across rows
              java.util.Arrays.fill(st.cells.asInstanceOf[Array[AnyRef]], null)
            java.util.Arrays.fill(st.setInBucket, false)
          }
          sorted.foreach { r =>
            val ts = r.getDouble(tsIdx)
            if (st.startMs.isNaN) st.startMs = ts
            else if (ts > st.startMs + cacheMs) { close(); st.startMs = ts }
            var j = 0
            while (j < n) {
              val v = r.get(sigIdx(j))
              if (v != null && (policy == CombinePolicy.LastWins || !st.setInBucket(j))) {
                st.cells(j) = v; st.setInBucket(j) = true
              }
              j += 1
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** Streaming session windows (dynamic-gap sessions, the streaming
    * counterpart of the batch session_window query): watermarked event-time
    * `session_window` aggregation per key. A session extends while events
    * arrive within `gapMs` of the previous one; state is per (key, session)
    * and fully partition-parallel. Requires an event-time `ts` column (as
    * produced by [[decoded]]).
    */
  def sessionStream(wide: DataFrame, gapMs: Long, keyCol: String,
      watermark: String = "0 seconds"): DataFrame =
    wide
      .withWatermark("ts", watermark)
      .groupBy(col(keyCol), session_window(col("ts"), s"$gapMs milliseconds"))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol),
        unix_millis(col("session_window.start")).as("session_start_ms"),
        unix_millis(col("session_window.end")).as("session_end_ms"),
        col("n_events"))

  /** Current [[exactStream]] state-key format. v2 = the round-18
    * injective `\u0000`/`\u0001` prefix encoding with hex-canonical
    * binary keys; v1 (pre-r18) keyed groups on bare `String.valueOf`.
    * The two produce DISJOINT flatMapGroupsWithState group keys, so
    * restarting a v1 checkpoint under v2 does not fail — it silently
    * orphans every open-bucket state entry (buckets that never close or
    * emit). [[requireExactStateFormat]] turns that silence into a loud
    * refusal at query start.
    */
  val ExactStateFormatVersion = 2

  private val StateFormatMarker = "_graft_state_format"

  /** Checkpoint-compatibility gate for [[exactStream]] queries: call with
    * the query's `checkpointLocation` BEFORE `start()` (the CLI exact
    * path does). Semantics:
    *
    *   - fresh checkpoint (no offsets history): stamps
    *     `<checkpoint>/_graft_state_format` with
    *     [[ExactStateFormatVersion]] and returns;
    *   - marker present and equal: returns (normal restart);
    *   - marker present and different, or an EXISTING checkpoint with no
    *     marker (written by a pre-marker build, whose state keys may use
    *     the v1 encoding): throws with the recovery options spelled out.
    *
    * The marker rides inside the checkpoint dir so it is cleaned up,
    * copied, and versioned together with the state it describes.
    */
  def requireExactStateFormat(spark: SparkSession, checkpoint: String): Unit = {
    val dir = new org.apache.hadoop.fs.Path(checkpoint)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(dir, StateFormatMarker)
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val content =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      // empty/whitespace content = a partially-written marker (a crash
      // between create and write): its own message, not a confusing
      // version mismatch against ''
      if (content.isEmpty)
        throw new IllegalStateException(
          s"exactStream checkpoint $checkpoint has an EMPTY state-format " +
            s"marker ($StateFormatMarker) — a previous run crashed while " +
            "stamping it. If the checkpoint has no offsets history, delete " +
            "the marker (or the checkpoint) and restart; otherwise treat " +
            "it as a pre-marker checkpoint and restart fresh.")
      if (content != ExactStateFormatVersion.toString)
        throw new IllegalStateException(
          s"exactStream checkpoint $checkpoint carries state format " +
            s"'$content', this build writes $ExactStateFormatVersion — " +
            "restarting would orphan or misroute open-bucket state. " +
            "Restart from a fresh checkpoint (replay is safe: the sinks " +
            "overwrite by batch id).")
    } else {
      val offsets = new org.apache.hadoop.fs.Path(dir, "offsets")
      val hasHistory = fs.exists(offsets) && fs.listStatus(offsets).nonEmpty
      if (hasHistory)
        throw new IllegalStateException(
          s"exactStream checkpoint $checkpoint has committed offsets but " +
            "no state-format marker: it was written by a build predating " +
            s"format $ExactStateFormatVersion (the injective key " +
            "encoding), and its open-bucket state would be SILENTLY " +
            "ORPHANED — buckets that never close or emit. Either restart " +
            "from a fresh checkpoint (safe: sinks overwrite by batch id), " +
            s"or — only if the checkpoint is known to be format " +
            s"$ExactStateFormatVersion from a pre-marker build — accept " +
            s"it by writing '$ExactStateFormatVersion' to " +
            s"$checkpoint/$StateFormatMarker.")
      // overwrite=false so two concurrent gates on the same fresh
      // checkpoint can't clobber each other; the LOSER of that race (or a
      // retry after another process just stamped it) re-reads the marker
      // and validates it like the exists-branch instead of surfacing a
      // raw FileAlreadyExistsException
      try {
        val out = fs.create(marker, /* overwrite = */ false)
        try out.write(s"$ExactStateFormatVersion\n".getBytes("UTF-8"))
        finally out.close()
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException |
            _: java.nio.file.FileAlreadyExistsException =>
          requireExactStateFormat(spark, checkpoint)
      }
    }
  }

  /** Starts a streaming query with `spark.sql.shuffle.partitions`
    * temporarily set to `n` — the knob that sizes a stateful query's
    * state-store partition count.
    *
    * A stateful streaming aggregation takes its partitioning from
    * `spark.sql.shuffle.partitions` at the query's FIRST start and freezes
    * it into the checkpoint (Spark re-reads the value from the offset log
    * on every restart), so it must be sized to the query's key cardinality
    * and rate — NOT inherited from the batch-oriented session default.
    * Every micro-batch commits one state-store delta per partition per
    * stateful operator, so over-provisioned partitions are pure per-batch
    * commit overhead (measured on the frame-level tumbling gate at
    * local[32], identical data and results: 32 partitions ≈ 6.7 s vs
    * 4 partitions ≈ 3.2 s); under-provisioned partitions cap stateful
    * parallelism for the life of the checkpoint. Rule of thumb: enough
    * partitions that each holds a comfortable share of DISTINCT KEYS
    * (frames: can_id × mux values; sessions: active users), growing with
    * sustained input rate — not with the batch cluster's core count.
    *
    * The session conf is restored after `start` returns; the set/restore
    * is session-global, so concurrent query starts on the SAME session
    * should be serialized by the caller (started queries are unaffected).
    */
  def withStatePartitions[T](spark: SparkSession, n: Option[Int])(start: => T): T =
    n match {
      case None => start
      case Some(parts) =>
        require(parts > 0, s"statePartitions must be positive, got $parts")
        val key = "spark.sql.shuffle.partitions"
        val saved = spark.conf.getOption(key)
        spark.conf.set(key, parts)
        try start
        finally saved match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
    }

  /** K1 streaming sink: parquet with checkpointing. `statePartitions`
    * sizes upstream stateful operators' state-store partitioning (frozen
    * into the checkpoint at first start — see [[withStatePartitions]]).
    */
  def parquetSink(df: DataFrame, path: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      statePartitions: Option[Int] = None): StreamingQuery =
    withStatePartitions(df.sparkSession, statePartitions) {
      df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .trigger(trigger)
        .start()
    }

  /** K3 live decode: print selected signals per micro-batch. */
  def consoleSink(df: DataFrame, signals: Seq[String]): StreamingQuery =
    df.select((graft.can.DbcColumns.TimeCol +: signals).map(col): _*)
      .writeStream.format("console").outputMode("append").start()

  /** COMPACTABLE K1 sink: plain parquet under `out_batch=N` partitions via
    * foreachBatch (idempotent overwrite on replay — the [[graft.ops.Dedup
    * .streamingNearDup]] pattern). A long-running stream writing one file
    * set per micro-batch is the classic small-files failure at 100 TB:
    * list/open cost grows without bound and scan tasks shrink to
    * per-micro-batch slivers. The built-in parquet sink cannot be
    * compacted after the fact — its `_spark_metadata` log is the source
    * of truth for readers, so rewriting data files underneath it either
    * hides the compacted files or breaks exactly-once reads. Partitioned
    * plain parquet has no such coupling: readers use ordinary partition
    * discovery, and [[compactParquetSink]] folds finalized batch
    * partitions offline.
    */
  def partitionedParquetSink(df: DataFrame, path: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      statePartitions: Option[Int] = None): StreamingQuery =
    withStatePartitions(df.sparkSession, statePartitions) {
      df.writeStream
        .option("checkpointLocation", checkpoint)
        .trigger(trigger)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          batch.write.mode("overwrite").parquet(s"$path/out_batch=$batchId")
        }
        .start()
    }

  private def sinkPartitions(spark: SparkSession, root: String)
      : Seq[org.apache.hadoop.fs.Path] =
    graft.ops.BatchDirs.paths(spark, root, "out_batch=")

  /** Offline compaction of a [[partitionedParquetSink]] output: fold the
    * compacted base and every FINALIZED batch partition into one new base
    * under a fresh NEGATIVE `out_batch` id, sized to `targetBytesPerFile`
    * — so a stream that ran for N micro-batches reads as O(total bytes /
    * target) files plus the most recent batch, not O(N) file sets.
    *
    * The HIGHEST live batch id is left out of the fold for the same
    * reason as [[graft.ops.Dedup.compactClaims]]: only that batch can be
    * replayed after a restart, and its replay must overwrite its OWN
    * `out_batch=N` partition — folding it would turn a replay into row
    * duplication. Run while the query is STOPPED (between AvailableNow
    * drains).
    *
    * Unlike the claim store (a semi-join input, where duplicate rows are
    * harmless), sink rows must never duplicate — so the fold is staged
    * through a manifest for crash recovery: (1) new base lands in a
    * `_`-prefixed temp dir (invisible to partition discovery), (2) a
    * manifest records the fold set, (3) temp renames to
    * `out_batch=<target>`, (4) folded partitions are deleted, (5) the
    * manifest is removed. A crash before (3) rolls back (temp + manifest
    * deleted on the next run); a crash after (3) completes forward (the
    * manifest's fold set is deleted on the next run). Readers see
    * duplicates only inside the (3)-(4) window, which the run-while-
    * stopped contract already excludes.
    */
  def compactParquetSink(spark: SparkSession, path: String,
      targetBytesPerFile: Long = 128L << 20,
      partitionCols: Seq[String] = Nil): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverCompaction(fs, root)
    val parts = sinkPartitions(spark, path)
    def idOf(p: org.apache.hadoop.fs.Path): Long =
      p.getName.stripPrefix("out_batch=").toLong
    val maxLive = parts.map(idOf).filter(_ >= 0).maxOption
    val fold = parts.filter(p => idOf(p) < 0 || maxLive.exists(idOf(p) < _))
    if (fold.length > 1) {
      val target = math.min(-1L, parts.map(idOf).min - 1)
      val bytes = fold.map(p => fs.getContentSummary(p).getLength).sum
      val nFiles = math.max(1L,
        (bytes + targetBytesPerFile - 1) / targetBytesPerFile).toInt
      val tmp = new org.apache.hadoop.fs.Path(root, s"_compact_tmp_$target")
      val folded = spark.read.option("basePath", path)
        .parquet(fold.map(_.toString): _*)
        .drop("out_batch")
      // a sub-partitioned sink (e.g. an LSH index's bucket=N dirs) must
      // keep its partition layout through the fold — repartition ON the
      // partition columns so each value's rows land in few tasks (close
      // to one file per value) instead of nFiles files per value
      val sized =
        if (partitionCols.isEmpty) folded.repartition(nFiles)
        else folded.repartition(nFiles, partitionCols.map(col): _*)
      val w = sized.write.mode("overwrite")
      (if (partitionCols.isEmpty) w else w.partitionBy(partitionCols: _*))
        .parquet(tmp.toString)
      writeManifest(fs, root, target, fold.map(_.getName))
      // rename returns FALSE (no throw) on dest-exists / missing-source /
      // object-store quirks — proceeding to the fold deletion would then
      // destroy the only visible copy of the folded rows (the tmp dir is
      // underscore-prefixed, invisible to partition discovery, and a
      // reused target id would overwrite it). Abort BEFORE anything
      // destructive; recovery rolls the staged state back on next run.
      require(fs.rename(tmp, new org.apache.hadoop.fs.Path(root, s"out_batch=$target")),
        s"compaction rename $tmp -> out_batch=$target returned false; " +
          "aborting before deleting the fold set (recovery will roll back)")
      fold.foreach(p => fs.delete(p, true))
      fs.delete(manifestPath(root), false)
      ()
    }
  }

  private def manifestPath(root: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(root, "_compact_manifest")

  /** Manifest write is itself staged through a rename: a crash mid-write
    * leaves only `_compact_manifest.tmp`, which recovery ignores — so a
    * VISIBLE manifest is always complete. (A torn manifest would
    * otherwise throw inside every later recovery call, bricking
    * compaction until hand-repair.)
    */
  private def writeManifest(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, target: Long,
      folded: Seq[String]): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(root, "_compact_manifest.tmp")
    val out = fs.create(tmp, true)
    try out.write((target.toString +: folded).mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    fs.delete(manifestPath(root), false)
    // a false rename would leave NO manifest: a crash between the data
    // rename and the fold deletion then has no recovery path and leaves
    // duplicate rows — fail here, before the destructive phase starts
    require(fs.rename(tmp, manifestPath(root)),
      s"manifest rename $tmp -> ${manifestPath(root)} returned false; " +
        "aborting compaction before any partition is touched")
    ()
  }

  /** Converge an interrupted compaction: forward if the new base was
    * already renamed into place (delete the manifest's fold set), back
    * out otherwise (drop temp + manifest). Idempotent. A manifest that
    * does not parse (possible only under a filesystem without atomic
    * rename) is treated as before-rename: roll back every temp dir and
    * drop the manifest — never throw, never delete a live partition.
    */
  private def recoverCompaction(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Unit = {
    // a leftover .tmp manifest is by construction pre-rename garbage
    fs.delete(new org.apache.hadoop.fs.Path(root, "_compact_manifest.tmp"), false)
    val mf = manifestPath(root)
    if (fs.exists(mf)) {
      val in = fs.open(mf)
      val lines =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      val parsed = lines.headOption.flatMap(_.toLongOption)
      parsed match {
        case Some(target) =>
          val basePath = new org.apache.hadoop.fs.Path(root, s"out_batch=$target")
          if (fs.exists(basePath))
            lines.tail.filter(_.startsWith("out_batch=")).foreach { name =>
              fs.delete(new org.apache.hadoop.fs.Path(root, name), true)
            }
          else
            fs.delete(
              new org.apache.hadoop.fs.Path(root, s"_compact_tmp_$target"), true)
        case None =>
          // torn manifest: the data rename cannot have happened (the
          // manifest rename precedes it) — roll back any temp dirs
          fs.listStatus(root).toIndexedSeq
            .filter(_.getPath.getName.startsWith("_compact_tmp_"))
            .foreach(s => fs.delete(s.getPath, true))
      }
      fs.delete(mf, false)
      ()
    }
  }
}
