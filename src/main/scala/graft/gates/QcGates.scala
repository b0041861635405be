package graft.gates

import org.apache.spark.sql.functions._
import graft.can._
import graft.dbc._
import graft.ops.Timeseries
import graft.fixtures.Tables._
import graft.fixtures.CanFrames._
import graft.fixtures.Staging._

/** CAN pipeline gates (`qc_*`): candump parse, DBC decode, bucketing,
  * forward fill and their streaming and CLI runs, over frames synthesized
  * from the events table ([[graft.fixtures.CanFrames]]).
  */
object QcGates extends GateFamily {

  /** Module options a bare `java` child JVM needs to host a SparkSession
    * on JDK 17+ (what spark-submit injects itself), taken from Spark's own
    * launcher so the list can never go stale against the running Spark
    * version — needed because qc_cli_roundtrip spawns the real CLI as a
    * child process.
    */
  private val Jdk17AddOpens: Seq[String] =
    org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptionArray().toSeq

  val candumpParse = gate("qc_candump_parse") { (s, dir) =>
    // P1/F2: parse with malformed lines injected every 7th event
    val lines = canLines(events(s, dir))
      .select(when(col("event_id") % 7 === 0, "not a can line")
        .otherwise(col("value")).as("value"))
    CandumpParser.parseLines(lines)
      .select(col("ts_us"), col("iface"), col("can_id"), hex(col("data")).as("payload_hex"))
  }(
    canBytesCte +
    """
      |SELECT us AS ts_us, 'vcan0' AS iface, CAST(can_id AS BIGINT) AS can_id,
      |  upper(lpad(to_hex(d0),2,'0') || lpad(to_hex(d1),2,'0') ||
      |        lpad(to_hex(d2),2,'0') || lpad(to_hex(d3),2,'0') ||
      |        lpad(to_hex(d4),2,'0') || lpad(to_hex(d5),2,'0') ||
      |        lpad(to_hex(d6),2,'0') || lpad(to_hex(d7),2,'0')) AS payload_hex
      |FROM b WHERE event_id % 7 <> 0""".stripMargin)

  val fidelityReplay = gate("qc_fidelity_replay") { (s, dir) =>
    // reference-fidelity replay quirks (S1) under the oracle gate:
    // synthesized candump lines with bad lines at deterministic
    // positions — every 7th (scattered singles the reader steps over)
    // and a 5-line run starting at rn=977·k (which ends the stream) —
    // written to ONE text file in event order, then read back through
    // readLogFidelity: the first good frame sets t0 and is discarded,
    // and the first 5-bad run truncates everything after. The oracle
    // replays the identical line order and quirk arithmetic in SQL.
    // Sequential by design (absolute line order is the semantics);
    // the distributed path is qc_candump_parse.
    import org.apache.spark.sql.expressions.Window
    val tmp = scratchDir("graft_qfid")
    canLines(events(s, dir))
      .withColumn("rn", row_number().over(Window.orderBy("event_id")) - 1)
      .select(when(col("rn") % 7 === 0 || col("rn") % 977 < 5,
        lit("not a can line")).otherwise(col("value")).as("value"))
      .coalesce(1)
      .write.mode("overwrite").text(s"$tmp/lines")
    CandumpParser.readLogFidelity(s, s"$tmp/lines")
      .select(col("ts_ms"), col("can_id"), hex(col("data")).as("payload_hex"))
  }(
    // same quirk arithmetic as the Spark side: 0-based line number rn in
    // event order; bad lines at rn%7=0 and rn%977<5; leading bads are
    // skipped unboundedly, the first good frame sets t0 and is dropped,
    // and the stream ends at the first gap of >=5 consecutive bad lines
    // after a good one (keep good rows up to the gap's preceding good rn)
    canBytesCte +
    """,
      |lines AS (SELECT *, row_number() OVER (ORDER BY event_id) - 1 AS rn FROM b),
      |flag AS (SELECT *, (rn % 7 = 0 OR rn % 977 < 5) AS bad FROM lines),
      |g AS (SELECT *, lead(rn) OVER (ORDER BY rn) AS nxt FROM flag WHERE NOT bad),
      |fg AS (SELECT min(rn) AS first_rn FROM g),
      |cut AS (SELECT coalesce(min(rn), 9223372036854775807) AS g_rn
      |  FROM g WHERE nxt - rn - 1 >= 5),
      |t0 AS (SELECT us AS t0us FROM g, fg WHERE rn = first_rn)
      |SELECT CAST(us - t0us AS DOUBLE)/1000.0 AS ts_ms,
      |  CAST(can_id AS BIGINT) AS can_id,
      |  upper(lpad(to_hex(d0),2,'0') || lpad(to_hex(d1),2,'0') ||
      |        lpad(to_hex(d2),2,'0') || lpad(to_hex(d3),2,'0') ||
      |        lpad(to_hex(d4),2,'0') || lpad(to_hex(d5),2,'0') ||
      |        lpad(to_hex(d6),2,'0') || lpad(to_hex(d7),2,'0')) AS payload_hex
      |FROM g, fg, cut, t0 WHERE rn > first_rn AND rn <= g_rn""".stripMargin)

  val pipelineDecode = gate("qc_pipeline_decode") { (s, dir) =>
    // full spine: synth lines → parse (P1) → dispatch (P2) → bit extract
    // (P3) → scale (P4) → mux (P5) → cast (P7); wide per-frame output
    val net = DbcParser.parseString(canTestDbc)
    val frames = CandumpParser.parseLines(canLines(events(s, dir)))
      .withColumnRenamed("ts_us", "ts_ms") // decode is ts-unit-agnostic
    SignalDecoder.wideFrame(net, frames)
      .withColumnRenamed("ts_ms", "ts_us")
  }(
    canBytesCte +
    """
      |SELECT us AS ts_us,
      |  CASE WHEN can_id = 256 THEN CAST((d0 + d1*256)*0.25 - 10 AS FLOAT4) END AS SPEED,
      |  CASE WHEN can_id = 256 THEN CAST(CASE WHEN d2 >= 128 THEN d2 - 256 ELSE d2 END AS INTEGER) END AS CNT8,
      |  CASE WHEN can_id = 256 THEN d3 % 2 = 1 END AS FLAG,
      |  CASE WHEN can_id = 256 THEN CAST((CASE WHEN d4*16 + (d5 // 16) >= 2048
      |    THEN d4*16 + (d5 // 16) - 4096 ELSE d4*16 + (d5 // 16) END) * 0.5 AS FLOAT4) END AS MOTO12,
      |  CASE WHEN can_id = 256 THEN CAST(d6 & 3 AS INTEGER) END AS MUXSEL,
      |  CASE WHEN can_id = 256 AND d6 & 3 = 0 THEN CAST(d7 AS INTEGER) END AS VA,
      |  CASE WHEN can_id = 256 AND d6 & 3 = 1 THEN
      |    CAST(CASE WHEN d7 >= 128 THEN d7 - 256 ELSE d7 END AS INTEGER) END AS VB,
      |  CASE WHEN can_id = 512 THEN
      |    CAST(d0 + d1*256 + d2*65536 + (d3 & 127)*16777216 AS INTEGER) END AS U31,
      |  CASE WHEN can_id = 512 THEN
      |    d1 + d2*256 + d3*65536 + d4*16777216 + d5*4294967296 + d6*1099511627776 END AS BIG48,
      |  CASE WHEN can_id = 512 THEN CAST((d0*256 + d1)*0.01 + 5 AS FLOAT4) END AS MOTO16,
      |  CAST(NULL AS FLOAT4) AS FVAL,
      |  CAST(NULL AS BIGINT) AS SEQ
      |FROM b""".stripMargin)

  val valLabels = gate("qc_val_labels") { (s, dir) =>
    // VAL_ value tables end-to-end: a labeled gear byte decodes through
    // the spine numerically, then SignalDecoder.withLabels attaches the
    // enum label as a literal-map element_at projection (map-only, no
    // join) — value 4 is deliberately unlisted and labels null
    val dbc =
      """BO_ 256 G1: 8 E
        | SG_ GEAR : 0|8@1+ (1,0) [0|0] "" X
        | SG_ RAWB : 8|8@1+ (1,0) [0|0] "" X
        |VAL_ 256 GEAR 0 "neutral" 1 "first" 2 "second" 3 "third" ;
        |""".stripMargin
    val net = DbcParser.parseString(dbc)
    val ev = events(s, dir)
    val lines = ev.select(format_string("(%d.%06d) vcan0 100#%s",
      expr("unix_micros(ts) div 1000000"), expr("unix_micros(ts) % 1000000"),
      concat(hex2(col("user_id") % 5), hex2(col("event_id").bitwiseAND(255)),
        lit("000000000000"))).as("value"))
    val frames = CandumpParser.parseLines(lines)
      .withColumnRenamed("ts_us", "ts_ms")
    SignalDecoder.withLabels(net, SignalDecoder.wideFrame(net, frames))
      .select(col("ts_ms").cast("long").as("ts_us"),
        col("GEAR").cast("int").as("gear"),
        col("GEAR_label").as("gear_label"),
        col("RAWB").cast("int").as("rawb"))
  }(
    """SELECT epoch_us(ts) AS ts_us,
      |  CAST(user_id % 5 AS INTEGER) AS gear,
      |  CASE user_id % 5 WHEN 0 THEN 'neutral' WHEN 1 THEN 'first'
      |       WHEN 2 THEN 'second' WHEN 3 THEN 'third' END AS gear_label,
      |  CAST(event_id % 256 AS INTEGER) AS rawb
      |FROM events""".stripMargin)

  val bucketFrames = gate("qc_bucket_frames") { (s, dir) =>
    // the fleet-width frame-level tumbling path (one full-volume
    // aggregation over (bucket, can_id, mux) of the raw payload u64,
    // winners decoded after — Bucketer.tumblingFromFrames), exercised
    // on the narrow oracle DBC. events' (us, can_id) pairs are unique
    // at every SF, so the frame-level payload tie-break and the
    // oracle's per-signal max_by coincide exactly. Buckets = 1 h of µs.
    val net = DbcParser.parseString(canTestDbc)
    val frames = CandumpParser.parseLines(canLines(events(s, dir)))
      .withColumnRenamed("ts_us", "ts_ms")
    Bucketer.tumblingFromFrames(net, frames, 3600e6)
      .orderBy("Time_ms")
  }(
    canBytesCte +
    """, w AS (
      |SELECT us,
      |  CASE WHEN can_id = 256 THEN CAST((d0 + d1*256)*0.25 - 10 AS FLOAT4) END AS SPEED,
      |  CASE WHEN can_id = 256 THEN CAST(CASE WHEN d2 >= 128 THEN d2 - 256 ELSE d2 END AS INTEGER) END AS CNT8,
      |  CASE WHEN can_id = 256 THEN d3 % 2 = 1 END AS FLAG,
      |  CASE WHEN can_id = 256 THEN CAST((CASE WHEN d4*16 + (d5 // 16) >= 2048
      |    THEN d4*16 + (d5 // 16) - 4096 ELSE d4*16 + (d5 // 16) END) * 0.5 AS FLOAT4) END AS MOTO12,
      |  CASE WHEN can_id = 256 THEN CAST(d6 & 3 AS INTEGER) END AS MUXSEL,
      |  CASE WHEN can_id = 256 AND d6 & 3 = 0 THEN CAST(d7 AS INTEGER) END AS VA,
      |  CASE WHEN can_id = 256 AND d6 & 3 = 1 THEN
      |    CAST(CASE WHEN d7 >= 128 THEN d7 - 256 ELSE d7 END AS INTEGER) END AS VB,
      |  CASE WHEN can_id = 512 THEN
      |    CAST(d0 + d1*256 + d2*65536 + (d3 & 127)*16777216 AS INTEGER) END AS U31,
      |  CASE WHEN can_id = 512 THEN
      |    d1 + d2*256 + d3*65536 + d4*16777216 + d5*4294967296 + d6*1099511627776 END AS BIG48,
      |  CASE WHEN can_id = 512 THEN CAST((d0*256 + d1)*0.01 + 5 AS FLOAT4) END AS MOTO16,
      |  CAST(NULL AS FLOAT4) AS FVAL,
      |  CAST(NULL AS BIGINT) AS SEQ
      |FROM b)
      |SELECT min(us) AS Time_ms,
      |  max_by(SPEED, CASE WHEN SPEED IS NOT NULL THEN us END) AS SPEED,
      |  max_by(CNT8, CASE WHEN CNT8 IS NOT NULL THEN us END) AS CNT8,
      |  max_by(FLAG, CASE WHEN FLAG IS NOT NULL THEN us END) AS FLAG,
      |  max_by(MOTO12, CASE WHEN MOTO12 IS NOT NULL THEN us END) AS MOTO12,
      |  max_by(MUXSEL, CASE WHEN MUXSEL IS NOT NULL THEN us END) AS MUXSEL,
      |  max_by(VA, CASE WHEN VA IS NOT NULL THEN us END) AS VA,
      |  max_by(VB, CASE WHEN VB IS NOT NULL THEN us END) AS VB,
      |  max_by(U31, CASE WHEN U31 IS NOT NULL THEN us END) AS U31,
      |  max_by(BIG48, CASE WHEN BIG48 IS NOT NULL THEN us END) AS BIG48,
      |  max_by(MOTO16, CASE WHEN MOTO16 IS NOT NULL THEN us END) AS MOTO16,
      |  CAST(NULL AS FLOAT4) AS FVAL,
      |  CAST(NULL AS BIGINT) AS SEQ
      |FROM w GROUP BY floor(us / 3600000000) ORDER BY Time_ms""".stripMargin)

  val streamDecode = gate("qc_stream_decode") { (s, dir) =>
    // the SAME decode spine as qc_pipeline_decode, but executed through
    // Structured Streaming (file source → decode → checkpointed parquet
    // sink, Trigger.AvailableNow) — putting the streaming engine itself
    // under the DuckDB oracle. Shares qc_pipeline_decode's oracle SQL.
    import graft.streaming.CanStream
    val tmp = scratchDir("graft_qsd")
    val lines = stagedInput("qsd", dir) { p =>
      canLines(events(s, dir)).select("value").write.mode("overwrite").text(p)
    }
    val net = DbcParser.parseString(canTestDbc)
    val frames = CanStream.framesFromTextFiles(s, lines)
      .withColumnRenamed("ts_us", "ts_ms")
    val wide = SignalDecoder.wideFrame(net, frames)
      .withColumnRenamed("ts_ms", "ts_us")
    val q = CanStream.parquetSink(wide, s"$tmp/out", s"$tmp/ckpt")
    q.awaitTermination()
    s.read.parquet(s"$tmp/out")
  }(
    // the streaming decode run must produce byte-identical results to the
    // batch spine, so it shares the same oracle
    pipelineDecode.oracle)

  val streamFrames = gate("qc_stream_frames") { (s, dir) =>
    // the STREAMING frame-level tumbling path (chained window
    // aggregation, CanStream.bucketedStreamFromFrames) under the same
    // oracle as its batch twin qc_bucket_frames. µs are kept end-to-end:
    // ts_ms carries the raw µs count (the gate is time-unit-agnostic
    // like the batch one) and ts quantizes it 1:1, so the 3600e6-"ms"
    // windows land on exactly the oracle's floor(us/3600e6) buckets.
    // Append mode only emits watermark-closed windows — a far-future
    // sentinel frame closes every real bucket; its own (never-emitted)
    // bucket is filtered back out by timestamp.
    import graft.streaming.CanStream
    val tmp = scratchDir("graft_qsf")
    val horizonUs = 4102444800000000L // 2100-01-01, beyond any event ts
    val lines = stagedInput("qsf", dir) { p =>
      canLines(events(s, dir)).select("value")
        .unionAll(s.createDataset(Seq(
          f"(${horizonUs / 1000000}%d.${horizonUs % 1000000}%06d) vcan0 100#0000000000000000"))(
          org.apache.spark.sql.Encoders.STRING).toDF("value"))
        .write.mode("overwrite").text(p)
    }
    val net = DbcParser.parseString(canTestDbc)
    val frames = CanStream.framesFromTextFiles(s, lines)
      .withColumn("ts_ms", col("ts_us"))
      .withColumn("ts", timestamp_millis(col("ts_us")))
    val bucketed = CanStream.bucketedStreamFromFrames(net, frames,
      cacheMs = 3600000000L)
    // state partitions sized to the key space (a handful of can_id × mux
    // values on the oracle DBC), not the session's batch shuffle setting
    // — see CanStream.withStatePartitions; results are partition-count
    // invariant (this gate is hash-exact against DuckDB either way)
    val q = CanStream.parquetSink(bucketed, s"$tmp/out", s"$tmp/ckpt",
      statePartitions = Some(8))
    q.awaitTermination()
    s.read.parquet(s"$tmp/out")
      .filter(col(DbcColumns.TimeCol) < horizonUs)
      .orderBy(DbcColumns.TimeCol)
  }(
    // the streaming frame-level tumbling run shares its batch twin's oracle
    bucketFrames.oracle)

  val cliRoundtrip = gate("qc_cli_roundtrip") { (s, dir) =>
    // The CLI surface end-to-end under the driver oracle (VERDICT r19
    // item 6 — the last gap between what the sbt smokes prove and what
    // the driver certifies): the same synthesized candump lines as
    // qc_pipeline_decode, staged once per JVM as a text log, decoded by
    // the REAL graft.cli.Main in a CHILD JVM (own SparkSession — the
    // spark-submit deployment shape, not an in-process call) with
    // `--file --no-adjust-timestamp` to parquet, read back and reshaped
    // to qc_pipeline_decode's output — whose oracle SQL this gate
    // SHARES: the CLI path must be hash-indistinguishable from the
    // library path. ts recovery: Time_ms = µs/1000.0 carries ≤ 0.12 µs
    // representation error at epoch scale (ulp(1.7e12)/2 · 1000), so
    // round(Time_ms·1000) is the exact original integer.
    val in = stagedInput("qcli", dir) { p =>
      canLines(events(s, dir)).select("value").write.mode("overwrite").text(p)
    }
    // ONE shutdown-hooked root per JVM (the stageRoot pattern), a fresh
    // subdirectory per call: a long-lived adjudication driver re-running
    // this gate must not accumulate one shutdown hook + one orphaned
    // /tmp tree per rep until JVM exit
    val work = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get(qcliRoot), "run")
      .toString
    val dbcPath = s"$work/oracle.dbc"
    java.nio.file.Files.write(java.nio.file.Paths.get(dbcPath),
      canTestDbc.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val outDir = s"$work/out" // fresh per call: the CLI sink is append-mode
    val logFile = new java.io.File(s"$work/cli.log")
    // local[4] is deliberate and MEASURED (r22): an A/B against
    // local[<host cores>] read 9.72 s vs 9.98 s isolated min-of-5 —
    // the gate's cost is the child JVM + fresh-SparkSession bring-up,
    // not decode parallelism, so widening the master buys nothing and
    // a modest fixed shape keeps the gate portable to small hosts
    val cmd = Seq(sys.props("java.home") + "/bin/java") ++ Jdk17AddOpens ++ Seq(
      "-Xmx3g", "-Dspark.ui.enabled=false", "-Dspark.master=local[4]",
      "-Dspark.sql.shuffle.partitions=4",
      "-Dspark.sql.session.timeZone=UTC",
      "-cp", sys.props("java.class.path"), "graft.cli.Main", dbcPath,
      "--if", in, "--of", outDir, "--file", "--no-adjust-timestamp")
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    pb.redirectOutput(logFile)
    val proc = pb.start()
    val done = proc.waitFor(600, java.util.concurrent.TimeUnit.SECONDS)
    if (!done) { proc.destroyForcibly(); () }
    require(done && proc.exitValue() == 0,
      s"cli.Main child failed (done=$done): " +
        scala.io.Source.fromFile(logFile).mkString.takeRight(2000))
    val wide = s.read.parquet(outDir)
    wide.select(
      round(col(DbcColumns.TimeCol) * 1000).cast("long").as("ts_us") +:
        wide.columns.filter(_ != DbcColumns.TimeCol).map(col).toSeq: _*)
  }(
    // the CLI child-process roundtrip reshapes to the library decode's
    // exact output — one oracle, three execution paths (expression API,
    // streaming engine, deployed CLI)
    pipelineDecode.oracle)

  val decodeDefacto = gate("qc_decode_defacto") { (s, dir) =>
    // §1.2 DeFacto typing: the shipped binary's dead integer branches —
    // every non-bool signal lands in the scaled float/double path
    val net = DbcParser.parseString(canTestDbc)
    val frames = CandumpParser.parseLines(canLines(events(s, dir)))
      .withColumnRenamed("ts_us", "ts_ms")
    SignalDecoder.wideFrame(net, frames, TypingMode.DeFacto)
      .withColumnRenamed("ts_ms", "ts_us")
      .select("ts_us", "CNT8", "MUXSEL", "U31", "BIG48")
  }(
    canBytesCte +
    """
      |SELECT us AS ts_us,
      |  CASE WHEN can_id = 256 THEN CAST(CASE WHEN d2 >= 128 THEN d2 - 256 ELSE d2 END AS FLOAT4) END AS CNT8,
      |  CASE WHEN can_id = 256 THEN CAST(d6 & 3 AS FLOAT4) END AS MUXSEL,
      |  CASE WHEN can_id = 512 THEN
      |    CAST(d0 + d1*256 + d2*65536 + (d3 & 127)*16777216 AS FLOAT4) END AS U31,
      |  CASE WHEN can_id = 512 THEN
      |    CAST(d1 + d2*256 + d3*65536 + d4*16777216 + d5*4294967296 + d6*1099511627776 AS DOUBLE) END AS BIG48
      |FROM b""".stripMargin)

  val sqlExtract = gate("qc_sql_extract") { (s, dir) =>
    // §2.10 SQL surface: the registered codegen expressions
    // (can_signal_extract, can_payload_u64) driven through spark.sql and
    // held to the same byte-arithmetic oracle as the expression API.
    // The u64 view is masked to 56 bits so the oracle's integer
    // arithmetic stays inside signed BIGINT.
    graft.plans.GraftExtensions.register(s)
    CandumpParser.parseLines(canLines(events(s, dir)))
      .createOrReplaceTempView("graft_frames")
    s.sql(
      """SELECT ts_us,
        |  CASE WHEN can_id = 256 THEN
        |    CAST(can_signal_extract(data, 0, 16, true, false) AS DOUBLE) * 0.25 - 10
        |  END AS speed_phys,
        |  CASE WHEN can_id = 256 THEN can_signal_extract(data, 16, 8, true, true) END AS cnt8_raw,
        |  CASE WHEN can_id = 256 THEN can_signal_extract(data, 39, 12, false, true) END AS moto12_raw,
        |  CASE WHEN can_id = 512 THEN can_signal_extract(data, 8, 48, true, false) END AS big48_raw,
        |  can_payload_u64(data, true) & 72057594037927935 AS le56
        |FROM graft_frames""".stripMargin)
  }(
    canBytesCte +
    """
      |SELECT us AS ts_us,
      |  CASE WHEN can_id = 256 THEN CAST(d0 + d1*256 AS DOUBLE) * 0.25 - 10 END AS speed_phys,
      |  CASE WHEN can_id = 256 THEN
      |    CAST(CASE WHEN d2 >= 128 THEN d2 - 256 ELSE d2 END AS BIGINT) END AS cnt8_raw,
      |  CASE WHEN can_id = 256 THEN
      |    CAST(CASE WHEN d4*16 + (d5 // 16) >= 2048
      |      THEN d4*16 + (d5 // 16) - 4096 ELSE d4*16 + (d5 // 16) END AS BIGINT) END AS moto12_raw,
      |  CASE WHEN can_id = 512 THEN
      |    CAST(d1 + d2*256 + d3*65536 + d4*16777216 + d5*4294967296 + d6*1099511627776 AS BIGINT)
      |  END AS big48_raw,
      |  CAST(d0 + d1*256 + d2*65536 + d3*16777216 + d4*4294967296
      |    + d5*1099511627776 + d6*281474976710656 AS BIGINT) AS le56
      |FROM b""".stripMargin)

  val flt32Decode = gate("qc_flt32_decode") { (s, dir) =>
    // P6 `flt32_` IEEE reinterpret (graft.plans.IntBitsToFloat) end-to-end:
    // synth M3 frames whose payload bits are constructed floats, decode via
    // the same wideFrame spine, key rows by the u32 SEQ signal. The oracle
    // restates the float arithmetically (exactly-representable values).
    val net = DbcParser.parseString(canTestDbc)
    val frames = CandumpParser.parseLines(flt32Lines(events(s, dir)))
      .withColumnRenamed("ts_us", "ts_ms")
    SignalDecoder.wideFrame(net, frames)
      .select(col("SEQ").as("seq"), col("FVAL").as("fval"))
      .orderBy("seq")
  }(
    """SELECT CAST(event_id AS BIGINT) AS seq,
      |  CAST((CASE WHEN user_id % 2 = 1 THEN -1 ELSE 1 END)
      |    * (1 + (event_id % 8388608) / 8388608.0) AS FLOAT4) AS fval
      |FROM events ORDER BY seq""".stripMargin)

  val sigValtype = gate("qc_sig_valtype") { (s, dir) =>
    // Standard-DBC SIG_VALTYPE_ IEEE signals end-to-end: scaled float32
    // (reinterpret + raw→phys in double, cast back) and full-payload
    // float64 (graft.plans.LongBitsToDouble), through the same wideFrame
    // spine. Values are exactly-representable constructions so the
    // oracle restates them arithmetically; line timestamps are the key.
    val net = DbcParser.parseString(valTypeDbc)
    val frames = CandumpParser.parseLines(valTypeLines(events(s, dir)))
      .withColumnRenamed("ts_us", "ts_ms")
    SignalDecoder.wideFrame(net, frames)
      .select(col("ts_ms").cast("long").as("us_key"),
        col("FV").as("fv"), col("DV").as("dv"))
      .orderBy("us_key")
  }(
    """SELECT CAST(event_id*2 AS BIGINT) AS us_key,
      |  CAST((1 + (event_id % 8388608) / 8388608.0) * 0.5 + 3 AS FLOAT4) AS fv,
      |  CAST(NULL AS DOUBLE) AS dv
      |FROM events
      |UNION ALL
      |SELECT CAST(event_id*2+1 AS BIGINT),
      |  CAST(NULL AS FLOAT4),
      |  (CASE WHEN user_id % 2 = 1 THEN -1 ELSE 1 END)
      |    * (1 + (event_id % 8388608) / 4503599627370496.0)
      |FROM events
      |ORDER BY us_key""".stripMargin)

  val muxExtended = gate("qc_mux_extended") { (s, dir) =>
    // P5 extended: SG_MUL_VAL_ range gating (Mux.ExtRanges) through the
    // same wideFrame spine — EA decodes for SEL ∈ [1,3] ∪ {7}, EB keeps
    // simple m2 semantics. Line timestamps (= event_id µs) are the key.
    val net = DbcParser.parseString(extMuxDbc)
    val frames = CandumpParser.parseLines(extMuxLines(events(s, dir)))
      .withColumnRenamed("ts_us", "ts_ms")
    SignalDecoder.wideFrame(net, frames)
      .select(col("ts_ms").cast("long").as("us_key"),
        col("SEL").as("sel"), col("EA").as("ea"), col("EB").as("eb"))
      .orderBy("us_key")
  }(
    """SELECT CAST(event_id AS BIGINT) AS us_key,
      |  CAST(event_id % 9 AS INTEGER) AS sel,
      |  CASE WHEN event_id % 9 IN (1,2,3,7)
      |    THEN CAST(user_id & 255 AS INTEGER) END AS ea,
      |  CASE WHEN event_id % 9 = 2
      |    THEN CAST((event_id*13+5) & 255 AS INTEGER) END AS eb
      |FROM events ORDER BY us_key""".stripMargin)

  val dbcNoise = gate("qc_dbc_noise") { (s, dir) =>
    // S5 grammar breadth: the extended-mux decode driven from a DBC
    // wrapped in full tool-export noise (BOM/CRLF/NS_/CM_ multi-line
    // with statement lookalikes/attributes) — must decode identically
    // to qc_mux_extended's clean parse, certified by the same oracle.
    val net = DbcParser.parseString(noisyExtMuxDbc)
    val frames = CandumpParser.parseLines(extMuxLines(events(s, dir)))
      .withColumnRenamed("ts_us", "ts_ms")
    SignalDecoder.wideFrame(net, frames)
      .select(col("ts_ms").cast("long").as("us_key"),
        col("SEL").as("sel"), col("EA").as("ea"), col("EB").as("eb"))
      .orderBy("us_key")
  }(
    // same decode as qc_mux_extended: the noise-wrapped DBC must parse to
    // the identical network, so the oracle is shared
    muxExtended.oracle)

  val tsNormalize = gate("qc_ts_normalize") { (s, dir) =>
    // P8: subtract-first-timestamp normalization. Eager t0 (scalar min
    // computed now) keeps the returned plan at exactly one parse of the
    // input.
    val frames = CandumpParser.parseLines(canLines(events(s, dir)))
    CandumpParser.withTsMsEager(frames)
      .select(col("can_id"), col("ts_ms"))
  }(
    canBytesCte +
    """
      |SELECT CAST(can_id AS BIGINT) AS can_id,
      |  (us - (SELECT min(us) FROM b)) / 1000.0 AS ts_ms
      |FROM b""".stripMargin)

  val bucketTumbling = gate("qc_bucket_tumbling") { (s, dir) =>
    // T1a/T2/T3/T4 via the production Bucketer on sparse signals
    val ev = events(s, dir)
      .withColumn("ts_ms",
        (unix_micros(col("ts")) - 1704067200000000L) / 1000.0)
      .withColumn("a", when(col("event_type") === "click", col("value")))
      .withColumn("b", when(col("event_type") === "purchase",
        round(col("value") * 100).cast("long")))
      .withColumn("c", when(col("event_type") === "error", col("user_id")))
      .select("ts_ms", "a", "b", "c")
    Bucketer.bucket(ev, BucketMode.Tumbling(60000.0))
      .orderBy("Time_ms")
  }(
    """WITH w AS (
      |  SELECT (epoch_us(ts) - 1704067200000000) / 1000.0 AS ts_ms,
      |    CASE WHEN event_type = 'click' THEN value END AS a,
      |    CASE WHEN event_type = 'purchase' THEN CAST(round(value*100) AS BIGINT) END AS b,
      |    CASE WHEN event_type = 'error' THEN user_id END AS c
      |  FROM events)
      |SELECT min(ts_ms) AS Time_ms,
      |  max_by(a, CASE WHEN a IS NOT NULL THEN ts_ms END) AS a,
      |  max_by(b, CASE WHEN b IS NOT NULL THEN ts_ms END) AS b,
      |  max_by(c, CASE WHEN c IS NOT NULL THEN ts_ms END) AS c
      |FROM w GROUP BY floor(ts_ms / 60000) ORDER BY Time_ms""".stripMargin)

  val bucketFirstWins = gate("qc_bucket_first_wins") { (s, dir) =>
    val ev = events(s, dir)
      .withColumn("ts_ms",
        (unix_micros(col("ts")) - 1704067200000000L) / 1000.0)
      .withColumn("a", when(col("event_type") === "click", col("value")))
      .select("ts_ms", "a")
    Bucketer.bucket(ev, BucketMode.Tumbling(60000.0), CombinePolicy.FirstWins)
      .orderBy("Time_ms")
  }(
    """WITH w AS (
      |  SELECT (epoch_us(ts) - 1704067200000000) / 1000.0 AS ts_ms,
      |    CASE WHEN event_type = 'click' THEN value END AS a
      |  FROM events)
      |SELECT min(ts_ms) AS Time_ms,
      |  min_by(a, CASE WHEN a IS NOT NULL THEN ts_ms END) AS a
      |FROM w GROUP BY floor(ts_ms / 60000) ORDER BY Time_ms""".stripMargin)

  val bucketExact = gate("qc_bucket_exact") { (s, dir) =>
    // T1b: the reference's exact data-driven chained boundaries, checked
    // against a DuckDB recursive-CTE replay of the same fold. Bounded to
    // a deterministic 2000-row subset: the oracle recursion is O(n²).
    Bucketer.bucket(exactBucketSubset(s, dir), BucketMode.Exact(60000.0))
      .orderBy("Time_ms")
  }(
    """WITH RECURSIVE w AS (
      |  SELECT (epoch_us(ts) - 1704067200000000) / 1000.0 AS ts_ms,
      |    CASE WHEN event_type = 'click' THEN value END AS a,
      |    CASE WHEN event_type = 'error' THEN user_id END AS c
      |  FROM events WHERE event_id < 2000),
      |b(start) AS (
      |  SELECT min(ts_ms) FROM w
      |  UNION ALL
      |  SELECT (SELECT min(ts_ms) FROM w WHERE ts_ms > b.start + 60000) FROM b
      |  WHERE (SELECT min(ts_ms) FROM w WHERE ts_ms > b.start + 60000) IS NOT NULL),
      |assigned AS (
      |  SELECT w.*, (SELECT max(start) FROM b WHERE start <= w.ts_ms) AS bstart FROM w)
      |SELECT bstart AS Time_ms,
      |  max_by(a, CASE WHEN a IS NOT NULL THEN ts_ms END) AS a,
      |  max_by(c, CASE WHEN c IS NOT NULL THEN ts_ms END) AS c
      |FROM assigned GROUP BY 1 ORDER BY 1""".stripMargin)

  val bucketDefacto = gate("qc_bucket_defacto") { (s, dir) =>
    // T1b DeFacto close ordering under the oracle: the reference's
    // decode-before-gap-check loop (closing frame's values land in the
    // closed row, its ts opens the next bucket, subtract-form FP test),
    // replayed by a recursive CTE that reassigns each bucket-opener's
    // values to the previous bucket. Same bounded subset as
    // qc_bucket_exact (every ts in it is unique, so "the opener" is
    // well-defined on both sides).
    Bucketer.bucket(exactBucketSubset(s, dir),
        BucketMode.Exact(60000.0, closeOrder = CloseOrder.DeFacto))
      .orderBy("Time_ms")
  }(
    """WITH RECURSIVE w AS (
      |  SELECT (epoch_us(ts) - 1704067200000000) / 1000.0 AS ts_ms,
      |    CASE WHEN event_type = 'click' THEN value END AS a,
      |    CASE WHEN event_type = 'error' THEN user_id END AS c
      |  FROM events WHERE event_id < 2000),
      |b(start) AS (
      |  SELECT min(ts_ms) FROM w
      |  UNION ALL
      |  SELECT (SELECT min(ts_ms) FROM w WHERE ts_ms - b.start > 60000) FROM b
      |  WHERE (SELECT min(ts_ms) FROM w WHERE ts_ms - b.start > 60000) IS NOT NULL),
      |assigned AS (
      |  SELECT w.*, (SELECT max(start) FROM b WHERE start <= w.ts_ms) AS bstart FROM w),
      |valued AS (
      |  SELECT ts_ms, a, c,
      |    CASE WHEN ts_ms = bstart AND bstart > (SELECT min(start) FROM b)
      |      THEN (SELECT max(start) FROM b WHERE start < a2.bstart)
      |      ELSE bstart END AS vstart
      |  FROM assigned a2)
      |SELECT vstart AS Time_ms,
      |  max_by(a, CASE WHEN a IS NOT NULL THEN ts_ms END) AS a,
      |  max_by(c, CASE WHEN c IS NOT NULL THEN ts_ms END) AS c
      |FROM valued GROUP BY 1 ORDER BY 1""".stripMargin)

  val ffillDistributed = gate("qc_ffill_distributed") { (s, dir) =>
    // T5 scalable two-pass fill, ordered by unique event_id
    val ev = events(s, dir)
      .withColumn("x", when(col("event_type").isin("click", "purchase"), col("value")))
      .select("event_id", "user_id", "x")
    ForwardFill.distributed(ev, "event_id", Seq("x"))
      .withColumnRenamed("x", "x_fill")
  }(
    """SELECT event_id, user_id,
      |  last_value(CASE WHEN event_type IN ('click','purchase') THEN value END
      |    IGNORE NULLS) OVER (ORDER BY event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS x_fill
      |FROM events""".stripMargin)

  val timeMigration = gate("qc_time_migration") { (s, dir) =>
    // T6: legacy `Seconds` column → Time_ms
    val legacy = events(s, dir)
      .select(((unix_micros(col("ts")) - 1704067200000000L) / 1000000.0).as("Seconds"),
        col("event_id"))
    TimeMigration.migrate(legacy).select("event_id", "Time_ms")
  }(
    """SELECT event_id,
      |  (epoch_us(ts) - 1704067200000000) / 1000000.0 * 1000.0 AS Time_ms
      |FROM events""".stripMargin)

  val rangeCheck = gate("qc_range_check") { (s, dir) =>
    // DBC range validation — the plausibility check a fleet runs
    // right after decode: signals with a declared [min|max] flag
    // physical values outside it; per signal the frame count,
    // violation count, and observed envelope. Factors are
    // binary-exact (0.25, 1) so the physical doubles are
    // bit-identical cross-engine; a [0|0] signal (no declared range,
    // the DBC convention) is skipped.
    val dbc =
      """BO_ 256 R1: 8 E
        | SG_ SPEED : 0|16@1+ (0.25,0) [0|8000] "kmh" X
        | SG_ TEMP : 40|8@1+ (1,-40) [-40|125] "C" X
        |""".stripMargin
    val net = DbcParser.parseString(dbc)
    val frames = CandumpParser.parseLines(canLines(events(s, dir)))
      .withColumnRenamed("ts_us", "ts_ms")
    val wide = SignalDecoder.wideFrame(net, frames)
    val ranged = for {
      m <- net.messages; sg <- m.signals if sg.min < sg.max
    } yield (sg.name, sg.min, sg.max)
    // ONE pass: all signals' conditional aggregates in a single
    // aggregation over a single decode (a per-signal union would
    // re-scan and re-decode the full frame stream per signal — two
    // scans here, N at a fleet DBC's signal count), then the
    // one-row-per-signal shape back via a literal-array explode
    val aggs = ranged.flatMap { case (nm, mn, mx) => Seq(
      count(when(col(nm).isNotNull, 1)).as(s"${nm}_n"),
      sum(when(col(nm) < mn || col(nm) > mx, 1L).otherwise(0L))
        .as(s"${nm}_viol"),
      min(col(nm)).as(s"${nm}_min"), max(col(nm)).as(s"${nm}_max"))
    }
    wide.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(ranged.map { case (nm, _, _) =>
        struct(lit(nm).as("signal"), col(s"${nm}_n").as("n_frames"),
          col(s"${nm}_viol").as("n_viol"),
          col(s"${nm}_min").as("min_phys"),
          col(s"${nm}_max").as("max_phys"))
      }: _*)).as("r"))
      .select("r.*").orderBy("signal")
  }(
    // range replay: SPEED = LE u16 at bits 0-15 × 0.25, TEMP = u8 at
    // 40-47 − 40, both on id-0x100 frames; thresholds on the same
    // binary-exact doubles
    canBytesCte + """,
    |f AS (SELECT CAST(d0 + d1*256 AS DOUBLE) * 0.25 AS speed,
    |    CAST(d5 AS DOUBLE) - 40 AS temp
    |  FROM b WHERE can_id = 256),
    |s1 AS (SELECT 'SPEED' AS signal,
    |    CAST(count(*) AS BIGINT) AS n_frames,
    |    CAST(sum(CASE WHEN speed < 0 OR speed > 8000
    |      THEN 1 ELSE 0 END) AS BIGINT) AS n_viol,
    |    min(speed) AS min_phys, max(speed) AS max_phys FROM f),
    |s2 AS (SELECT 'TEMP',
    |    CAST(count(*) AS BIGINT),
    |    CAST(sum(CASE WHEN temp < -40 OR temp > 125
    |      THEN 1 ELSE 0 END) AS BIGINT),
    |    min(temp), max(temp) FROM f)
    |SELECT * FROM s1 UNION ALL SELECT * FROM s2
    |ORDER BY signal""".stripMargin)

  val timeWeighted = gate("qc_time_weighted") { (s, dir) =>
    // time-weighted average per user — the correct mean for
    // irregularly sampled telemetry (arithmetic means over-weight
    // bursts): step-hold integral over the key's span in exact cents,
    // micro-unit quotient via the overflow-safe two-term division —
    // see Timeseries.timeWeightedAvg
    Timeseries.timeWeightedAvg(events(s, dir), "user_id",
      unix_micros(col("ts")), "event_id",
      round(col("value") * 100).cast("long"))
  }(
    """WITH x AS (SELECT user_id,
      |    CAST(round(value * 100) AS BIGINT) AS v,
      |    lead(epoch_us(ts)) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) - epoch_us(ts) AS dt
      |  FROM events),
      |a AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_samples,
      |    CAST(sum(v * dt) AS BIGINT) AS integral,
      |    CAST(sum(dt) AS BIGINT) AS span_us
      |  FROM x GROUP BY user_id)
      |SELECT user_id, n_samples, integral, span_us,
      |  CASE WHEN span_us > 0 THEN
      |    (integral // span_us) * 1000000 +
      |    ((integral % span_us) * 1000000) // span_us
      |  END AS twa_micro
      |FROM a ORDER BY user_id""".stripMargin)

  val changeOnly = gate("qc_change_only") { (s, dir) =>
    // on-change logging audit (the CAN storage policy ForwardFill
    // reconstructs from): per user, samples surviving "store only
    // when the quantized signal moved" and the exact retention ratio
    // — see Timeseries.onChangeCompression; signal = value in
    // half-unit steps so consecutive repeats actually occur
    Timeseries.onChangeCompression(events(s, dir), "user_id",
      unix_micros(col("ts")), "event_id",
      expr("CAST(round(value * 100) AS BIGINT) div 5000"))
  }(
    """WITH x AS (SELECT user_id,
      |    CAST(round(value * 100) AS BIGINT) // 5000 AS v,
      |    lag(CAST(round(value * 100) AS BIGINT) // 5000)
      |      OVER (PARTITION BY user_id
      |            ORDER BY epoch_us(ts), event_id) AS pv
      |  FROM events)
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n_samples,
      |  CAST(sum(CASE WHEN pv IS NULL OR pv <> v THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_kept,
      |  (CAST(sum(CASE WHEN pv IS NULL OR pv <> v THEN 1 ELSE 0 END)
      |    AS BIGINT) * 1000000) // count(*) AS ratio_micro
      |FROM x GROUP BY user_id ORDER BY user_id""".stripMargin)

  val gapReport = gate("qc_gap_report") { (s, dir) =>
    // sampling-gap diagnostic per series key (dropped frames, dead
    // channels): largest inter-arrival gap and count of gaps over one
    // hour — keyed windows only; see Timeseries.gapReport
    Timeseries.gapReport(events(s, dir), "user_id",
      unix_micros(col("ts")), "event_id", 3600000000L)
  }(
    """WITH x AS (SELECT user_id,
      |    lead(epoch_us(ts)) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) - epoch_us(ts) AS gap
      |  FROM events)
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n_samples,
      |  max(gap) AS max_gap_us,
      |  CAST(sum(CASE WHEN gap > 3600000000 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_gaps_over
      |FROM x GROUP BY user_id ORDER BY user_id""".stripMargin)

  val stateDuty = gate("qc_state_duty") { (s, dir) =>
    // time-in-state / duty cycle over a thresholded per-user signal
    // (the CAN dwell-time staple: how long in each state, how many
    // entries): interval [ts, next ts) charged to the sample's state,
    // windows partitioned by the series key — see Timeseries.dutyCycle
    Timeseries.dutyCycle(events(s, dir), "user_id",
      unix_micros(col("ts")),
      when(col("value") >= 100.0, "high").otherwise("low"),
      "event_id")
  }(
    // duty cycle: the x CTE is referenced by both the dwell and the
    // entries aggregation — MATERIALIZED per the standing rule
    """WITH w AS (SELECT user_id, event_id, epoch_us(ts) AS tus,
      |    CASE WHEN value >= 100.0 THEN 'high' ELSE 'low' END AS state
      |  FROM events),
      |x AS MATERIALIZED (SELECT state, tus,
      |    lead(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS nxt,
      |    lag(state) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS prev
      |  FROM w),
      |d AS (SELECT state, CAST(sum(nxt - tus) AS BIGINT) AS total_us,
      |    CAST(count(*) AS BIGINT) AS n_intervals
      |  FROM x WHERE nxt IS NOT NULL GROUP BY state),
      |e AS (SELECT state, CAST(count(*) AS BIGINT) AS n_entries
      |  FROM x WHERE prev IS NULL OR prev <> state GROUP BY state)
      |SELECT state, d.total_us, d.n_intervals, e.n_entries
      |FROM d JOIN e USING (state) ORDER BY state""".stripMargin)

  val streamSessions = gate("qc_stream_sessions") { (s, dir) =>
    // the q17 session aggregation executed through Structured Streaming
    // (parquet file source → session_window agg, complete mode) — putting
    // streaming session state under the batch oracle. Complete mode holds
    // final sessions without a watermark-driven close, so the finite
    // replay emits exactly the batch result.
    val in = stagedInput("qss", dir) { p =>
      events(s, dir).select(col("user_id"), col("ts"), col("value"))
        .write.mode("overwrite").parquet(p)
    }
    val stream = s.readStream.schema(s.read.parquet(in).schema)
      .parquet(in)
    val agg = stream
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"), centSum(col("value")).as("total"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        col("n_events"), col("total"))
    // state partitions sized to hold the active-user key space, not the
    // batch shuffle default (see CanStream.withStatePartitions)
    val q = graft.streaming.CanStream.withStatePartitions(s, Some(8)) {
      agg.writeStream.format("memory").queryName("graft_qss_tbl")
        .outputMode("complete").start()
    }
    q.processAllAvailable(); q.stop()
    s.table("graft_qss_tbl").orderBy("user_id", "session_start_us")
  }(
    // the streaming session run shares the batch session oracle
    CoreGates.q17SessionWindow.oracle)

  val streamSliding = gate("qc_stream_sliding") { (s, dir) =>
    // the q19 hopping-window aggregation through Structured Streaming
    // (parquet source → window(2h, 1h) agg, complete mode): overlapping
    // window state under the same batch oracle — complete mode holds
    // every window open, so the finite replay emits exactly the batch
    // result
    val in = stagedInput("qsw", dir) { p =>
      events(s, dir).select(col("ts"), col("event_type"), col("value"))
        .write.mode("overwrite").parquet(p)
    }
    val stream = s.readStream.schema(s.read.parquet(in).schema)
      .parquet(in)
    val agg = stream
      .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), centSum(col("value")).as("total"))
      .select(unix_micros(col("window.start")).as("win_start_us"),
        col("event_type"), col("n"), col("total"))
    val q = graft.streaming.CanStream.withStatePartitions(s, Some(8)) {
      agg.writeStream.format("memory").queryName("graft_qsw_tbl")
        .outputMode("complete").start()
    }
    q.processAllAvailable(); q.stop()
    s.table("graft_qsw_tbl").orderBy("win_start_us", "event_type")
  }(
    // complete-mode hop windows replay the batch sliding aggregation
    CoreGates.q19SlidingWindow.oracle)
}
