package graft.can

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.plans.CandumpLine

/** Candump text-line parsing (reference P1/F2/P8):
  * `"(1694651234.123456) can0 123#DEADBEEF"` →
  * `(ts_ms: Double, iface: String, can_id: Long, data: Binary)`.
  *
  * Mirrors `/root/reference/src/inputs/candump_parse.h:38-101`: whitespace
  * split, `(...)` stripped, `ID#HEX` split on `#`, hex→id, hex-pairs→bytes
  * capped at 8; malformed lines are dropped (the reference's `good=false`
  * skip path, `candump_parse.h:44-56`). Remote-frame `R` payloads decode to
  * empty payloads like the reference (the `#R` branch yields no data bytes).
  *
  * Each line is parsed by one codegen expression, [[CandumpLine]], in a
  * single regex-free pass over its bytes, so the stage is whole-stage
  * codegen'd and usable identically in batch (`readLog`, `--stdin`) and
  * streaming (`readStream` text/socket) plans. [[LineRe]] is its
  * specification and test oracle.
  */
object CandumpParser {

  /** The line grammar, as a regex: the specification [[CandumpLine]]
    * implements and the oracle its property spec compares against. Group
    * 1 = epoch whole seconds, 2 = fractional digits, 3 = iface, 4 = hex
    * id, 5 = hex payload (may be empty; `R` = remote frame → no payload).
    *
    * Quantifiers are bounded (11 second digits ≈ year 5138, 9 fractional,
    * 8 hex id digits = the 29-bit extended-id space) so a line that passes
    * can never overflow the integer extraction.
    *
    * 11 second digits, not the previous 13: `sec · 10⁶` must stay under
    * 2⁶³ ≈ 9.2·10¹⁸. The hard overflow line is 13 digits (9.99…·10¹² ·
    * 10⁶ ≈ 10¹⁹ — an ANSI throw where one corrupt line kills a 100 TB
    * job, or a silent wrap with ANSI off); 12 digits (≤ 9.99…·10¹⁷)
    * still fits. The bound is deliberately one digit tighter than the
    * overflow argument requires: an epoch past year 5138 (12 digits) is
    * corruption by construction, so it belongs with the other malformed
    * shapes F2 drops rather than decoding as an absurd timestamp.
    */
  private[can] val LineRe = """^\s*\((\d{1,11})\.?(\d{0,9})\)\s+(\S+)\s+([0-9A-Fa-f]{1,8})#R?([0-9A-Fa-f]*)\s*$"""

  /** Parse a DataFrame of raw lines (column `col`) into frames.
    * Output: `ts_us: long, iface: string, can_id: long, data: binary`.
    * Malformed lines → dropped (F2).
    *
    * Timestamps are held as exact integer microseconds — candump prints 6
    * fractional digits, and epoch-scale doubles cannot represent them (the
    * reference's double math drifts by ~1e-4 ms at epoch scale; integer
    * micros make later subtraction exact).
    *
    * `inline` over [[CandumpLine]] parses each line once and drops the
    * malformed ones in the same step; no filter on the parse result can be
    * pushed below it and re-evaluate the parse.
    */
  def parseLines(lines: DataFrame, col: String = "value"): DataFrame =
    lines.select(inline(CandumpLine(lines(col))))

  /** P8 timestamp normalization: `ts_ms = (ts_s - t0) * 1000` with t0 the
    * dataset minimum (the reference uses the first line's ts,
    * `/root/reference/src/inputs/fileInput.cpp:16-31`, which equals the min
    * for monotonic logs). `adjust = false` keeps raw epoch ms
    * (`--no-adjust-timestamp`, `/root/reference/src/arguments.h:93-96`).
    *
    * Implemented as an aggregate + broadcast cross join of the 1-row min —
    * NOT a global window (which would force all data through a single
    * partition; the 1-row broadcast join keeps the scan fully parallel at
    * any scale). The t0 branch re-reads and re-parses the input (one
    * [[CandumpLine]] per line, no regex); [[withTsMsEager]] avoids the
    * second branch where an eager action is acceptable.
    */
  def withTsMs(frames: DataFrame, adjust: Boolean = true): DataFrame =
    if (!adjust) frames.withColumn("ts_ms", col("ts_us") / 1000.0).drop("ts_us")
    else {
      val t0 = frames.agg(min("ts_us").as("_t0"))
      frames.crossJoin(broadcast(t0))
        .withColumn("ts_ms", (col("ts_us") - col("_t0")) / 1000.0)
        .drop("ts_us", "_t0")
    }

  /** [[withTsMs]] with t0 resolved eagerly: runs the min aggregate now
    * and embeds the result as a literal, so the RETURNED plan parses the
    * input exactly once — no join, no second branch. Batch-only (an eager
    * action can't sit in a streaming plan); prefer this form when the
    * frame source is expensive to re-scan.
    */
  def withTsMsEager(frames: DataFrame): DataFrame = {
    val row = frames.agg(min("ts_us")).head()
    if (row.isNullAt(0)) frames.withColumn("ts_ms", col("ts_us") / 1000.0).drop("ts_us")
    else {
      val t0 = row.getLong(0)
      frames.withColumn("ts_ms", (col("ts_us") - lit(t0)) / 1000.0).drop("ts_us")
    }
  }

  /** Full source: candump log file(s) → frames with normalized ts_ms.
    * S1: the input is read as Hadoop text splits, at least
    * `defaultParallelism` of them for a log of any size, so a single log
    * is parsed on every core. (The file source would plan one split per
    * `spark.sql.files.openCostInBytes` — 4 MB by default — and leave most
    * cores idle on logs under cores × 4 MB; changing that conf would
    * change every other scan in the session.) A large log still splits
    * by block size, and each file is at least one split: a directory of
    * many small logs gets one task per file.
    */
  def readLog(spark: org.apache.spark.sql.SparkSession, path: String,
      adjustTimestamp: Boolean = true): DataFrame =
    withTsMs(parseLines(textLines(spark, path)), adjustTimestamp)

  /** The lines of the file(s) at `path` as a `value` column, in at least
    * `defaultParallelism` input splits. Each Hadoop `Text` is copied
    * straight into a `UTF8String` — no decode to a Java string and back.
    */
  private[can] def textLines(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val sc = spark.sparkContext
    val rows = sc.hadoopFile(path, classOf[org.apache.hadoop.mapred.TextInputFormat],
        classOf[org.apache.hadoop.io.LongWritable], classOf[org.apache.hadoop.io.Text],
        sc.defaultParallelism)
      .map { case (_, t) =>
        org.apache.spark.sql.catalyst.InternalRow(
          org.apache.spark.unsafe.types.UTF8String.fromBytes(
            java.util.Arrays.copyOf(t.getBytes, t.getLength)))
      }
    org.apache.spark.sql.graftshim.Shims.internalDataFrame(spark, rows,
      org.apache.spark.sql.types.StructType(Seq(org.apache.spark.sql.types.StructField(
        "value", org.apache.spark.sql.types.StringType))))
  }

  /** Reference-fidelity replay (opt-in): reproduces two initialization
    * quirks of the reference's sequential file reader that the default
    * distributed path deliberately diverges from —
    *
    *  1. FIRST-FRAME DISCARD: `initialize()` consumes the first parseable
    *     frame to set `start_time_ms` and never emits it
    *     (`/root/reference/src/inputs/fileInput.h:26`, `fileInput.cpp:16-31`).
    *     Here: t0 = the first good frame's timestamp (file order, not min)
    *     and that frame is dropped when `discardFirstFrame`.
    *  2. 5-BAD-LINE EOF: `getPacket` tries at most 5 lines per call; a run
    *     of `eofBadRun` consecutive unparseable lines after a good frame
    *     ends the stream — everything after is silently dropped
    *     (`fileInput.cpp:36-43`). Leading bad lines never trigger it
    *     (`initialize()` skips them unboundedly, `fileInput.cpp:20-24`).
    *
    * Both quirks are SEQUENTIAL by nature (they depend on absolute line
    * order), so this mode pays for order: `sc.textFile` + `zipWithIndex`
    * assigns file-order indices (Hadoop line splits are offset-ordered and
    * zipWithIndex is partition-prefix based), and the bad-run scan is a
    * global window over the GOOD line indices only. Cost: exactly TWO
    * passes over the file — one bounds aggregate that collects the first
    * good line's (index, timestamp) and the EOF cutoff together, and the
    * final filtered parse. Use it for byte-parity replay of reference
    * outputs at reference (single node) scale; the default [[readLog]]
    * path stays fully distributed and emits every parseable frame.
    */
  def readLogFidelity(spark: org.apache.spark.sql.SparkSession, path: String,
      adjustTimestamp: Boolean = true, discardFirstFrame: Boolean = true,
      eofBadRun: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val indexed = {
      val rdd = spark.sparkContext.textFile(path).zipWithIndex()
        .map { case (v, i) => org.apache.spark.sql.Row(v, i) }
      spark.createDataFrame(rdd, org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("_line_idx",
          org.apache.spark.sql.types.LongType))))
    }
    // one pass, one action: argmin struct → first good line's (idx, ts);
    // the EOF cutoff comes from gaps between consecutive good lines — a
    // gap of >= eofBadRun bad lines after good line g stops the reader at
    // g + eofBadRun (g itself was already emitted by the call before the
    // failing one); leading bad lines precede every good line and so
    // never form a (good, next_good) gap
    val b = indexed.select(col("_line_idx"), inline(CandumpLine(col("value"))))
      .withColumn("_nxt",
        lead(col("_line_idx"), 1).over(Window.orderBy("_line_idx")))
      .agg(
        min(struct(col("_line_idx").as("_i"), col("ts_us").as("_ts"))).as("_first"),
        min(when(col("_nxt") - col("_line_idx") - 1 >= eofBadRun,
          col("_line_idx") + eofBadRun)).as("_cut"))
      .head()
    val first = b.getAs[org.apache.spark.sql.Row]("_first")
    val lo =
      if (first == null) Long.MaxValue // no parseable frame: empty result
      else if (discardFirstFrame) first.getLong(0) + 1
      else first.getLong(0)
    val cutoff = if (b.isNullAt(1)) Long.MaxValue else b.getLong(1)
    val frames = parseLines(indexed
      .filter(col("_line_idx") >= lo && col("_line_idx") < cutoff)
      .select("value"))
    if (adjustTimestamp && first != null)
      frames.withColumn("ts_ms", (col("ts_us") - lit(first.getLong(1))) / 1000.0)
        .drop("ts_us")
    else frames.withColumn("ts_ms", col("ts_us") / 1000.0).drop("ts_us")
  }
}
