package graft.can

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dbc._

/** End-to-end composition of the reference pipeline (SURVEY §3.1):
  * candump log → parse → decode → bucket → (forward-fill) → wide table,
  * ready for `write.parquet` (K1).
  *
  * A log read by [[CanPipeline.decodeLog]] keeps its line order split by
  * split, so its tumbling buckets, with or without forward fill, fold
  * each split in that order ([[SplitTumbling]]): one staging shuffle, no
  * aggregate and no range sort. If the log turns out not to be in bucket
  * order, the same call runs the general plan of [[CanPipeline.fromFrames]]
  * instead, so results never depend on the order. The streaming sources
  * go through [[CanPipeline.fromStream]], which picks its bucket plan by
  * the same rule.
  *
  * Config mirrors the reference CLI (`/root/reference/src/arguments.h:12`):
  * `--cache <ms>` → `cacheMs`; `--forward-fill` → `forwardFill`;
  * `--no-adjust-timestamp` → `adjustTimestamp = false`. Divergences from the
  * shipped binary are deliberate and documented in SURVEY §1.2/§2.4:
  * last-wins combine and real forward-fill (legacy-main semantics), intended
  * typing, working flt32 decode.
  */
final case class CanPipelineConfig(
    cacheMs: Double = 0.0,
    exact: Boolean = false,
    exactKeys: Seq[String] = Nil,
    forwardFill: Boolean = false,
    adjustTimestamp: Boolean = true,
    typing: TypingMode = TypingMode.Intended,
    combine: CombinePolicy = CombinePolicy.LastWins,
    observeMetrics: Boolean = false,
    lenientDbc: Boolean = false)

object CanPipeline {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The candump log(s) at `logPath` → the wide table, as
    * [[fromSplitOrderedFrames]] builds it. Tumbling configs (`!exact`,
    * `cacheMs > 0`, at most [[Bucketer.CodegenArgWidthLimit]] signals)
    * run their Spark jobs over the whole input inside this call — the
    * t0 minimum ([[CandumpParser.withTsMsEager]], unless
    * `!adjustTimestamp`), then the fold's pass 1 — so read errors surface
    * here, and a caller that only filters, limits or drops the frame
    * still pays those scans. The in-repo callers (`cli.Main.writeBatch`,
    * `Stress`'s decode-and-bucket case, perfbench's `CanBatch`) all write
    * or scan the whole frame right away. Every other config returns a
    * lazy frame.
    */
  def decodeLog(spark: SparkSession, dbcPath: String, logPath: String,
      cfg: CanPipelineConfig = CanPipelineConfig()): DataFrame = {
    val net = DbcParser.parseFile(dbcPath, cfg.lenientDbc)
    val lines = CandumpParser.parseLines(CandumpParser.textLines(spark, logPath))
    // the fold runs a job now anyway; resolving t0 first, once, keeps its
    // pass and a fallback plan from each re-reading the log for t0
    val frames =
      if (cfg.adjustTimestamp &&
          tumbling(net, cfg, splitOrdered = true) == Some(Tumbling.SplitFold))
        CandumpParser.withTsMsEager(lines)
      else CandumpParser.withTsMs(lines, cfg.adjustTimestamp)
    fromSplitOrderedFrames(net, frames, cfg)
  }

  /** [[fromFrames]] for frames whose partitions each hold a run of the
    * input in order, as [[CandumpParser.readLog]]'s splits do. Tumbling
    * buckets that [[tumbling]] sends to [[SplitTumbling]] run its pass 1
    * now, which folds each split in that order. When the bucket ids turn
    * out to decrease inside a split, or splits overlap in time, the
    * result is [[fromFrames]]'s plan. The fold stops each split at its
    * first decrease, so a log out of order wastes little of a pass; splits
    * that are each in order but overlap in time waste one parse and
    * decode of the input. The fold counts frames (`observeMetrics`) under
    * a name of its own ([[PipelineMetrics.observePendingFrames]]), and
    * only the ordered result delivers that count, with its rows, so a
    * write reports every frame once on either path. Any other config is
    * [[fromFrames]].
    */
  private[graft] def fromSplitOrderedFrames(net: Network, frames: DataFrame,
      cfg: CanPipelineConfig): DataFrame =
    if (tumbling(net, cfg, splitOrdered = true) != Some(Tumbling.SplitFold))
      fromFrames(net, frames, cfg)
    else {
      val wide = SignalDecoder.wideFrame(net,
        withMetrics(frames, cfg, PipelineMetrics.observePendingFrames), cfg.typing,
        carryCols = cfg.exactKeys)
      SplitTumbling(wide, cfg.cacheMs, cfg.combine, cfg.forwardFill) match {
        case Some(result) => withMetrics(result, cfg, PipelineMetrics.observeRows)
        case None =>
          log.info("bucket ids decrease inside or across the input's splits: " +
            "running the general tumbling plan")
          fromFrames(net, frames, cfg)
      }
    }

  /** How tumbling buckets are computed. */
  private sealed trait Tumbling
  private object Tumbling {
    /** [[SplitTumbling]]: each input split folded in its order. */
    case object SplitFold extends Tumbling
    /** [[Bucketer.bucket]]'s arg-extremum hash aggregate. */
    case object Aggregate extends Tumbling
    /** [[Bucketer.tumblingFromFrames]]: the frame payloads aggregated,
      * the winners decoded; its duplicate-ts ties break on the payload.
      */
    case object FrameLevel extends Tumbling
  }

  /** The one width rule for tumbling buckets, or `None` when `cfg` is not
    * tumbling (`exact`, or `cacheMs <= 0`). Networks of at most
    * [[Bucketer.CodegenArgWidthLimit]] signals fold split by split when
    * the frames are `splitOrdered`, and run the aggregate otherwise;
    * wider ones run the frame-level plan. ([[Bucketer.bucket]] keeps its
    * own check for direct callers; it counts the same columns, since the
    * CLI asks for carry columns only with `--exact`.)
    */
  private def tumbling(net: Network, cfg: CanPipelineConfig,
      splitOrdered: Boolean): Option[Tumbling] =
    if (cfg.exact || cfg.cacheMs <= 0) None
    else if (net.signalsInOrder.size > Bucketer.CodegenArgWidthLimit)
      Some(Tumbling.FrameLevel)
    else if (splitOrdered) Some(Tumbling.SplitFold)
    else Some(Tumbling.Aggregate)

  /** T7: thread the observed frame/row counters through when asked. */
  private def withMetrics(df: DataFrame, cfg: CanPipelineConfig,
      f: DataFrame => DataFrame): DataFrame =
    if (cfg.observeMetrics) f(df) else df

  /** S3 literal stdin: the reference's `cat log | engine --stdin` path
    * (`/root/reference/src/inputs/stdinInput.cpp:12-42`) reads candump
    * lines from the process's standard input until EOF. A pipe is
    * inherently a single driver-side byte stream — no Spark source can
    * split it — so the lines are drained on the driver, parallelized
    * across the cluster, and the decode/bucket pipeline downstream is the
    * same distributed plan as the file path. Bounded by driver memory,
    * which is exactly the reference's own single-process envelope; a
    * 100 TB corpus arrives as files or sockets, not a pipe.
    */
  def decodeStdin(spark: SparkSession, dbcPath: String,
      cfg: CanPipelineConfig = CanPipelineConfig(),
      in: java.io.InputStream = System.in): DataFrame = {
    val net = DbcParser.parseFile(dbcPath, cfg.lenientDbc)
    val reader = new java.io.BufferedReader(
      new java.io.InputStreamReader(in, java.nio.charset.StandardCharsets.UTF_8))
    val lines = Iterator.continually(reader.readLine()).takeWhile(_ != null).toSeq
    val df = spark.createDataset(lines)(org.apache.spark.sql.Encoders.STRING)
      .toDF("value")
      .repartition(spark.sparkContext.defaultParallelism)
    val frames = CandumpParser.withTsMs(CandumpParser.parseLines(df), cfg.adjustTimestamp)
    fromFrames(net, frames, cfg)
  }

  /** frames(ts_ms, can_id, data) → bucketed wide table. */
  def fromFrames(net: Network, frames0: DataFrame, cfg: CanPipelineConfig): DataFrame = {
    val frames = withMetrics(frames0, cfg, PipelineMetrics.observeFrames)
    val wide = SignalDecoder.wideFrame(net, frames, cfg.typing,
      carryCols = cfg.exactKeys)
    val result = if (cfg.exact && cfg.cacheMs > 0 && cfg.exactKeys.nonEmpty)
      // keyed: independent folds per key, forward-fill in-pass
      Bucketer.exactFold(wide, cfg.cacheMs, cfg.exactKeys, cfg.combine, cfg.forwardFill)
    else {
      val bucketed = tumbling(net, cfg, splitOrdered = false) match {
        case Some(Tumbling.FrameLevel) =>
          // the frame-level tumbling path has different (still
          // deterministic) duplicate-ts tie semantics, so the width
          // switch is logged
          log.info(s"network has ${net.signalsInOrder.size} signals " +
            s"(> ${Bucketer.CodegenArgWidthLimit}): selecting frame-level " +
            "tumbling (payload-u64 tie-break on duplicate timestamps)")
          // fleet-width tumbling: aggregate the raw frame payload (4
          // columns at any network width, fully codegen, finer shuffle
          // key) and decode only the winning frames — see
          // Bucketer.tumblingFromFrames
          Bucketer.tumblingFromFrames(net, frames, cfg.cacheMs, cfg.combine,
            cfg.typing)
        case _ => Bucketer.bucket(wide,
          if (cfg.cacheMs <= 0) BucketMode.PerFrame
          else if (cfg.exact) BucketMode.Exact(cfg.cacheMs) // keyless: exactDistributed
          else BucketMode.Tumbling(cfg.cacheMs),
          cfg.combine)
      }
      if (cfg.forwardFill)
        ForwardFill.distributed(bucketed, DbcColumns.TimeCol)
      else bucketed
    }
    withMetrics(result, cfg, PipelineMetrics.observeRows)
  }

  /** The streaming twin of [[fromFrames]]: frames(ts_us, can_id, data) from
    * a [[graft.streaming.CanStream]] source → the bucketed wide stream, one
    * row per frame at `cacheMs <= 0`, else `exactStream` (keyed on the one
    * `exactKeys` column, if any) or, by the [[tumbling]] width rule,
    * `bucketedStream` or `bucketedStreamFromFrames`. Time stays absolute
    * (`ts_us / 1000`): a stream has no t0, so `adjustTimestamp` does not
    * apply. Forward fill lives only in the exact state; any other plan
    * refuses `forwardFill`. Tumbling windows are whole milliseconds, so a
    * fractional `cacheMs` is refused outside the exact state. The output
    * has `Time_ms` and no event-time `ts`; `observeMetrics` counts parsed
    * frames and output rows, as batch.
    */
  def fromStream(net: Network, frames0: DataFrame, cfg: CanPipelineConfig): DataFrame = {
    require(!cfg.forwardFill || (cfg.exact && cfg.cacheMs > 0),
      "streaming forward fill needs exact buckets (exact and cacheMs > 0)")
    require(cfg.exactKeys.size <= 1,
      s"streaming exact buckets take at most one key column, got ${cfg.exactKeys}")
    require(cfg.exact || cfg.cacheMs <= 0 || cfg.cacheMs == cfg.cacheMs.floor,
      s"streaming tumbling buckets take whole milliseconds, got cacheMs=${cfg.cacheMs}")
    import graft.streaming.CanStream
    val frames = withMetrics(frames0, cfg, PipelineMetrics.observeFrames)
    def wide = CanStream.decoded(net, frames, cfg.typing, carryCols = cfg.exactKeys)
    val result = tumbling(net, cfg, splitOrdered = false) match {
      case Some(Tumbling.FrameLevel) =>
        CanStream.bucketedStreamFromFrames(net, frames, cfg.cacheMs.toLong,
          policy = cfg.combine, typing = cfg.typing)
      case Some(_) => CanStream.bucketedStream(wide, cfg.cacheMs.toLong,
        policy = cfg.combine)
      case None if cfg.cacheMs <= 0 =>
        Bucketer.bucket(wide.drop("ts"), BucketMode.PerFrame, cfg.combine)
      case None => CanStream.exactStream(wide.drop("ts"), cfg.cacheMs,
        cfg.exactKeys.headOption, cfg.combine, cfg.forwardFill)
    }
    withMetrics(result, cfg, PipelineMetrics.observeRows)
  }
}

/** Output layout for the wide table at fleet scale (K1 grown up): the
  * reference appends one flat parquet file; a 100 TB corpus needs
  * partition pruning on the time axis. `writeTimePartitioned` derives an
  * hour-bucket column from `Time_ms` and writes
  * `.../hour_bucket=N/part-*.parquet`, so time-range queries prune
  * directories before touching data (verified via `PartitionFilters` in
  * the scan). `maxRecordsPerFile` bounds file sizes the way the
  * reference's 10k-row chunks did.
  */
object WideTableWriter {
  import org.apache.spark.sql.functions._

  def writeTimePartitioned(df: DataFrame, path: String,
      bucketMs: Long = 3600 * 1000L, maxRecordsPerFile: Long = 5000000L): Unit =
    df.withColumn("hour_bucket",
        floor(col(DbcColumns.TimeCol) / bucketMs.toDouble).cast("long"))
      .write
      .partitionBy("hour_bucket")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .mode("append")
      .parquet(path)

  /** Time-range read with directory-level pruning. */
  def readTimeRange(spark: SparkSession, path: String,
      fromMs: Double, untilMs: Double, bucketMs: Long = 3600 * 1000L): DataFrame = {
    spark.read.parquet(path)
      .filter(col("hour_bucket") >= math.floor(fromMs / bucketMs).toLong &&
        col("hour_bucket") <= math.floor(untilMs / bucketMs).toLong &&
        col(DbcColumns.TimeCol) >= fromMs && col(DbcColumns.TimeCol) < untilMs)
      .drop("hour_bucket")
  }
}

/** Legacy Parquet re-ingest time migration (reference T6,
  * `/root/reference/src/main.cpp.bak:295-304`, `:328-331`): columns named
  * `Time`/`timestamp`/`Seconds` hold seconds → `Time_ms = v * 1000`;
  * `Time_ms` passes through; with no time column at all, synthesize the
  * legacy 11.91 ms/row ramp (84 Hz, `/root/reference/src/main.cpp.bak:329`).
  */
object TimeMigration {
  import org.apache.spark.sql.expressions.Window

  val LegacySecondsCols = Seq("Time", "timestamp", "Seconds")

  def migrate(df: DataFrame): DataFrame = {
    val cols = df.columns.toSeq
    val candidates =
      (if (cols.contains(DbcColumns.TimeCol)) Seq(col(DbcColumns.TimeCol)) else Nil) ++
        LegacySecondsCols.filter(cols.contains).map(c => col(c) * 1000.0)
    val timeExpr =
      if (candidates.nonEmpty) coalesce(candidates: _*)
      else // legacy synthetic ramp — small-file migration path only (global window)
        (row_number().over(Window.orderBy(monotonically_increasing_id())) - 1).cast("double") * 11.91
    df.withColumn(DbcColumns.TimeCol, timeExpr)
      .drop(LegacySecondsCols.filter(cols.contains): _*)
  }
}
