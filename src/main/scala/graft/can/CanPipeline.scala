package graft.can

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dbc._

/** End-to-end composition of the reference pipeline (SURVEY §3.1):
  * candump log → parse → decode → bucket → (forward-fill) → wide table,
  * ready for `write.parquet` (K1).
  *
  * Config mirrors the reference CLI (`/root/reference/src/arguments.h:12`):
  * `--cache <ms>` → `cacheMs`; `--forward-fill` → `forwardFill`;
  * `--no-adjust-timestamp` → `adjustTimestamp = false`. Divergences from the
  * shipped binary are deliberate and documented in SURVEY §1.2/§2.4:
  * last-wins combine and real forward-fill (legacy-main semantics), intended
  * typing, working flt32 decode.
  */
/** `frameLevelTumbling`: `None` (default) auto-selects the frame-level
  * tumbling path ([[Bucketer.tumblingFromFrames]]) when the network is
  * wider than [[Bucketer.CodegenArgWidthLimit]] signals — logged, because
  * the paths differ in duplicate-timestamp tie-breaking (frame-level
  * breaks equal-ts ties by raw payload u64, the wide paths per signal by
  * decoded value; identical on tie-free streams). `Some(true|false)`
  * forces the choice so width alone never silently changes tie semantics
  * for callers who care.
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
    frameLevelTumbling: Option[Boolean] = None,
    lenientDbc: Boolean = false)

object CanPipeline {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** OWNERSHIP NOTE: `exact = true` with no `exactKeys` (the keyless
    * distributed-exact path, [[Bucketer.exactDistributed]]'s contract)
    * returns a persisted + materialized frame rather than a lazy plan,
    * because that fold must release its corpus-sized sorted-input cache
    * before returning. Long-running sessions should `result.unpersist()`
    * once done consuming it; everywhere else the call is a no-op.
    */
  def decodeLog(spark: SparkSession, dbcPath: String, logPath: String,
      cfg: CanPipelineConfig = CanPipelineConfig()): DataFrame = {
    val net = DbcParser.parseFile(dbcPath, cfg.lenientDbc)
    val frames = CandumpParser.readLog(spark, logPath, cfg.adjustTimestamp)
    fromFrames(net, frames, cfg)
  }

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
    // Frame counter only on single-pass plans: the exact path range-
    // partitions its input, and RangePartitioner's sampling pass evaluates
    // the child a second time — a flow-through CollectMetrics there would
    // double-count. Exact mode still reports the rows counter (its fold
    // input is checkpoint-materialized, one pass).
    val exactMode = cfg.exact && cfg.cacheMs > 0 && cfg.exactKeys.isEmpty
    val frames =
      if (exactMode) frames0
      else withMetrics(frames0, cfg, PipelineMetrics.observeFrames)
    val wide = SignalDecoder.wideFrame(net, frames, cfg.typing,
      carryCols = cfg.exactKeys)
    val result = if (cfg.exact && cfg.cacheMs > 0) {
      if (cfg.exactKeys.nonEmpty)
        // keyed: independent folds per key, forward-fill in-pass
        Bucketer.exactFold(wide, cfg.cacheMs, cfg.exactKeys, cfg.combine, cfg.forwardFill)
      else {
        // keyless: gap-segmented distributed exact fold, filled inside
        // it before its result is persisted.
        // T7: frames counted in its pass 1 via accumulator — the observe
        // node was skipped above (sampling-pass double count), and RDD
        // actions would never deliver it anyway
        val counter =
          if (cfg.observeMetrics)
            Some(PipelineMetrics.newExactFramesCounter(frames0.sparkSession))
          else None
        Bucketer.exactDistributed(wide, cfg.cacheMs, cfg.combine,
          frameCounter = counter, forwardFill = cfg.forwardFill)
      }
    } else {
      val frameLevel = cfg.cacheMs > 0 && cfg.frameLevelTumbling.getOrElse(
        net.signalsInOrder.size > Bucketer.CodegenArgWidthLimit)
      if (frameLevel && cfg.frameLevelTumbling.isEmpty)
        // the auto-switch is visible, not silent: the frame-level path has
        // different (still deterministic) duplicate-ts tie semantics — see
        // CanPipelineConfig.frameLevelTumbling
        log.info(s"network has ${net.signalsInOrder.size} signals " +
          s"(> ${Bucketer.CodegenArgWidthLimit}): selecting frame-level " +
          "tumbling (payload-u64 tie-break on duplicate timestamps; " +
          "force with frameLevelTumbling=Some(false))")
      val bucketed =
        if (frameLevel)
          // fleet-width tumbling: aggregate the raw frame payload (4
          // columns at any network width, fully codegen, finer shuffle
          // key) and decode only the winning frames — see
          // Bucketer.tumblingFromFrames
          Bucketer.tumblingFromFrames(net, frames, cfg.cacheMs, cfg.combine,
            cfg.typing)
        else Bucketer.bucket(wide,
          if (cfg.cacheMs > 0) BucketMode.Tumbling(cfg.cacheMs) else BucketMode.PerFrame,
          cfg.combine)
      if (cfg.forwardFill)
        ForwardFill.distributed(bucketed, DbcColumns.TimeCol)
      else bucketed
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
    import spark.implicits._
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
