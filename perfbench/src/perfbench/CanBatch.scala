package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.can._
import graft.dbc.Network
import perfbench.Main._

/** The batch CAN workloads: the CLI's `--file --cache 10 --forward-fill`
  * composition with tumbling buckets (`can_tumble_ffill_wide`) or with
  * `--exact` added (`can_exact_ffill_wide`).
  *
  * An untraced job is exactly what `graft.cli.Main` runs for one log:
  * `CanPipeline.decodeLog` with observed counters, `write.parquet` of the
  * result, then `unpersist`. A traced job makes the same calls one layer at
  * a time (`DbcParser.parseFile`, `CandumpParser.readLog`,
  * `SignalDecoder.wideFrame`, `Bucketer.bucket` or
  * `Bucketer.exactDistributed`, `ForwardFill.distributed`, the write) with
  * a span around each. Where the bucket output is lazy, the traced job
  * persists it inside the `can.bucket` span, so the forward-fill and write
  * spans that follow measure their own work. Every job's output is checked.
  */
object CanBatch {

  /** Input sizes. A job's time here is mostly per-job work (planning,
    * code generation, job scheduling); see README.md for the budget.
    */
  val TumbleFrames = 100000
  val ExactFrames = 30000
  /** The warm-up log: same network and traffic, a tenth of the frames. */
  val WarmUpFrames = 10000
  val ExactSessions = 10
  val CacheMs = 10.0

  def run(ctx: Ctx, gnet: Gen.Net, net0: Network, dbc: Path, exact: Boolean): Outcome = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val seed = ctx.conf.seed
    val log = ctx.work.resolve("in").resolve("can.log")
    val fr =
      if (exact) Gen.testDay(gnet, seed, ExactFrames, ExactSessions)
      else Gen.continuous(gnet, seed, TumbleFrames)
    val st = Gen.writeLog(log, gnet, fr, Gen.epochUs(seed))
    val warmLog = ctx.work.resolve("in").resolve("warm-up.log")
    Gen.writeLog(warmLog, gnet, Gen.continuous(gnet, seed + 1, WarmUpFrames), Gen.epochUs(seed))
    val outRoot = ctx.work.resolve("out")
    ctx.phase("stage")

    // the CLI registers graft's progress listener for --file runs
    val progress = new PipelineMetrics.Progress(quiet = true, sessionHint = Some(spark))
    spark.listenerManager.register(progress)

    val cfg = CanPipelineConfig(cacheMs = CacheMs, exact = exact, forwardFill = true,
      observeMetrics = true)

    def untraced(out: String, log: Path = log): Unit = {
      val wide = CanPipeline.decodeLog(spark, dbc.toString, log.toString, cfg)
      wide.write.mode("append").parquet(out)
      wide.unpersist()
    }

    def traced(out: String): Unit = tr.span("job") {
      val net = tr.span("dbc.parse")(graft.dbc.DbcParser.parseFile(dbc.toString))
      val frames = tr.span("can.parse")(CandumpParser.readLog(spark, log.toString))
      val wide = tr.span("can.decode")(SignalDecoder.wideFrame(net, frames))
      val bucketed = tr.span("can.bucket") {
        if (exact) Bucketer.exactDistributed(wide, CacheMs, CombinePolicy.LastWins,
          frameCounter = Some(PipelineMetrics.newExactFramesCounter(spark)))
        else {
          val b = Bucketer.bucket(wide, BucketMode.Tumbling(CacheMs), CombinePolicy.LastWins)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          b.count()
          b
        }
      }
      val filled = tr.span("can.ffill")(ForwardFill.distributed(bucketed, DbcColumns.TimeCol))
      bucketed.unpersist()
      tr.span("sink.parquet")(PipelineMetrics.observeRows(filled).write.mode("append").parquet(out))
      filled.unpersist()
      ()
    }

    // graft's own row counter per job, from its progress listener
    val rowsCounted = mutable.Map.empty[Int, Long]
    val (coldS, runs) = loop(ctx, () => untraced(outRoot.resolve("warm-up").toString, warmLog), { (i, t) =>
      val out = outRoot.resolve(s"job$i").toString
      // listener events arrive asynchronously: settle the previous job's
      // count before reading, and this job's before reading again
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val r0 = progress.rows.get
      if (t) traced(out) else untraced(out)
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      rowsCounted(i) = progress.rows.get - r0
    })
    spark.listenerManager.unregister(progress)
    ctx.phase("jobs")

    // ---- correctness: every job's output against the reference -----------
    val rnet = Reference.parseDbc(gnet.dbc)
    val rfr = Reference.readFrames(Seq(log))
    val want =
      if (exact) Reference.exact(rnet, rfr, CacheMs, ffill = true)
      else Reference.summarize(rnet,
        Reference.forwardFill(Reference.tumbling(rnet, rfr, CacheMs, relative = true).values))
    val got = summaries(spark, runs.filter(_.error.isEmpty).map(r => r.i -> outRoot.resolve(s"job${r.i}")),
      rnet.columns)
    val errors = mutable.ArrayBuffer.empty[String]
    runs.foreach { r =>
      r.error.foreach(errors += _)
      if (r.error.isEmpty) got.get(r.i) match {
        case None => errors += s"job ${r.i}: no output"
        case Some(g) =>
          want.mismatch(g).foreach(m => errors += s"job ${r.i}: $m")
          if (rowsCounted.get(r.i).exists(_ != want.rows))
            errors += s"job ${r.i}: graft counted ${rowsCounted(r.i)} rows written, expected ${want.rows}"
      }
    }
    // traced runs: lines in, malformed (F2), unknown ids (F1) and decoded
    // frames from one counting pass through graft's parse and decode
    val unknownRef = (0 until rfr.size).count(i => !rnet.byId.contains(rfr.id(i))).toLong
    val counts = if (ctx.conf.trace) Some(flowCounts(spark, net0, log.toString)) else None
    val expectCounts = Seq(rfr.lines, rfr.malformed, rfr.size.toLong, unknownRef, rfr.size - unknownRef)
    val countsOk = counts.forall { c =>
      val got = Seq(c.lines, c.lines - c.parsed, c.parsed, c.parsed - c.decoded, c.decoded)
      if (got != expectCounts)
        errors += s"flow counts (lines, malformed, frames, unknown, decoded) $got != expected $expectCounts"
      got == expectCounts
    }
    ctx.phase("check")
    val failed = runs.count(r => errors.exists(_.startsWith(s"job ${r.i}:"))) + (if (countsOk) 0 else 1)

    val jobS = medianOf(runs.filter(r => !r.traced && r.error.isEmpty).map(_.seconds))
    val (outBytes, outFiles) = parquetFiles(outRoot.resolve("job0"))
    val e2e = Map(
      "setup_s" -> ctx.setupS,
      "job_s" -> jobS,
      "records_per_s" -> st.lines / jobS,
      "out_bytes_per_record" -> outBytes.toDouble / st.lines)

    val layer =
      if (!ctx.conf.trace) Map.empty[String, Double]
      else {
        val snaps = runs.flatMap(_.engine)
        def med(f: EngineSnapshot => Double) = medianOf(snaps.map(f))
        val parsePrefix = seconds(tr.span("can.parse.prefix")(
          noop(CandumpParser.readLog(spark, log.toString))))._2
        val decodePrefix = seconds(tr.span("can.decode.prefix")(
          noop(SignalDecoder.wideFrame(net0, CandumpParser.readLog(spark, log.toString)))))._2
        val c = counts.get
        Map(
          "dbc.parse_s" -> ctx.dbcS,
          "pipeline.cold_job_s" -> coldS,
          "can.parse.prefix_s" -> parsePrefix,
          "can.parse.lines_in" -> c.lines.toDouble,
          "can.parse.malformed" -> (c.lines - c.parsed).toDouble,
          "can.parse.frames_out" -> c.parsed.toDouble,
          "can.decode.prefix_s" -> decodePrefix,
          "can.decode.unknown_id" -> (c.parsed - c.decoded).toDouble,
          "can.decode.frames_out" -> c.decoded.toDouble,
          "can.bucket.prefix_s" -> medianOf(tr.durations("can.bucket")),
          "can.bucket.rows_out" -> want.rows.toDouble,
          "can.bucket.shuffle_bytes" -> med(_.inLayer("can.bucket").map(_.shuffleWrite).sum.toDouble),
          "can.bucket.task_skew" -> med { s =>
            val reads = s.inLayer("can.bucket").filter(_.shuffleRead > 0)
            if (reads.isEmpty) 1.0 else reads.maxBy(_.runMs).skew
          },
          "can.ffill.s" -> medianOf(tr.durations("can.ffill")),
          "can.ffill.spill_bytes" -> med(_.inLayer("can.ffill").map(_.spill).sum.toDouble),
          "sink.parquet.write_s" -> medianOf(tr.durations("sink.parquet")),
          "sink.parquet.bytes" -> outBytes.toDouble,
          "sink.parquet.files" -> outFiles.toDouble) ++
          engineMetrics(ctx, snaps, "sink.parquet") ++ overhead(runs)
      }
    ctx.phase("layers")
    // traced tumbling runs also replay the live directory stream (the
    // can_stream_wide procedure) for its per-layer stream.* metrics
    val stream =
      if (ctx.conf.trace && !exact) Some(CanStreamBench.run(ctx, gnet, net0)) else None
    Outcome(runs.size + counts.size + stream.map(_.attempted).getOrElse(0),
      failed + stream.map(_.failed).getOrElse(0),
      errors.toSeq ++ stream.toSeq.flatMap(_.errors), e2e,
      stream.map(_.layer.filter(_._1.startsWith("stream."))).getOrElse(Map.empty) ++ layer)
  }

  final case class Flow(lines: Long, parsed: Long, decoded: Long)

  /** Lines in, frames out of the parse (F2) and frames out of the decode
    * (F1), observed in one pass through graft's own layer functions.
    */
  def flowCounts(spark: SparkSession, net: Network, log: String): Flow = {
    val o1 = Observation("lines"); val o2 = Observation("parsed"); val o3 = Observation("decoded")
    val lines = spark.read.text(log).observe(o1, count(lit(1)).as("n"))
    val parsed = CandumpParser.parseLines(lines).observe(o2, count(lit(1)).as("n"))
    val decoded = SignalDecoder.wideFrame(net, CandumpParser.withTsMs(parsed, adjust = false))
      .observe(o3, count(lit(1)).as("n"))
    noop(decoded)
    def n(o: Observation) = o.get("n").asInstanceOf[Long]
    Flow(n(o1), n(o2), n(o3))
  }

  /** Checksums of each job's written output, one Spark pass over all of
    * them: rows, Σ Time_ms, and per column the non-null count and sum.
    */
  def summaries(spark: SparkSession, dirs: Seq[(Int, Path)],
      columns: IndexedSeq[String]): Map[Int, Reference.Summary] = {
    val existing = dirs.filter(d => java.nio.file.Files.isDirectory(d._2))
    if (existing.isEmpty) Map.empty
    else {
      val df: DataFrame = spark.read.parquet(existing.map(_._2.toString): _*)
        .withColumn("_job", regexp_extract(col("_metadata.file_path"), "/job(\\d+)/", 1).cast("int"))
      val aggs = Seq(count(lit(1)), sum(col(DbcColumns.TimeCol))) ++
        columns.flatMap(c => Seq(count(col(c)), sum(col(c).cast("double"))))
      df.groupBy("_job").agg(aggs.head, aggs.tail: _*).collect().map { r =>
        val s = new Reference.Summary(columns)
        s.rows = r.getLong(1)
        s.timeSum = if (r.isNullAt(2)) 0.0 else r.getDouble(2)
        columns.indices.foreach { c =>
          s.count(c) = r.getLong(3 + 2 * c)
          s.sum(c) = if (r.isNullAt(4 + 2 * c)) 0.0 else r.getDouble(4 + 2 * c)
        }
        r.getInt(0) -> s
      }.toMap
    }
  }
}
