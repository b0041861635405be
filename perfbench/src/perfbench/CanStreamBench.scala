package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import graft.can.{DbcColumns, PipelineMetrics}
import graft.dbc.Network
import graft.streaming.CanStream
import perfbench.Main._

/** The CLI's `--stream-file --cache 10` composition:
  * `CanStream.framesFromTextFiles` (maxFilesPerTrigger 16) →
  * `CanStream.decoded` (with graft's observed frame counter) →
  * `CanStream.bucketedStream(10)` → `CanStream.parquetSink` on the CLI's
  * 1 s processing-time trigger.
  *
  * An open-loop generator thread renames one candump file into the watched
  * directory every 250 ms, on schedule whatever the query does. Each file
  * holds the frames created during its 250 ms, stamped with their
  * wall-clock creation time; the generator reports how late it ran. After
  * a warm-up, micro-batches that start inside the measured window count.
  */
object CanStreamBench {

  /** Traffic rate relative to the network's natural ~2,920 frames/s: half of it, ~1,460 frames/s. */
  val RateScale = 0.5
  val ChunkMs = 250L
  /** Generator run-in before the measured window, after the first batch. */
  val WarmS = 2.0
  val CacheMs = 10L

  final case class Batch(id: Long, startMs: Long, durMs: Map[String, Long], inputRows: Long,
      stateRows: Long, frames: Long)

  def run(ctx: Ctx, gnet: Gen.Net, net: Network): Outcome = {
    val spark = ctx.spark
    val dir = ctx.work.resolve("stream")
    val in = dir.resolve("in"); val stage = dir.resolve("stage")
    val out = dir.resolve("out"); val ckpt = dir.resolve("checkpoint")
    Seq(in, stage).foreach(Files.createDirectories(_))
    val totalS = WarmS + ctx.conf.seconds
    val fr = Gen.schedule(gnet, ctx.conf.seed, Seq((0L, ((totalS + 2) * 1e6).toLong)), RateScale)

    val batches = mutable.ArrayBuffer.empty[Batch]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val om = p.observedMetrics
        batches.synchronized {
          batches += Batch(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
            p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, p.numInputRows,
            p.stateOperators.headOption.map(_.numRowsTotal).getOrElse(0L),
            if (om.containsKey(PipelineMetrics.FramesMetric))
              om.get(PipelineMetrics.FramesMetric).getAs[Long]("messages") else 0L)
        }
      }
    }
    spark.streams.addListener(listener)
    if (ctx.conf.trace) {
      ctx.engine.reset()
      spark.sparkContext.addSparkListener(ctx.engine)
      spark.listenerManager.register(ctx.engine)
    }

    // the CLI's composition, verbatim
    val frames = CanStream.framesFromTextFiles(spark, in.toString, Some(16))
    val wide = PipelineMetrics.observeFrames(CanStream.decoded(net, frames))
    val q = ctx.tracer.span("stream.start")(CanStream.parquetSink(
      CanStream.bucketedStream(wide, CacheMs), out.toString, ckpt.toString,
      Trigger.ProcessingTime("1 second"), None))

    // warm-up: one file from ten seconds ago, then wait until its micro-batch
    // commits (the first batch pays plan, codegen and state-store start-up)
    def publish(name: String, lo: Int, hi: Int, anchorMs: Long): Path = {
      val sb = new StringBuilder
      Gen.render(gnet, fr, anchorMs * 1000L, lo, hi) { l => sb ++= l; sb += '\n' }
      val tmp = stage.resolve(name)
      Files.write(tmp, sb.toString.getBytes(UTF_8))
      Files.move(tmp, in.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    }
    val published = mutable.ArrayBuffer.empty[Path]
    published += publish("warmup.log", 0, fr.ts.indexWhere(_ >= ChunkMs * 1000L),
      System.currentTimeMillis() - 10000L)
    ctx.phase("stage")
    val warmDeadline = System.currentTimeMillis() + 90000L
    while (q.isActive && System.currentTimeMillis() < warmDeadline &&
        batches.synchronized(!batches.exists(_.inputRows > 0))) Thread.sleep(20)

    ctx.phase("first_batch")
    // open-loop generator
    val anchorMs = System.currentTimeMillis() + 200L
    val nChunks = (totalS * 1000 / ChunkMs).toInt
    val late = mutable.ArrayBuffer.empty[Long]
    @volatile var stop = false
    val gen = new Thread(() => {
      var k = 0
      var lo = 0
      while (k < nChunks && !stop) {
        val due = anchorMs + (k + 1) * ChunkMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        var hi = lo
        while (hi < fr.size && fr.ts(hi) < (k + 1) * ChunkMs * 1000L) hi += 1
        val dst = publish(f"chunk-$k%05d.log", lo, hi, anchorMs)
        late.synchronized { late += System.currentTimeMillis() - due; published += dst }
        lo = hi
        k += 1
      }
    }, "perfbench-generator")
    gen.setDaemon(true)
    gen.start()
    val winStart = anchorMs + (WarmS * 1000).toLong
    val winEnd = winStart + (ctx.conf.seconds * 1000).toLong
    val streamStart = System.nanoTime()
    while (System.currentTimeMillis() < winEnd && q.isActive) Thread.sleep(20)
    stop = true
    gen.join()
    q.stop()
    val wallS = (System.nanoTime() - streamStart) / 1e9
    ctx.phase("stream")
    spark.streams.removeListener(listener)
    if (ctx.conf.trace) {
      ctx.engine.drain()
      spark.listenerManager.unregister(ctx.engine)
      spark.sparkContext.removeSparkListener(ctx.engine)
    }
    val errors = mutable.ArrayBuffer.empty[String]
    q.exception.foreach(e => errors += s"query failed: ${e.getMessage}")

    // ---- committed output, batch by batch ---------------------------------
    val committed: Map[Long, Seq[String]] = {
      val meta = out.resolve("_spark_metadata")
      if (!Files.isDirectory(meta)) Map.empty
      else Files.list(meta).iterator().asScala.toSeq
        .filter(_.getFileName.toString.forall(_.isDigit))
        .map { f =>
          f.getFileName.toString.toLong -> Files.readAllLines(f, UTF_8).asScala.toSeq
            .filter(_.startsWith("{")).map(l => "\"path\":\"([^\"]+)\"".r.findFirstMatchIn(l).get.group(1))
        }.toMap
    }
    val allBatches = batches.synchronized(batches.toSeq).sortBy(_.id)
    val byId = allBatches.map(b => b.id -> b).toMap
    def endMs(b: Batch) = b.startMs + b.durMs.getOrElse("triggerExecution", 0L)
    val rows = mutable.ArrayBuffer.empty[(Long, org.apache.spark.sql.Row)]
    committed.foreach { case (bid, files) =>
      if (files.nonEmpty) spark.read.parquet(files.map(_.stripPrefix("file:")): _*).collect()
        .foreach(r => rows += (bid -> r))
    }

    // ---- correctness: every committed bucket against the reference --------
    val rnet = Reference.parseDbc(gnet.dbc)
    val rfr = Reference.readFrames(late.synchronized(published.toSeq))
    val ref = Reference.tumbling(rnet, rfr, CacheMs.toDouble, relative = false)
    val schemaCols = rnet.columns
    val badBatches = mutable.Set.empty[Long]
    val seen = mutable.Set.empty[Long]
    rows.foreach { case (bid, r) =>
      val t = r.getAs[Double](DbcColumns.TimeCol)
      val key = Math.floorDiv(t.toLong, CacheMs)
      def fail(msg: String): Unit = { badBatches += bid; errors += s"batch $bid bucket $key: $msg" }
      if (!seen.add(key)) fail("emitted twice")
      ref.get(key) match {
        case None => fail("not in the input")
        case Some((rt, vals, set)) =>
          if (rt != t) fail(s"Time_ms $t != expected $rt")
          schemaCols.indices.find { c =>
            val v = r.get(r.fieldIndex(schemaCols(c)))
            if (!set(c)) v != null
            else v == null || toDouble(v) != vals(c)
          }.foreach(c => fail(s"${schemaCols(c)} differs"))
      }
    }
    // completeness: every input bucket up to the newest emitted one
    var gapFail = 0
    if (seen.nonEmpty) {
      val missing = ref.keysIterator.takeWhile(_ <= seen.max).count(k => !seen.contains(k))
      if (missing > 0) { gapFail = 1; errors += s"$missing buckets missing from the committed output" }
    }
    ctx.phase("check")
    // ---- metrics ---------------------------------------------------------
    val data = allBatches.filter(b => b.inputRows > 0 && b.startMs >= winStart && b.startMs < winEnd)
    if (data.isEmpty) errors += "no micro-batch with data in the measured window"
    val attempted = committed.size + 1
    val failed = badBatches.size + gapFail + (if (q.exception.isDefined || data.isEmpty) 1 else 0)
    val batchS = data.map(_.durMs.getOrElse("triggerExecution", 0L) / 1e3)
    val jobS = medianOf(batchS)
    val committedRows = committed.keys.flatMap(byId.get).map(_.inputRows).sum
    val outBytes = committed.values.flatten.map(p => Files.size(java.nio.file.Paths.get(p.stripPrefix("file:")))).sum
    val e2e = Map(
      "setup_s" -> ctx.setupS,
      "job_s" -> jobS,
      "records_per_s" -> data.map(_.inputRows).sum / math.max(1e-9, batchS.sum),
      "out_bytes_per_record" -> outBytes.toDouble / math.max(1L, committedRows))

    val layer =
      if (!ctx.conf.trace) Map.empty[String, Double]
      else {
        data.foreach(b => ctx.tracer.record("stream.batch", b.startMs, endMs(b)))
        // latency of each committed bucket: commit time - window end
        val lat = rows.flatMap { case (bid, r) =>
          byId.get(bid).filter(b => b.startMs >= winStart && b.startMs < winEnd).map { b =>
            val key = Math.floorDiv(r.getAs[Double](DbcColumns.TimeCol).toLong, CacheMs)
            (endMs(b) - (key + 1) * CacheMs) / 1e3
          }
        }.toSeq
        val newestCommitted = rows.filter(x => byId.get(x._1).exists(b => endMs(b) <= winEnd))
          .map(_._2.getAs[Double](DbcColumns.TimeCol)).maxOption.getOrElse(anchorMs.toDouble)
        val newestDue = anchorMs + ((winEnd - anchorMs) / ChunkMs) * ChunkMs
        def durP50(k: String) = medianOf(data.map(_.durMs.getOrElse(k, 0L).toDouble))
        val stages = ctx.engine.stages
        val lateMs = late.synchronized(late.toSeq).map(_.toDouble)
        Map(
          "dbc.parse_s" -> ctx.dbcS,
          "can.decode.frames_out" -> committed.keys.flatMap(byId.get).map(_.frames).sum.toDouble,
          "can.bucket.rows_out" -> rows.size.toDouble,
          "sink.parquet.bytes" -> outBytes.toDouble,
          "sink.parquet.files" -> committed.values.map(_.size).sum.toDouble,
          "stream.batches" -> data.size.toDouble,
          "stream.batch_s_p50" -> jobS,
          "stream.first_batch_s" -> allBatches.find(_.inputRows > 0)
            .map(_.durMs.getOrElse("triggerExecution", 0L) / 1e3).getOrElse(0.0),
          "stream.addBatch_ms_p50" -> durP50("addBatch"),
          "stream.getBatch_ms_p50" -> durP50("getBatch"),
          "stream.queryPlanning_ms_p50" -> durP50("queryPlanning"),
          "stream.walCommit_ms_p50" -> durP50("walCommit"),
          "stream.commitOffsets_ms_p50" -> durP50("commitOffsets"),
          "stream.stages_per_batch" -> stages.size.toDouble / math.max(1, allBatches.size),
          "stream.state_rows" -> medianOf(data.map(_.stateRows.toDouble)),
          "stream.latency_p50_s" -> medianOf(lat),
          "stream.latency_p95_s" -> percentileOf(lat, 0.95),
          "stream.latency_samples" -> lat.size.toDouble,
          "stream.backlog_s" -> (newestDue - newestCommitted) / 1e3,
          "stream.generator_late_ms_p50" -> medianOf(lateMs),
          "stream.generator_late_ms_max" -> lateMs.maxOption.getOrElse(0.0),
          "engine.jobs" -> ctx.engine.jobs.size.toDouble / math.max(1, allBatches.size),
          "engine.stages" -> stages.size.toDouble / math.max(1, allBatches.size),
          "engine.tasks" -> stages.map(_.tasks).sum.toDouble / math.max(1, allBatches.size),
          "engine.task_s" -> stages.map(_.runMs).sum / 1e3 / math.max(1, allBatches.size),
          "engine.busy_frac" -> stages.map(_.runMs).sum / 1e3 / (wallS * ctx.cores),
          "engine.gc_s" -> stages.map(_.gcMs).sum / 1e3 / math.max(1, allBatches.size),
          "engine.shuffle_write_bytes" -> stages.map(_.shuffleWrite).sum.toDouble / math.max(1, allBatches.size),
          "engine.spill_bytes" -> stages.map(_.spill).sum.toDouble / math.max(1, allBatches.size),
          "engine.build_jobs" -> 0.0,
          "engine.plan_s" -> durP50("queryPlanning") / 1e3,
          // one long query: there is no untraced twin to interleave with
          "trace.job_s_traced" -> jobS)
      }
    Outcome(attempted, failed, errors.toSeq, e2e, layer)
  }

  private def toDouble(v: Any): Double = v match {
    case b: Boolean => if (b) 1.0 else 0.0
    case n: java.lang.Number => n.doubleValue
    case other => throw new IllegalArgumentException(s"unexpected cell $other")
  }
}
