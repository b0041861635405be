package graft.can

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkTestSession
import graft.dbc.DbcParser
import graft.streaming.CanStream

/** T7 dedicated spec: the observed frame/row counters must equal the known
  * fixture counts, not merely be wired. mini.log has 7 parseable candump
  * lines (1 blank + 1 garbage line dropped by the parse gate); of those,
  * id 7FF is not in mini.dbc, so the wide table has 6 rows.
  */
class PipelineMetricsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** QueryExecutionListener delivery is asynchronous (listener-bus); poll
    * until the expectation holds or a deadline passes, then assert.
    */
  private def eventually(timeoutMs: Long = 15000)(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000
    while (!cond && System.nanoTime() < deadline) Thread.sleep(50)
    assert(cond)
  }

  test("T7 batch: Progress listener observes 7 frames and 6 wide rows") {
    val progress = new PipelineMetrics.Progress(quiet = true)
    spark.listenerManager.register(progress)
    try {
      val cfg = CanPipelineConfig(observeMetrics = true)
      val wide = CanPipeline.decodeLog(spark, "fixtures/mini.dbc", "fixtures/mini.log", cfg)
      assert(wide.count() == 6)
      eventually() {
        progress.messages.get() == 7 && progress.rows.get() == 6
      }
      // a second action over the same observed plan accumulates totals
      // (the reference's running counters grow across writes)
      assert(wide.count() == 6)
      eventually() {
        progress.messages.get() == 14 && progress.rows.get() == 12
      }
    } finally spark.listenerManager.unregister(progress)
  }

  test("T7 exact keyless: frames counted via accumulator (RDD passes bypass " +
      "observe) — the 'Received 0 packets' wart") {
    // the CLI's shape: session hint at construction, so packets is
    // readable as soon as the exact pipeline has filled its accumulator —
    // no listener callback needed first
    val progress = new PipelineMetrics.Progress(quiet = true, sessionHint = Some(spark))
    spark.listenerManager.register(progress)
    try {
      val cfg = CanPipelineConfig(cacheMs = 10.0, exact = true, observeMetrics = true)
      // exactDistributed runs its segment passes eagerly at construction;
      // the accumulator holds the 6 decoded (known-id) frames already here
      val wide = CanPipeline.decodeLog(spark, "fixtures/mini.dbc", "fixtures/mini.log", cfg)
      assert(progress.packets == 6,
        s"exact-path frame counter: got ${progress.packets}, want 6")
      assert(wide.count() == 3) // exact buckets open at +0, +12, +50
      // the progress line now claims a packet count on the exact path too
      eventually() { progress.rows.get() == 3 && progress.packets == 6 }
    } finally spark.listenerManager.unregister(progress)
  }

  test("T7 forward fill, tumbling, per-frame and exact: one write reports " +
      "every packet and row exactly once") {
    // the fill runs its summary job at decodeLog time and leaves a lazy
    // frame, so the frames counter and the rows counter arrive with
    // different jobs; each must still be counted once
    val progress = new PipelineMetrics.Progress(quiet = true, sessionHint = Some(spark))
    spark.listenerManager.register(progress)
    val out = java.nio.file.Files.createTempDirectory("graft_t7_ffill").toString
    try {
      // (observed packets, exact-path packets, rows, rows written) per run
      def run(name: String, cfg: CanPipelineConfig): (Long, Long, Long, Long) = {
        val (m0, r0) = (progress.messages.get(), progress.rows.get())
        val wide = CanPipeline.decodeLog(spark, "fixtures/mini.dbc", "fixtures/mini.log", cfg)
        wide.write.parquet(s"$out/$name")
        wide.unpersist()
        val written = spark.read.parquet(s"$out/$name").count()
        eventually() { progress.rows.get() - r0 == written }
        Thread.sleep(500) // a late duplicate delivery would land here
        (progress.messages.get() - m0, progress.packets - progress.messages.get(),
          progress.rows.get() - r0, written)
      }
      // tumbling: the 7 parsed frames are observed once, rows = 3 buckets
      val (observed, _, rows, written) = run("tumble", CanPipelineConfig(
        cacheMs = 10.0, forwardFill = true, observeMetrics = true))
      assert((observed, rows, written) == ((7L, 3L, 3L)))
      // per-frame fill: the fill's input is the observed frames plan
      // itself, evaluated once although it is range-partitioned
      val (perFrame, _, frameRows, frameWritten) = run("perframe",
        CanPipelineConfig(forwardFill = true, observeMetrics = true))
      assert((perFrame, frameRows, frameWritten) == ((7L, 6L, 6L)))
      // exact keyless counts decoded frames (the 6 known-id ones) through
      // its own accumulator — PipelineMetrics.newExactFramesCounter
      assert(run("exact", CanPipelineConfig(cacheMs = 10.0, exact = true,
        forwardFill = true, observeMetrics = true)) == ((0L, 6L, 3L, 3L)))
    } finally spark.listenerManager.unregister(progress)
  }

  test("T7 streaming: StreamingProgress accumulates per-micro-batch counts") {
    val net = DbcParser.parseFile("fixtures/mini.dbc")
    val progress = new PipelineMetrics.StreamingProgress(quiet = true)
    spark.streams.addListener(progress)
    try {
      val input = MemoryStream[String](spark)
      val lines = scala.io.Source.fromFile("fixtures/mini.log").getLines().toSeq
      val frames = PipelineMetrics.observeFrames(
        CandumpParser.parseLines(input.toDF()))
      val wide = PipelineMetrics.observeRows(
        CanStream.decoded(net, frames).drop("ts"))
      val q = wide.writeStream.format("memory").queryName("t7s")
        .outputMode("append").start()
      input.addData(lines.take(5)) // 5 parseable, all known ids
      q.processAllAvailable()
      input.addData(lines.drop(5)) // 2 parseable, one unknown id (7FF)
      q.processAllAvailable()
      q.stop()
      assert(spark.table("t7s").count() == 6)
      eventually() {
        progress.messages.get() == 7 && progress.rows.get() == 6
      }
    } finally spark.streams.removeListener(progress)
  }
}
