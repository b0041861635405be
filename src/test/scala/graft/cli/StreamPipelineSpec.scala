package graft.cli

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.can._
import graft.dbc.DbcParser
import graft.streaming.CanStream

/** The streaming modes' composition, [[CanPipeline.fromStream]] and the
  * CLI's [[Main.streamFrames]], run in-process over `fixtures/mini.log` as
  * a `--stream-file` directory and drained with `Trigger.AvailableNow`.
  * mini.log has 7 parsed frames, 6 of them with an id in mini.dbc.
  */
class StreamPipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private lazy val net = DbcParser.parseFile("fixtures/mini.dbc")

  /** mini.dbc plus 40 four-signal messages that mini.log never sends: wider
    * than [[Bucketer.CodegenArgWidthLimit]], so tumbling buckets take the
    * frame-level plan.
    */
  private lazy val wideNet = {
    val fillers = (0 until 40).map { m =>
      s"""BO_ ${1536 + m} FILL$m: 8 ECU
         | SG_ F${m}_A : 0|16@1+ (0.5,-100) [0|0] "" TESTER
         | SG_ F${m}_B : 16|8@1- (1,0) [0|0] "" TESTER
         | SG_ F${m}_C : 24|1@1+ (1,0) [0|0] "" TESTER
         | SG_ F${m}_D : 39|12@0+ (1,0) [0|0] "" TESTER
         |""".stripMargin
    }
    val text = scala.io.Source.fromFile("fixtures/mini.dbc").mkString
    val n = DbcParser.parseString(text + "\n" + fillers.mkString("\n"))
    assert(n.signalsInOrder.size > Bucketer.CodegenArgWidthLimit)
    n
  }

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** A directory holding a copy of mini.log. */
  private lazy val logDir: String = {
    val d = tmp("graft_spipe_in")
    java.nio.file.Files.copy(java.nio.file.Paths.get("fixtures/mini.log"),
      java.nio.file.Paths.get(s"$d/mini.log"))
    d
  }

  private def frames: DataFrame = CanStream.framesFromTextFiles(spark, logDir)

  /** Drains `df` into a Parquet sink of its own and reads the sink back. */
  private def drain(df: DataFrame): DataFrame = {
    val out = tmp("graft_spipe_out")
    val q = CanStream.parquetSink(df, s"$out/data", s"$out/ckpt",
      Trigger.AvailableNow())
    assert(q.awaitTermination(120000), "stream did not drain")
    q.exception.foreach(e => throw e)
    spark.read.parquet(s"$out/data")
  }

  /** Waits up to 15 s for `cond` (listener events arrive asynchronously),
    * then half a second more, for a late duplicate delivery to land.
    */
  private def settle(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + 15000L * 1000000
    while (!cond && System.nanoTime() < deadline) Thread.sleep(50)
    Thread.sleep(500)
  }

  /** `body` with a quiet [[PipelineMetrics.StreamingProgress]] listening. */
  private def withProgress(body: PipelineMetrics.StreamingProgress => Unit): Unit = {
    val progress = new PipelineMetrics.StreamingProgress(quiet = true)
    spark.streams.addListener(progress)
    try body(progress)
    finally spark.streams.removeListener(progress)
  }

  test("per-frame streaming (--cache 0) writes Time_ms, as --file does, " +
      "and no ts_ms or ts") {
    val out = drain(CanPipeline.fromStream(net, frames, CanPipelineConfig()))
    assert(out.count() == 6)
    assert(out.columns.head == DbcColumns.TimeCol)
    assert(!out.columns.contains("ts_ms") && !out.columns.contains("ts"),
      out.columns.mkString(","))
  }

  test("streaming --exact --cache 10 --forward-fill carries values across " +
      "rows like the batch exact fold, keyless and keyed") {
    val batchWide = SignalDecoder.wideFrame(net,
      CandumpParser.readLog(spark, "fixtures/mini.log", adjustTimestamp = false),
      carryCols = Seq("iface"))
    for (keys <- Seq(Nil, Seq("iface"))) {
      val cfg = CanPipelineConfig(cacheMs = 10.0, exact = true,
        exactKeys = keys, forwardFill = true)
      val streamed = drain(CanPipeline.fromStream(net, frames, cfg))
      val names = streamed.columns.toSeq
      def rows(df: DataFrame): Seq[Row] =
        df.select(names.map(col): _*).collect().toSeq
          .sortBy(_.getAs[Double](DbcColumns.TimeCol))
      // the stream emits a bucket once a later frame closes it: every
      // batch row but the last (mini.log has one key)
      val batch = rows(Bucketer.exactFold(
        if (keys.isEmpty) batchWide.drop("iface") else batchWide,
        10.0, keys, CombinePolicy.LastWins, forwardFill = true))
      val got = rows(streamed)
      assert(got == batch.init, s"keys $keys:\n${got.mkString("\n")}")
      // the bucket at ts 12 carries only the MUXED frames; the fill
      // brings ENGINE's value forward from the bucket at ts 0
      assert(got(1).getAs[Float]("Engine_Speed") == 2000.0f, s"keys $keys")
    }
  }

  test("streaming progress counts parsed frames as packets, and the rows " +
      "written, on every bucket plan") {
    val tumbling = CanPipelineConfig(cacheMs = 10.0, observeMetrics = true)
    for ((n0, cfg) <- Seq(net -> CanPipelineConfig(observeMetrics = true),
        net -> tumbling.copy(exact = true),
        net -> tumbling,      // Aggregate: bucketedStream
        wideNet -> tumbling)) // FrameLevel: bucketedStreamFromFrames
      withProgress { progress =>
        val out = drain(CanPipeline.fromStream(n0, frames, cfg))
        assert(out.columns.head == DbcColumns.TimeCol &&
          !out.columns.contains("ts"), out.columns.mkString(","))
        val n = out.count()
        assert(n > 0)
        settle(progress.rows.get() == n && progress.messages.get() == 7)
        assert((progress.messages.get(), progress.rows.get()) == ((7L, n)),
          s"${n0.signalsInOrder.size} signals, $cfg")
      }
  }

  test("side sinks re-run the plan without adding to the progress counts") {
    val cfg = CanPipelineConfig(observeMetrics = true)
    withProgress { progress =>
      val (primary, side) = Main.streamFrames(net, frames, cfg)
      val n = drain(primary).count()
      assert(drain(side).count() == n)
      settle(progress.rows.get() == n && progress.messages.get() == 7)
      assert((progress.messages.get(), progress.rows.get()) == ((7L, n)))
    }
  }

  test("streaming forward fill without exact buckets is refused") {
    for (cfg <- Seq(CanPipelineConfig(forwardFill = true),
        CanPipelineConfig(cacheMs = 10.0, forwardFill = true),
        CanPipelineConfig(exact = true, forwardFill = true)))
      intercept[IllegalArgumentException](
        CanPipeline.fromStream(net, frames, cfg))
  }
}
