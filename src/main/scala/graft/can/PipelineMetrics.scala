package graft.can

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** T7 running counters (reference `messages`/`rows`,
  * `/root/reference/src/main.cpp:116-119`, `:150`; decoder `msg_count`,
  * `/root/reference/src/decoder.h:31`; progress print every N packets,
  * `/root/reference/src/main.cpp.bak:408-411`).
  *
  * Spark-first shape: the reference threads mutable counters through its
  * decode loop; here the counters are *observed metrics* on the plan
  * (`Dataset.observe`) — aggregated by the engine alongside the real
  * computation with zero extra passes, delivered to a listener on
  * completion (batch: [[QueryExecutionListener]]) or per micro-batch
  * (streaming: `StreamingQueryProgress.observedMetrics`). No driver-side
  * row iteration, no accumulator drift on task retries (observe dedups).
  */
object PipelineMetrics {

  val FramesMetric = "graft_frames"
  val RowsMetric = "graft_rows"
  /** Frames counted by a pass that may be dropped, so [[Progress]]
    * ignores the count; [[passOnFrames]] re-delivers it from a pass that
    * is kept.
    */
  private[graft] val PendingFramesMetric = "graft_frames_pending"

  /** Frame counter kept only for the benchmark's traced exact job
    * (`perfbench/src/perfbench/CanBatch.scala`), which passes one to
    * [[Bucketer.exactDistributed]]'s `frameCounter`: that pass 1 adds the
    * decoded (known-id) frame count once, from its collected summaries, and
    * [[Progress.packets]] folds it in. The pipeline itself observes
    * parsed frames with [[observeFrames]] on every path. One registered
    * counter per SESSION (weak-keyed, so a dropped session frees it); a
    * new one in the same session replaces it.
    */
  private val exactFramesAccs = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
      org.apache.spark.util.LongAccumulator]())

  /** Fresh accumulator for an exact-pipeline run, registered per session
    * for [[Progress]] to read.
    */
  def newExactFramesCounter(
      spark: org.apache.spark.sql.SparkSession): org.apache.spark.util.LongAccumulator = {
    val acc = spark.sparkContext.longAccumulator(FramesMetric + "_exact")
    exactFramesAccs.put(spark, acc)
    acc
  }

  private[graft] def exactFramesValue(
      spark: org.apache.spark.sql.SparkSession): Long =
    Option(exactFramesAccs.get(spark)).map(_.value.longValue).getOrElse(0L)

  /** Count parsed frames (the reference's `messages`) as they flow by. */
  def observeFrames(frames: DataFrame): DataFrame =
    frames.observe(FramesMetric, count(lit(1)).as("messages"))

  /** [[observeFrames]] under [[PendingFramesMetric]]. */
  private[graft] def observePendingFrames(frames: DataFrame): DataFrame =
    frames.observe(PendingFramesMetric, count(lit(1)).as("messages"))

  /** `df` delivering, as its frames counter, the count that
    * [[observePendingFrames]] took in `counted`'s execution (`counted` has
    * run); `df` itself if `counted` counted nothing.
    */
  private[graft] def passOnFrames(df: DataFrame, counted: DataFrame): DataFrame =
    counted.queryExecution.observedMetrics.get(PendingFramesMetric) match {
      case Some(r) =>
        val n = r.getAs[Long]("messages")
        // a literal, so every execution of `df` reports it, even over no rows
        df.observe(FramesMetric, coalesce(max(lit(n)), lit(n)).as("messages"))
      case None => df
    }

  /** Count emitted wide rows (the reference's `rows`). */
  def observeRows(wide: DataFrame): DataFrame =
    wide.observe(RowsMetric, count(lit(1)).as("rows"))

  /** Batch listener: accumulates totals and prints the reference-style
    * progress line after each action that delivers the rows counter, so
    * once per write. An execution that delivers only the frames counter
    * (the pass 1 of a range scan) adds to the packet total silently.
    *
    * `sessionHint` scopes the [[newExactFramesCounter]] lookup from
    * construction onwards; without it the scope is learned from the first
    * listener callback. Kept only for the benchmark, which passes it.
    */
  final class Progress(quiet: Boolean = false,
      sessionHint: Option[org.apache.spark.sql.SparkSession] = None)
      extends QueryExecutionListener {
    val messages = new AtomicLong(0)
    val rows = new AtomicLong(0)

    /** True once a frames counter has been observed, so the progress
      * line only claims a packet count when one was actually measured (a
      * plan may observe rows only). Volatile: listener callbacks may
      * arrive on a different listener-bus thread than the reader.
      */
    @volatile private var sawFrames = false

    /** The session scoping the [[newExactFramesCounter]] lookup: the
      * construction hint, else learned from the first callback.
      */
    @volatile private var session: Option[org.apache.spark.sql.SparkSession] = sessionHint

    /** Total packet count: observed-metric totals plus this session's
      * [[PipelineMetrics.newExactFramesCounter]], if any.
      */
    def packets: Long = messages.get() +
      session.map(PipelineMetrics.exactFramesValue).getOrElse(0L)

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      if (session.isEmpty) session = Some(qe.sparkSession)
      qe.observedMetrics.get(FramesMetric).foreach { r =>
        sawFrames = true
        messages.addAndGet(r.getAs[Long]("messages"))
      }
      val wrote = qe.observedMetrics.get(RowsMetric)
      wrote.foreach(r => rows.addAndGet(r.getAs[Long]("rows")))
      if (!quiet && wrote.isDefined) {
        val pk = packets
        val recv = if (sawFrames || pk > 0) s"Received $pk packets, " else ""
        println(s"${recv}wrote ${rows.get()} rows")
      }
    }

    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Streaming listener: same totals from each micro-batch's progress. */
  final class StreamingProgress(quiet: Boolean = false) extends StreamingQueryListener {
    val messages = new AtomicLong(0)
    val rows = new AtomicLong(0)

    override def onQueryStarted(event: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(event: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(event: StreamingQueryListener.QueryProgressEvent): Unit = {
      val om = event.progress.observedMetrics
      if (om.containsKey(FramesMetric))
        messages.addAndGet(om.get(FramesMetric).getAs[Long]("messages"))
      if (om.containsKey(RowsMetric))
        rows.addAndGet(om.get(RowsMetric).getAs[Long]("rows"))
      if (!quiet && !om.isEmpty)
        println(s"Received ${messages.get()} packets, wrote ${rows.get()} rows")
    }
  }
}
