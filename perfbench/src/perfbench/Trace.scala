package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded by the benchmark around its calls into graft's layers:
  * name, start, end and parent, all under one run id. Kept in memory and
  * written as JSONL when the run ends. When disabled, `span` only runs its
  * body. The innermost open span name is also set as a Spark local
  * property, so [[EngineListener]] can attribute jobs to layers.
  */
final class Tracer(val runId: String, val enabled: Boolean, sc: SparkContext) {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String)] = Nil
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, name) :: stack
      sc.setLocalProperty(Tracer.LayerProperty, name)
      val start = System.nanoTime()
      try body
      finally {
        val end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.LayerProperty, stack.headOption.map(_._2).orNull)
        spans += Span(id, parent, name, start, end)
      }
    }

  /** Adds a span measured elsewhere (wall-clock ms), e.g. a micro-batch
    * reported by Spark's streaming progress.
    */
  def record(name: String, startMs: Long, endMs: Long): Unit = if (enabled) {
    val off = System.nanoTime() - System.currentTimeMillis() * 1000000L
    spans += Span(nextId, stack.headOption.map(_._1).getOrElse(-1), name,
      startMs * 1000000L + off, endMs * 1000000L + off)
    nextId += 1
  }

  /** Durations (s) of every closed span with this name, in close order. */
  def durations(name: String): Seq[Double] = spans.filter(_.name == name).map(_.seconds).toSeq

  def writeJsonl(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = spans.sortBy(_.startNs).map { s =>
      Json.obj("run" -> runId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "dur_s" -> s.seconds)
    }
    Files.write(path, (lines.mkString("\n") + "\n").getBytes(UTF_8))
  }
}

object Tracer {
  val LayerProperty = "perfbench.layer"
}

/** Scheduler counters per job and stage, tagged with the layer span open
  * when the job was submitted, plus planning time per executed query.
  * Read only after [[EngineListener.drain]].
  */
final class EngineListener(sc: SparkContext) extends SparkListener with QueryExecutionListener {
  final class StageStats(val id: Int, val layer: String) {
    var tasks = 0; var runMs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    var submitted = 0L; var completed = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
    def seconds: Double = (completed - submitted) / 1e3
    /** Slowest task over the median task. */
    def skew: Double =
      if (taskMs.isEmpty) 1.0
      else {
        val s = taskMs.sorted
        s.last.toDouble / math.max(1L, s(s.size / 2))
      }
  }

  private val jobLayer = mutable.LinkedHashMap.empty[Int, String]
  private val stageLayer = mutable.HashMap.empty[Int, String]
  private val stageStats = mutable.LinkedHashMap.empty[Int, StageStats]
  private var planMs = 0L

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def reset(): Unit = synchronized {
    jobLayer.clear(); stageLayer.clear(); stageStats.clear(); planMs = 0L
  }

  private def layerOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.LayerProperty))).getOrElse("-")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val l = layerOf(e.properties)
    jobLayer(e.jobId) = l
    e.stageIds.foreach(s => if (!stageLayer.contains(s)) stageLayer(s) = l)
  }

  private def stats(id: Int): StageStats =
    stageStats.getOrElseUpdate(id, new StageStats(id, stageLayer.getOrElse(id, "-")))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stats(e.stageInfo.stageId).submitted = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stats(e.stageInfo.stageId).completed = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stats(e.stageId)
    s.tasks += 1
    s.taskMs += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      s.runMs += m.executorRunTime; s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { planMs += qe.tracker.phases.values.map(_.durationMs).sum }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def jobs: Seq[(Int, String)] = synchronized(jobLayer.toSeq)
  def stages: Seq[StageStats] = synchronized(stageStats.values.filter(_.tasks > 0).toSeq)
  def planSeconds: Double = synchronized(planMs / 1e3)
}

/** Minimal JSON writer for the benchmark's result and trace files. */
object Json {
  def obj(kv: (String, Any)*): String = kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= "\\u%04x".format(c.toInt)
      case c => sb += c
    }
    (sb += '"').toString
  }
}
