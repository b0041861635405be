package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run inside a fresh JVM.
  *
  * {{{
  * perfbench.Main <workload> <seed> <seconds> <trace 0|1> <work dir> <result.json> <cores>
  * perfbench.Main selftest <work dir> <fixtures dir>
  * }}}
  *
  * `run.py` is the entry point; it builds, runs this class and prints the
  * result line.
  */
object Main {

  /** Every workload the harness knows; BENCHMARK.json names the ones the
    * benchmark runs (see README.md for the two kept outside it).
    */
  val Workloads = Seq("can_tumble_ffill_wide", "can_stream_wide", "dedup_neardup",
    "can_exact_ffill_wide")

  final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, result: Path, cores: Int)

  /** What one workload reports: jobs attempted and failed (error rate),
    * end-to-end metrics (untraced runs) and per-layer metrics (traced runs).
    */
  final case class Outcome(attempted: Int, failed: Int, errors: Seq[String],
      e2e: Map[String, Double], layer: Map[String, Double])

  /** Everything a workload needs from the harness. */
  final class Ctx(val conf: Conf, val spark: SparkSession, val tracer: Tracer,
      val setupS: Double, val dbcS: Double) {
    def work: Path = conf.work
    def cores: Int = conf.cores

    /** Wall-clock seconds of each harness phase (staging, loop, check...). */
    val phases = mutable.LinkedHashMap.empty[String, Double]
    private var last = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases(name) = (now - last) / 1e9
      last = now
    }

    /** Scheduler/planning counters for traced jobs (registered per job). */
    val engine = new EngineListener(spark.sparkContext)

    /** Runs `body` with the engine listener attached and returns its
      * counters for that body alone.
      */
    def observed[T](body: => T): (T, EngineSnapshot) = {
      engine.reset()
      spark.sparkContext.addSparkListener(engine)
      spark.listenerManager.register(engine)
      val t0 = System.nanoTime()
      try {
        val r = body
        val wall = (System.nanoTime() - t0) / 1e9
        engine.drain()
        (r, EngineSnapshot(wall, engine.jobs, engine.stages, engine.planSeconds))
      } finally {
        spark.listenerManager.unregister(engine)
        spark.sparkContext.removeSparkListener(engine)
      }
    }
  }

  final case class EngineSnapshot(wall: Double, jobs: Seq[(Int, String)],
      stages: Seq[EngineListener#StageStats], planS: Double) {
    def taskS: Double = stages.map(_.runMs).sum / 1e3
    def inLayer(l: String): Seq[EngineListener#StageStats] = stages.filter(_.layer == l)
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "selftest" :: work :: fixtures :: Nil =>
      sys.exit(SelfTest.run(Paths.get(work), Paths.get(fixtures)))
    case List(w, seed, seconds, trace, work, result, cores) =>
      require(Workloads.contains(w), s"unknown workload $w")
      run(Conf(w, seed.toLong, seconds.toDouble, trace == "1", Paths.get(work),
        Paths.get(result), cores.toInt))
    case _ =>
      System.err.println("usage: perfbench.Main <workload> <seed> <seconds> <trace> <work> <result> <cores>")
      sys.exit(2)
  }

  /** The session every graft CLI run builds (`graft.cli.Main`): graft's
    * static and runtime tuning, local mode, shuffle partitions = cores.
    * Spark's scratch space stays under the benchmark's work directory.
    */
  def session(cores: Int, work: Path): SparkSession = {
    val spark = graft.GraftSession.staticTuning(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-can")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString))
      .getOrCreate()
    graft.GraftSession.tune(spark)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Set-up as every CLI run pays it, cold: session build plus DBC parse.
    * Returns (session, network, set-up seconds, DBC-parse seconds).
    */
  def setup(cores: Int, work: Path, dbc: Option[Path])
      : (SparkSession, Option[graft.dbc.Network], Double, Double) = {
    val t0 = System.nanoTime()
    val spark = session(cores, work)
    val t1 = System.nanoTime()
    val net = dbc.map(p => graft.dbc.DbcParser.parseFile(p.toString))
    val t2 = System.nanoTime()
    (spark, net, (t2 - t0) / 1e9, (t2 - t1) / 1e9)
  }

  def run(c: Conf): Unit = {
    Files.createDirectories(c.work)
    val can = c.workload.startsWith("can_")
    // the DBC is staged before set-up (it is an input); all other inputs after
    val gnet = if (can) Some(Gen.network(c.seed)) else None
    val dbcPath = c.work.resolve("in").resolve("net.dbc")
    gnet.foreach { g =>
      Files.createDirectories(dbcPath.getParent)
      Files.write(dbcPath, g.dbc.getBytes(UTF_8))
    }
    val (spark, net, setupS, dbcS) = setup(c.cores, c.work, gnet.map(_ => dbcPath))
    val runId = s"${c.workload}-${c.seed}-${System.currentTimeMillis()}"
    val ctx = new Ctx(c, spark, new Tracer(runId, c.trace, spark.sparkContext), setupS, dbcS)
    val t0 = System.nanoTime()
    val out =
      try c.workload match {
        case "can_tumble_ffill_wide" => CanBatch.run(ctx, gnet.get, net.get, dbcPath, exact = false)
        case "can_exact_ffill_wide" => CanBatch.run(ctx, gnet.get, net.get, dbcPath, exact = true)
        case "can_stream_wide" => CanStreamBench.run(ctx, gnet.get, net.get)
        case "dedup_neardup" => DedupBench.run(ctx)
      } catch {
        case NonFatal(e) =>
          e.printStackTrace()
          Outcome(1, 1, Seq(s"workload aborted: $e"), Map.empty, Map.empty)
      }
    if (c.trace) ctx.tracer.writeJsonl(c.work.resolve("trace").resolve(runId + ".jsonl"))
    val workloadS = (System.nanoTime() - t0) / 1e9
    val calib = calibration()
    val result = Json.obj(
      "workload" -> c.workload, "seed" -> c.seed, "trace" -> c.trace,
      "attempted" -> out.attempted, "failed" -> out.failed,
      "errors" -> out.errors.take(20),
      "setup_s" -> setupS, "dbc_parse_s" -> dbcS, "workload_wall_s" -> workloadS,
      "peak_rss_mb" -> peakRssMb(),
      "e2e" -> out.e2e,
      "per_layer" -> (if (c.trace) out.layer + ("engine.peak_rss_mb" -> peakRssMb()) else out.layer),
      "phases_s" -> ctx.phases,
      "host" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "cores_used" -> c.cores,
        "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
        "xmx_mb" -> Runtime.getRuntime.maxMemory() / (1L << 20),
        "spark" -> spark.version,
        "calibration_s" -> calib),
      "trace_file" -> (if (c.trace) c.work.resolve("trace").resolve(runId + ".jsonl").toString else null))
    Files.createDirectories(c.result.getParent)
    Files.write(c.result, result.getBytes(UTF_8))
    spark.stop()
  }

  /** Peak resident set of this JVM (VmHWM), MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** Fixed CPU work (an integer hash loop), best of three, in seconds:
    * lets A/B runs on one host show host drift as data.
    */
  def calibration(): Double = {
    var best = Double.MaxValue
    var sink = 0L
    (0 until 3).foreach { _ =>
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      sink += x
      best = math.min(best, (System.nanoTime() - t0) / 1e9)
    }
    if (sink == 42L) println("")
    best
  }

  // ---- shared helpers ---------------------------------------------------------

  def medianOf(xs: Seq[Double]): Double = {
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
  }

  /** Nearest-rank percentile. */
  def percentileOf(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs a plan to completion without writing anything. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Total size and count of the Parquet part files under `dir`. */
  def parquetFiles(dir: Path): (Long, Int) = {
    if (!Files.isDirectory(dir)) (0L, 0)
    else {
      val fs = mutable.ArrayBuffer.empty[Long]
      Files.walk(dir).forEach { p =>
        val n = p.getFileName.toString
        if (n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")) fs += Files.size(p)
      }
      (fs.sum, fs.size)
    }
  }

  final case class JobRun(i: Int, traced: Boolean, seconds: Double,
      error: Option[String], engine: Option[EngineSnapshot])

  /** Measured jobs per batch run; `job_s` is their median. */
  val MinJobs = 3

  /** Batch measurement loop. `warmUp` runs first, untimed as a job but
    * returned as the cold time: it pays JIT warm-up and code generation, as
    * the one job of every CLI run does. Then jobs run until `seconds` have
    * passed and at least [[MinJobs]] ran. Traced runs alternate traced and
    * untraced jobs (at least two of each), so the tracing overhead is
    * measured on the same host in the same minute. `job(i, traced)` runs
    * job i; a job that throws is recorded as failed.
    */
  def loop(ctx: Ctx, warmUp: () => Unit, job: (Int, Boolean) => Unit): (Double, Seq[JobRun]) = {
    val (_, coldS) = seconds(warmUp())
    val runs = mutable.ArrayBuffer.empty[JobRun]
    val minJobs = if (ctx.conf.trace) math.max(4, MinJobs) else MinJobs
    val t0 = System.nanoTime()
    var i = 0
    while (runs.size < minJobs || System.nanoTime() - t0 < ctx.conf.seconds * 1e9) {
      val traced = ctx.conf.trace && i % 2 == 0
      val start = System.nanoTime()
      val (err, snap) =
        try {
          if (traced) { val (_, s) = ctx.observed(job(i, true)); (None, Some(s)) }
          else { job(i, false); (None, None) }
        } catch { case NonFatal(e) => e.printStackTrace(); (Some(s"job $i: $e"), None) }
      runs += JobRun(i, traced, (System.nanoTime() - start) / 1e9, err, snap)
      i += 1
    }
    (coldS, runs.toSeq)
  }

  /** Engine metrics, medians over traced jobs. `sinkLayer` names the span
    * of the final write; jobs outside it ran during pipeline construction.
    */
  def engineMetrics(ctx: Ctx, snaps: Seq[EngineSnapshot], sinkLayer: String): Map[String, Double] = {
    def med(f: EngineSnapshot => Double) = medianOf(snaps.map(f))
    Map(
      "engine.jobs" -> med(_.jobs.size.toDouble),
      "engine.stages" -> med(_.stages.size.toDouble),
      "engine.tasks" -> med(_.stages.map(_.tasks).sum.toDouble),
      "engine.task_s" -> med(_.taskS),
      "engine.busy_frac" -> med(s => s.taskS / (s.wall * ctx.cores)),
      "engine.gc_s" -> med(_.stages.map(_.gcMs).sum / 1e3),
      "engine.shuffle_write_bytes" -> med(_.stages.map(_.shuffleWrite).sum.toDouble),
      "engine.spill_bytes" -> med(_.stages.map(_.spill).sum.toDouble),
      "engine.build_jobs" -> med(_.jobs.count(_._2 != sinkLayer).toDouble),
      "engine.plan_s" -> med(_.planS))
  }

  /** Job time, traced and untraced, over the interleaved jobs; their
    * difference is the tracing overhead.
    */
  def overhead(runs: Seq[JobRun]): Map[String, Double] = {
    val ok = runs.filter(_.error.isEmpty)
    val t = medianOf(ok.filter(_.traced).map(_.seconds))
    val u = medianOf(ok.filterNot(_.traced).map(_.seconds))
    Map("trace.job_s_traced" -> t, "trace.job_s_untraced" -> u, "trace.overhead_s" -> (t - u))
  }
}
