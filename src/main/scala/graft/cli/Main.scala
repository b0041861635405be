package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import graft.can._
import graft.dbc.DbcParser
import graft.streaming.CanStream

/** Flag-compatible CLI entry (reference `/root/reference/src/arguments.h:12`,
  * README.md:27):
  *
  * {{{
  * graft.cli.Main <dbc> --if <input> --of <out.parquet> \
  *   [--file | --socket | --stdin] [--cache <ms>] [--exact] \
  *   [--forward-fill] [--live-decode SIG]... [--no-adjust-timestamp]
  * }}}
  *
  * Fixes the reference's ignored-DBC-positional bug (its arg parser starts
  * at index 2 and never reads argv[1], `src/arguments.h:46` — the cwd's
  * `fs.dbc` was always used); here argv(0) is honored. `--socket` takes
  * `host:port` of a candump text stream (the reference's own remote-capture
  * shape); `--stdin` reads candump lines from the process's standard input
  * until EOF (`cat log | graft.cli.Main <dbc> --stdin ...`), batch
  * semantics like the reference's stdinInput. `--exact` selects
  * reference-exact data-driven bucketing; default is the scalable tumbling
  * grid (divergence documented in SURVEY §2.4 T1).
  *
  * S2 native PF_CAN capture: this sandboxless JVM cannot bind
  * `AF_CAN/SOCK_RAW`, so live capture uses the reference's own documented
  * remote-capture bridge (`/root/reference/README.md:52-55`) — on the host
  * with the CAN interface run `candump -L can0 | nc -l <port>` (or
  * `candump -L can0 > /dev/tcp/<host>/<port>`), then here
  * `--if <host>:<port> --socket`. The line format is identical to `--file`
  * replay, so the whole decode surface is exercised either way.
  *
  * Every mode builds its output from one [[graft.can.CanPipelineConfig]]
  * through [[graft.can.CanPipeline]]; the streaming modes (`--socket`,
  * `--process`, `--stream-file`) through `CanPipeline.fromStream`. They
  * take `--forward-fill` only with `--exact --cache > 0` and a fractional
  * `--cache` only with `--exact`, keep absolute timestamps (a stream's t0
  * is unknown) and, as batch, count parsed frames as packets.
  */
object Main {
  def main(args: Array[String]): Unit = {
    if (args.length < 1) { System.err.println(usage); sys.exit(2) }
    val dbc = args(0)
    var in = ""; var out = "out.parquet"; var mode = "file"
    var cacheMs = 0.0; var exact = false; var ffill = false; var adjust = true
    var live: List[String] = Nil
    // bounded by default: a backlogged bridge (candump replay of hours)
    // must not land in a single micro-batch — especially under --exact,
    // whose keyless state funnels each batch through one task. 60k lines
    // ≈ one minute of a 1 kHz bus per trigger. 0 = unbounded.
    var maxLinesPerTrigger = 60000L
    // same admission philosophy for directory replays: a backlog of log
    // files must not enter one micro-batch. 0 = unbounded.
    var maxFilesPerTrigger = 16
    // None = not passed: leave any spark-submit --conf provider untouched
    var stateBackend: Option[CanStream.StateBackend] = None
    // exact bucketing partition key (e.g. iface): keyed state folds run
    // independently per key and scale with the cluster, vs the keyless
    // form's single sequential fold (the reference's global semantics)
    var bucketKey: Option[String] = None
    // vendor DBCs often carry orphaned SIG_VALTYPE_/SG_MUL_VAL_ lines for
    // messages outside the parsed subset; lenient downgrades those to
    // warnings (mistyped declarations still fail — see DbcParser.parse)
    var lenientDbc = false
    // stateful streaming state-store partition count — frozen into the
    // checkpoint at first start; size to key cardinality × rate, not core
    // count (CanStream.withStatePartitions). None = session default.
    var statePartitions: Option[Int] = None
    // K4 revival (the reference's deleted Influx upload,
    // /root/reference/src/main.cpp.bak:119-130): measurement = table,
    // srcfile tag, token auth. Active when --influx-host is set, same
    // gate shape as the reference's host.size() > 2.
    var influxHost = ""; var influxToken = ""
    var influxTable = "fs23migrated" // reference default, arguments.h:27
    // K2 (the reference's Arrow-IPC-over-WebSocket side channel,
    // /root/reference/src/main.cpp:160-176): active when --ws-host is
    // set. Default contract = chunk-per-message from the driver (the
    // reference's); --ws-distributed switches to partition-per-message
    // serialized on the executors (no driver funnel; the consumer must
    // accept concurrent connections).
    var wsHost = ""; var wsDistributed = false
    var i = 1
    // uniform flag-error contract (the r18 --ws-host rule, applied to the
    // whole surface): a flag missing its value or carrying a non-numeric
    // one exits 2 through usage, never a raw ArrayIndexOutOfBounds /
    // NumberFormat stack trace
    try {
    while (i < args.length) {
      args(i) match {
        case "--if" => in = args(i + 1); i += 2
        case "--of" => out = args(i + 1); i += 2
        case "--file" => mode = "file"; i += 1
        case "--socket" => mode = "socket"; i += 1
        case "--process" => mode = "process"; i += 1 // S2 bridge: --if is the command
        case "--stdin" => mode = "stdin"; i += 1
        case "--stream-file" => mode = "stream-file"; i += 1 // S1 as a live directory watch
        case "--cache" => cacheMs = args(i + 1).toDouble; i += 2
        case "--exact" => exact = true; i += 1
        case "--forward-fill" => ffill = true; i += 1
        case "--live-decode" => live ::= args(i + 1); i += 2
        case "--no-adjust-timestamp" => adjust = false; i += 1
        case "--bucket-key" => bucketKey = Some(args(i + 1)); i += 2
        case "--lenient-dbc" => lenientDbc = true; i += 1
        case "--max-lines-per-trigger" => maxLinesPerTrigger = args(i + 1).toLong; i += 2
        case "--state-partitions" => statePartitions = Some(args(i + 1).toInt); i += 2
        case "--max-files-per-trigger" => maxFilesPerTrigger = args(i + 1).toInt; i += 2
        case "--ws-host" => wsHost = args(i + 1); i += 2
        case "--ws-distributed" => wsDistributed = true; i += 1
        case "--influx-host" => influxHost = args(i + 1); i += 2
        case "--influx-token" => influxToken = args(i + 1); i += 2
        case "--influx-table" => influxTable = args(i + 1); i += 2
        case "--state-backend" =>
          stateBackend = Some(args(i + 1).toLowerCase match {
            case "rocksdb" => CanStream.StateBackend.RocksDB
            case "inheap" | "hdfs" => CanStream.StateBackend.InHeap
            case other =>
              System.err.println(s"unknown state backend $other\n$usage"); sys.exit(2)
          })
          i += 2
        case other => System.err.println(s"unknown flag $other\n$usage"); sys.exit(2)
      }
    }
    } catch {
      case _: ArrayIndexOutOfBoundsException =>
        System.err.println(s"flag ${args.last} is missing its value\n$usage")
        sys.exit(2)
      case e: NumberFormatException =>
        System.err.println(s"non-numeric flag value: ${e.getMessage}\n$usage")
        sys.exit(2)
    }
    if (bucketKey.isDefined && (!exact || cacheMs <= 0)) {
      System.err.println(s"--bucket-key requires --exact and --cache > 0\n$usage")
      sys.exit(2)
    }
    if (wsDistributed && wsHost.isEmpty) {
      System.err.println(s"--ws-distributed requires --ws-host\n$usage")
      sys.exit(2)
    }
    // host:port[/target] — the reference connects to ws://host:9000/
    // A non-numeric or out-of-range port takes the same usage-error
    // exit(2) path as every sibling flag error, not a raw
    // NumberFormatException stack trace.
    def wsUsageError(): Nothing = {
      System.err.println(
        s"--ws-host must be host:port[/target] with a numeric port\n$usage")
      sys.exit(2)
    }
    def parsePort(p: String): Int =
      scala.util.Try(p.toInt).toOption.filter(n => n >= 1 && n <= 65535)
        .getOrElse(wsUsageError()) // 0 is bindable but never connectable
    val wsTarget: Option[(String, Int, String)] =
      if (wsHost.isEmpty) None
      else wsHost.split("/", 2) match {
        case Array(hp, t) => hp.split(":") match {
          case Array(h, p) => Some((h, parsePort(p), "/" + t))
          case _ => wsUsageError()
        }
        case Array(hp) => hp.split(":") match {
          case Array(h, p) => Some((h, parsePort(p), "/"))
          case _ => wsUsageError()
        }
      }
    if (statePartitions.exists(_ <= 0)) {
      System.err.println(s"--state-partitions must be positive\n$usage")
      sys.exit(2)
    }
    val streaming = Set("socket", "process", "stream-file").contains(mode)
    if (statePartitions.isDefined && !streaming) {
      System.err.println(
        s"--state-partitions applies to streaming modes only\n$usage")
      sys.exit(2)
    }
    if (streaming && ffill && !(exact && cacheMs > 0)) {
      System.err.println(
        s"streaming --forward-fill requires --exact and --cache > 0\n$usage")
      sys.exit(2)
    }
    if (streaming && !exact && cacheMs > 0 && cacheMs != cacheMs.floor) {
      System.err.println(
        s"streaming --cache without --exact takes whole milliseconds\n$usage")
      sys.exit(2)
    }
    val cfg = CanPipelineConfig(cacheMs = cacheMs, exact = exact,
      exactKeys = bucketKey.toSeq,
      forwardFill = ffill, adjustTimestamp = adjust, observeMetrics = true,
      lenientDbc = lenientDbc)
    val spark = graft.GraftSession.staticTuning(SparkSession.builder()
      .appName("graft-can")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")))
      .getOrCreate()
    graft.GraftSession.tune(spark)
    spark.sparkContext.setLogLevel("WARN")

    // K4: rows → line protocol, Time_ms (fractional ms) → integer ns.
    // The time column moves out of the field set into the line timestamp.
    def influxUpload(df: DataFrame): Unit = {
      import org.apache.spark.sql.functions.{col, lit}
      graft.sinks.InfluxLineSink.upload(
        df.withColumn("__influx_ns", (col(DbcColumns.TimeCol) * 1e6).cast("long"))
          .drop(DbcColumns.TimeCol),
        influxHost, influxToken, influxTable,
        Seq("srcfile" -> lit(in)), "__influx_ns")
    }

    // parquet part-files currently under `out` (empty when absent)
    def partFiles(): Set[String] = {
      val d = new java.io.File(out)
      if (!d.isDirectory) Set.empty
      else d.listFiles().map(_.getName)
        .filter(n => n.endsWith(".parquet") && !n.startsWith("_") &&
          !n.startsWith(".")).toSet
    }

    // K2 batch: this run's written rows as Arrow IPC over the WebSocket —
    // one buffer/message from the driver by default (the reference's
    // chunk contract at run granularity), one message per partition
    // serialized on the executors under --ws-distributed
    def wsPush(df: DataFrame): Unit = wsTarget.foreach {
      case (h, p, t) =>
        if (wsDistributed) {
          val schema = df.schema
          df.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
            if (it.hasNext) {
              val buf = new java.io.ByteArrayOutputStream()
              graft.sinks.ArrowIpcSink.writeRows(schema, it, buf)
              graft.sinks.WebSocketIpc.sendBuffer(h, p, t, buf.toByteArray)
            }
            ()
          }
        } else {
          val rows = df.collect() // side-channel chunk, driver-sized by design
          if (rows.nonEmpty) {
            val buf = new java.io.ByteArrayOutputStream()
            graft.sinks.ArrowIpcSink.writeRows(df.schema, rows.iterator, buf)
            graft.sinks.WebSocketIpc.sendBuffer(h, p, t, buf.toByteArray)
          }
        }
    }

    def writeBatch(wide: DataFrame): Unit = {
      val before = partFiles()
      wide.write.mode("append").parquet(out) // K1 batch
      // K3/K4 batch: read back the WRITTEN output rather than re-running
      // the observed plan — a second execution would make the T7 progress
      // listener double-count every frame/row
      if (live.nonEmpty)
        spark.read.parquet(out)
          .select((DbcColumns.TimeCol +: live.reverse).map(org.apache.spark.sql.functions.col): _*)
          .show(50, truncate = false)
      // side channels see only THIS run's part-files: `out` is an
      // append-mode directory, and re-reading it whole would re-send
      // previous runs' rows (re-tagged with the CURRENT srcfile for K4)
      if (influxHost.length > 2 || wsTarget.isDefined) {
        val added = (partFiles() -- before).toSeq.map(n => s"$out/$n")
        if (added.nonEmpty) {
          val run = spark.read.parquet(added: _*)
          if (influxHost.length > 2) influxUpload(run)
          if (wsTarget.isDefined) wsPush(run)
        }
      }
      ()
    }

    mode match {
      case "file" | "stdin" => // S3: `cat log | graft.cli.Main <dbc> --stdin`
        spark.listenerManager.register(new PipelineMetrics.Progress()) // T7
        writeBatch(if (mode == "file") CanPipeline.decodeLog(spark, dbc, in, cfg)
          else CanPipeline.decodeStdin(spark, dbc, cfg))
      case _ =>
        spark.streams.addListener(new PipelineMetrics.StreamingProgress()) // T7
        stateBackend.foreach(CanStream.StateBackend.configure(spark, _))
        val net = DbcParser.parseFile(dbc, lenientDbc)
        val frames = mode match {
          case "process" => CanStream.framesFromProcess(spark, in,
            if (maxLinesPerTrigger > 0) Some(maxLinesPerTrigger) else None)
          case "stream-file" => CanStream.framesFromTextFiles(spark, in,
            if (maxFilesPerTrigger > 0) Some(maxFilesPerTrigger) else None)
          case _ =>
            // same usage-error contract as --ws-host: a malformed
            // host:port exits 2 with usage, not MatchError/NumberFormat
            in.split(":") match {
              case Array(host, port) if port.toIntOption.exists(
                  p => p >= 1 && p <= 65535) =>
                CanStream.framesFromSocket(spark, host, port.toInt)
              case _ =>
                System.err.println(
                  s"--socket needs --if host:port with a numeric port\n$usage")
                sys.exit(2)
            }
        }
        val (bucketed, sideFrame) = streamFrames(net, frames, cfg)
        // exact mode carries graft-encoded flatMapGroupsWithState keys:
        // refuse a checkpoint written under an older key format BEFORE
        // start() (a silent restart would orphan all open-bucket state).
        // EVERY durable checkpoint that will hold exact bucket state is
        // gated — the influx and ws side queries re-execute the same
        // stateful plan against their OWN checkpoints, which would
        // otherwise reopen the exact orphaning this gate closes (the
        // console side query uses a temporary checkpoint; no restart).
        if (exact && cacheMs > 0) {
          CanStream.requireExactStateFormat(spark, s"$out.checkpoint")
          if (influxHost.length > 2)
            CanStream.requireExactStateFormat(spark, s"$out.influx-checkpoint")
          if (wsTarget.isDefined)
            CanStream.requireExactStateFormat(spark, s"$out.ws-checkpoint")
        }
        val q = CanStream.parquetSink(bucketed, out, s"$out.checkpoint",
          Trigger.ProcessingTime("1 second"),
          effectiveStatePartitions(statePartitions, cfg))
        val liveQ = if (live.nonEmpty)
          Some(CanStream.consoleSink(sideFrame, live.reverse))
        else None
        // K4 streaming: a second query on the decoded stream (the liveQ
        // precedent), uploading each micro-batch as line protocol —
        // at-least-once, idempotent server-side by (measurement, tagset,
        // timestamp)
        val influxQ = if (influxHost.length > 2)
          Some(sideFrame.writeStream
            .option("checkpointLocation", s"$out.influx-checkpoint")
            .foreachBatch { (b: DataFrame, _: Long) =>
              influxUpload(b)
            }
            .trigger(Trigger.ProcessingTime("1 second"))
            .start())
        else None
        // K2 streaming: a third side query (the influxQ precedent) —
        // each non-empty micro-batch becomes Arrow IPC over the
        // WebSocket, chunk-per-message (or partition-per-message under
        // --ws-distributed)
        val wsQ = wsTarget.map { case (h, p, t) =>
          if (wsDistributed)
            graft.sinks.WebSocketIpc.wsSinkDistributed(sideFrame, h, p, t,
              s"$out.ws-checkpoint", Trigger.ProcessingTime("1 second"))
          else
            graft.sinks.WebSocketIpc.wsSink(sideFrame, h, p, t,
              s"$out.ws-checkpoint", Trigger.ProcessingTime("1 second"))
        }
        if (mode == "socket" && (liveQ.size + influxQ.size + wsQ.size) > 0)
          // each query is its own TCP client; a single-accept feeder
          // (`candump | nc -l`) serves exactly one of them
          System.err.println(
            s"warning: --socket with --live-decode/--influx-host/--ws-host " +
              s"runs ${1 + liveQ.size + influxQ.size + wsQ.size} independent " +
              "queries, each connecting to --if; use a multi-client feeder " +
              "(e.g. `socat TCP-LISTEN:port,fork`) or the sink silently starves")
        val side = liveQ.toSeq ++ influxQ.toSeq ++ wsQ.toSeq
        sys.addShutdownHook { // SIGINT parity
          q.stop(); side.foreach(_.stop())
        }
        // await the PRIMARY sink, but fail loudly (non-zero) the moment
        // any side query dies with an exception — a silently-dead Influx
        // uploader would violate its at-least-once claim while the
        // process keeps running and exits 0
        awaitFirstFailure(q, side,
          () => spark.streams.awaitAnyTermination(),
          () => spark.streams.resetTerminated()).foreach { evidence =>
          val msg = evidence match {
            case Right(dead) => "streaming query '" +
              Option(dead.name).getOrElse(dead.id.toString) + "' failed: " +
              dead.exception.map(_.getMessage()).getOrElse("")
            case Left(e) => "streaming query failed: " + e.getMessage()
          }
          System.err.println(msg)
          (q +: side).foreach(x => if (x.isActive) x.stop())
          spark.stop()
          sys.exit(1)
        }
        side.foreach(x => if (x.isActive) x.stop())
    }
    spark.stop()
  }

  /** Await the primary sink `q`, watching the `side` queries; returns the
    * first failure's EVIDENCE, or None on a clean stop. `Right(query)`
    * when a query handle carries the exception; `Left(throwable)` when
    * the failure surfaced only through `awaitAnyTermination`'s rethrow
    * and NO handle exposes it (e.g. another query on the shared session
    * failed and was already dropped from the handles we hold) — without
    * the Left arm that caught exception would be discarded and the
    * process would fall through to the success path and exit 0.
    * Parametrized on the manager calls so the loop is unit-testable with
    * fake [[org.apache.spark.sql.streaming.StreamingQuery]] handles.
    */
  private[cli] def awaitFirstFailure(
      q: org.apache.spark.sql.streaming.StreamingQuery,
      side: Seq[org.apache.spark.sql.streaming.StreamingQuery],
      awaitAny: () => Unit, resetTerminated: () => Unit)
      : Option[Either[Throwable, org.apache.spark.sql.streaming.StreamingQuery]] = {
    var failed: Option[Either[Throwable,
      org.apache.spark.sql.streaming.StreamingQuery]] = None
    try {
      while (q.isActive && failed.isEmpty) {
        awaitAny()
        resetTerminated()
        failed = side.find(s => !s.isActive && s.exception.isDefined)
          .map(Right(_))
      }
    } catch {
      // awaitAnyTermination rethrows a failed query's exception; route
      // it into the same graceful path (print, stop, exit 1) instead of
      // dying via an uncaught throw — preferring the handle's richer
      // exception when one is visible, the caught one otherwise
      case e: org.apache.spark.sql.streaming.StreamingQueryException =>
        failed = (q +: side).find(_.exception.isDefined).map(Right(_))
          .orElse(Some(Left(e)))
    }
    failed.orElse(Some(q).filter(_.exception.isDefined).map(Right(_)))
  }

  /** The Parquet sink's frame and the side sinks' (console, Influx,
    * WebSocket). Each side query re-runs the plan, so only the Parquet
    * sink's frame observes the progress counts.
    */
  private[cli] def streamFrames(net: graft.dbc.Network, frames: DataFrame,
      cfg: CanPipelineConfig): (DataFrame, DataFrame) =
    (CanPipeline.fromStream(net, frames, cfg),
      CanPipeline.fromStream(net, frames, cfg.copy(observeMetrics = false)))

  /** Streaming state-store partition count the CLI starts a query with.
    * Keyless exact state is a SINGLE group (one stateful task by
    * construction), so its right-sized store count is 1 — committing the
    * session default's 32 mostly-empty stores per micro-batch costs ~70%
    * replay throughput (measured on a 1M-frame directory replay at
    * local[32]: ~55k vs ~95k frames/s). An explicit `--state-partitions`
    * always wins; existing checkpoints keep their frozen count either way.
    */
  private[cli] def effectiveStatePartitions(explicit: Option[Int],
      cfg: CanPipelineConfig): Option[Int] =
    explicit.orElse(
      if (cfg.exact && cfg.cacheMs > 0 && cfg.exactKeys.isEmpty) Some(1) else None)

  private val usage =
    """usage: graft.cli.Main <dbc> --if <input> --of <out.parquet>
      |  [--file | --socket | --stdin | --process | --stream-file]
      |  [--cache <ms>] [--exact] [--bucket-key <col>]
      |  [--forward-fill] [--live-decode SIG]... [--no-adjust-timestamp]
      |  [--max-lines-per-trigger <n>] [--max-files-per-trigger <n>]
      |  [--state-backend inheap|rocksdb] [--state-partitions <n>]
      |  [--lenient-dbc]
      |  [--influx-host <url>] [--influx-token <t>] [--influx-table <m>]
      |  [--ws-host <host:port[/target]>] [--ws-distributed]
      |  --socket: --if is host:port of a candump text stream
      |  --process: --if is a bridge command (e.g. "candump -L can0")
      |  --stream-file: --if is a directory watched for candump log files
      |  streaming modes (--socket, --process, --stream-file) take
      |    --forward-fill only with --exact and --cache > 0, a fractional
      |    --cache only with --exact, keep absolute timestamps (a stream's
      |    t0 is unknown), and count parsed frames as packets, as batch does
      |  --max-lines-per-trigger: micro-batch admission bound for --process
      |    replays (default 60000; 0 = unbounded)
      |  --max-files-per-trigger: micro-batch admission bound for
      |    --stream-file backlogs (default 16; 0 = unbounded)
      |  --state-backend: streaming state store — inheap (default, fastest,
      |    memory grows with keys) or rocksdb (on-disk state, bounded
      |    executor memory at high key cardinality)
      |  --state-partitions: state-store partition count for stateful
      |    streaming (frozen into the checkpoint at first start; size to
      |    distinct keys × rate, not core count — default: session shuffle
      |    partitions)
      |  --lenient-dbc: load vendor DBCs whose SIG_VALTYPE_/SG_MUL_VAL_
      |    declarations reference unparsed messages (warn instead of fail;
      |    mistyped declarations on present signals still fail)
      |  --influx-host: line-protocol /write endpoint (e.g.
      |    http://host:8086/write?db=can); decoded rows upload as
      |    measurement --influx-table with a srcfile tag and token auth —
      |    alongside the parquet sink in every mode
      |  --ws-host: Arrow-IPC-over-WebSocket side channel (the reference's
      |    K2, ws://host:port/target): decoded output pushed as binary IPC
      |    messages alongside the parquet sink in every mode —
      |    chunk-per-message from the driver by default;
      |    --ws-distributed serializes per partition on the executors
      |    (no driver funnel; the consumer must accept concurrent
      |    connections)
      |  --bucket-key: partition column for --exact bucketing (e.g. iface);
      |    keyed folds/state run independently per key and scale with the
      |    cluster — default is the reference's global sequential semantics""".stripMargin
}
