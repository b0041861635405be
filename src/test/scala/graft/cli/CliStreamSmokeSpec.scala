package graft.cli

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** End-to-end smoke of the CLI streaming path with the round-8 flags:
  * `--stream-file --state-backend rocksdb --max-files-per-trigger 1
  * --exact --cache`. The CLI owns its SparkSession and never returns from
  * `awaitTermination`, so it runs in its OWN JVM (same classes, same
  * add-opens as build.sbt) against a temp directory; the test polls the
  * parquet sink for the expected closed buckets, asserts the decode, and
  * verifies the checkpoint's state store is RocksDB-format (zip
  * snapshots — the HDFS-backed provider writes .delta files), then kills
  * the child.
  */
class CliStreamSmokeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  test("flag errors exit 2 through usage, never a raw stack trace") {
    // the r18 --ws-host rule extended to the whole flag surface in r19:
    // a flag missing its value (ArrayIndexOutOfBounds before) and a
    // non-numeric value (NumberFormatException before) both take the
    // usage path. These exit before SparkSession, so the JVMs are cheap.
    val javaBin = sys.props("java.home") + "/bin/java"
    val cp = sys.props("java.class.path")
    def run(extra: String*): (Int, String) = {
      val logFile = java.nio.file.Files.createTempFile("cli_err", ".log").toFile
      val pb = new ProcessBuilder((Seq(javaBin, "-cp", cp,
        "graft.cli.Main", "fixtures/mini.dbc") ++ extra): _*)
      pb.directory(new java.io.File(sys.props("user.dir")))
      pb.redirectErrorStream(true)
      pb.redirectOutput(logFile)
      val proc = pb.start()
      assert(proc.waitFor(60, java.util.concurrent.TimeUnit.SECONDS))
      (proc.exitValue(), scala.io.Source.fromFile(logFile).mkString)
    }
    val (c1, log1) = run("--if", "x.log", "--cache") // value missing
    assert(c1 == 2, s"expected usage exit 2:\n$log1")
    assert(log1.contains("missing its value") && log1.contains("usage:"), log1)
    assert(!log1.contains("ArrayIndexOutOfBounds"), log1)
    val (c2, log2) = run("--if", "x.log", "--cache", "abc") // non-numeric
    assert(c2 == 2, s"expected usage exit 2:\n$log2")
    assert(log2.contains("non-numeric") && log2.contains("usage:"), log2)
    // streaming forward fill exists only in the exact bucket state: refused,
    // never silently dropped
    val (c3, log3) = run("--if", "in_dir", "--stream-file", "--cache", "10",
      "--forward-fill")
    assert(c3 == 2, s"expected usage exit 2:\n$log3")
    assert(log3.contains("--forward-fill requires --exact") &&
      log3.contains("usage:"), log3)
    // tumbling stream windows are whole milliseconds: a fractional width
    // is refused, never truncated (10.7 → 10) nor a stack trace (0.5 → 0)
    Seq("0.5", "10.7").foreach { w =>
      val (c, log) = run("--if", "in_dir", "--stream-file", "--cache", w)
      assert(c == 2, s"expected usage exit 2 for --cache $w:\n$log")
      assert(log.contains("takes whole milliseconds") && log.contains("usage:"), log)
    }
  }

  /** Runs the batch CLI on `fixtures/mini.log` with `--file` and `flags`
    * in its own JVM; returns its output and the output directory.
    */
  private def batchCli(name: String, flags: String*): (String, String) = {
    val outDir = java.nio.file.Files.createTempDirectory(name).toString + "/out"
    val javaBin = sys.props("java.home") + "/bin/java"
    val cp = sys.props("java.class.path")
    val cmd = Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx2g", "-Dspark.ui.enabled=false", "-Dspark.master=local[4]",
      "-Dspark.sql.shuffle.partitions=4",
      "-cp", cp, "graft.cli.Main", "fixtures/mini.dbc",
      "--if", "fixtures/mini.log", "--of", outDir, "--file") ++ flags
    val logFile = java.nio.file.Files.createTempFile(name, ".log").toFile
    val pb = new ProcessBuilder(cmd: _*)
    pb.directory(new java.io.File(sys.props("user.dir")))
    pb.redirectErrorStream(true)
    pb.redirectOutput(logFile)
    val proc = pb.start()
    try {
      assert(proc.waitFor(180, java.util.concurrent.TimeUnit.SECONDS),
        "batch CLI did not exit")
      val log = scala.io.Source.fromFile(logFile).mkString
      assert(proc.exitValue() == 0, s"CLI failed; log:\n${log.takeRight(4000)}")
      (log, outDir)
    } finally {
      proc.destroyForcibly()
      proc.waitFor()
    }
  }

  /** The progress lines in a CLI log. */
  private def progressLines(log: String): Seq[String] =
    log.linesIterator.filter(_.matches("(Received \\d+ packets, )?wrote \\d+ rows")).toSeq

  test("CLI batch --exact prints the real packet count (T7 exact metric)") {
    val (log, outDir) = batchCli("cli_exact", "--cache", "10", "--exact")
    // 7 parsed packets in mini.log (the reference's `messages`),
    // observed on the exact path like on every other; the exact path
    // once printed no packet count at all (and once 'Received 0 packets')
    assert(log.contains("Received 7 packets"),
      s"exact-mode progress line wrong; log:\n${log.takeRight(4000)}")
    assert(spark.read.parquet(outDir).count() == 3)
  }

  test("CLI batch --forward-fill and --exact print one progress line per " +
      "write, never an interim 'wrote 0 rows'") {
    // the split-order fold (tumbling) and the range scan (exact) each run
    // an execution that delivers only the frames counter before the write
    for (flags <- Seq(Seq("--cache", "10", "--forward-fill"),
        Seq("--cache", "10", "--exact"))) {
      val (log, outDir) = batchCli("cli_progress", flags: _*)
      assert(progressLines(log) == Seq("Received 7 packets, wrote 3 rows"),
        s"${flags.mkString(" ")}: progress lines ${progressLines(log)}; " +
          s"log:\n${log.takeRight(4000)}")
      assert(spark.read.parquet(outDir).count() == 3)
    }
  }

  test("keyless exact streaming auto-sizes state partitions to its single group") {
    // keyless exact → 1 store; keyed / tumbling / explicit-flag cases
    // keep the session default or the explicit value
    import graft.can.CanPipelineConfig
    val keyless = CanPipelineConfig(cacheMs = 10.0, exact = true)
    assert(Main.effectiveStatePartitions(None, keyless) == Some(1))
    assert(Main.effectiveStatePartitions(None,
      keyless.copy(exactKeys = Seq("iface"))).isEmpty)
    assert(Main.effectiveStatePartitions(None, keyless.copy(exact = false)).isEmpty)
    assert(Main.effectiveStatePartitions(None, keyless.copy(cacheMs = 0.0)).isEmpty)
    assert(Main.effectiveStatePartitions(Some(16), keyless) == Some(16))
  }

  test("CLI batch --influx-host uploads decoded rows as line protocol " +
      "with srcfile tag and token auth (K4)") {
    import java.nio.charset.StandardCharsets
    val received = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/write",
      new com.sun.net.httpserver.HttpHandler {
        override def handle(ex: com.sun.net.httpserver.HttpExchange): Unit = {
          received.add((
            new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8),
            Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse("")))
          ex.sendResponseHeaders(204, -1); ex.close()
        }
      })
    server.start()
    val outDir = java.nio.file.Files.createTempDirectory("cli_influx").toString + "/out"
    val javaBin = sys.props("java.home") + "/bin/java"
    val cp = sys.props("java.class.path")
    def runCli(ifArg: String): Unit = {
      val cmd = Seq(javaBin) ++ addOpens ++ Seq(
        "-Xmx2g", "-Dspark.ui.enabled=false", "-Dspark.master=local[4]",
        "-Dspark.sql.shuffle.partitions=4",
        "-cp", cp, "graft.cli.Main", "fixtures/mini.dbc",
        "--if", ifArg, "--of", outDir, "--file",
        "--influx-host",
        s"http://127.0.0.1:${server.getAddress.getPort}/write?db=can",
        "--influx-token", "tok123", "--influx-table", "canwide")
      val logFile = java.nio.file.Files.createTempFile("cli_influx", ".log").toFile
      val pb = new ProcessBuilder(cmd: _*)
      pb.directory(new java.io.File(sys.props("user.dir")))
      pb.redirectErrorStream(true)
      pb.redirectOutput(logFile)
      val proc = pb.start()
      try {
        assert(proc.waitFor(180, java.util.concurrent.TimeUnit.SECONDS),
          "batch CLI did not exit")
        assert(proc.exitValue() == 0, "CLI failed; log:\n" +
          scala.io.Source.fromFile(logFile).mkString.takeRight(4000))
      } finally { proc.destroyForcibly(); proc.waitFor() }
    }
    try {
      runCli("fixtures/mini.log")
      val reqs = received.toArray(Array.empty[(String, String)])
      assert(reqs.nonEmpty && reqs.forall(_._2 == "Token tok123"))
      val lines = reqs.flatMap(_._1.split("\n")).filter(_.nonEmpty)
      // 6 decoded wide rows in mini.log (no bucketing)
      assert(lines.length == 6, s"lines:\n${lines.mkString("\n")}")
      assert(lines.forall(_.startsWith("canwide,srcfile=fixtures/mini.log ")))
      // decoded signal rides as a field; timestamp is integer ns
      assert(lines.exists(_.contains("Engine_Speed=2000.0")))
      assert(lines.forall(_.matches(".* \\d+")))
      // second run into the SAME append-mode out dir: only the new run's
      // rows upload — run 1's rows must NOT re-post re-tagged with the
      // second srcfile
      val copy = java.nio.file.Files.createTempFile("mini2", ".log")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get("fixtures/mini.log"), copy,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      received.clear()
      runCli(copy.toString)
      val lines2 = received.toArray(Array.empty[(String, String)])
        .flatMap(_._1.split("\n")).filter(_.nonEmpty)
      assert(lines2.length == 6, s"re-upload leak:\n${lines2.mkString("\n")}")
      assert(lines2.forall(_.startsWith(s"canwide,srcfile=$copy ")))
    } finally server.stop(0)
  }

  test("CLI --stream-file with rocksdb state backend and admission bound " +
      "decodes to parquet end-to-end (and streams line protocol, K4)") {
    import java.nio.charset.StandardCharsets
    val received = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/write",
      new com.sun.net.httpserver.HttpHandler {
        override def handle(ex: com.sun.net.httpserver.HttpExchange): Unit = {
          received.add(new String(ex.getRequestBody.readAllBytes(),
            StandardCharsets.UTF_8))
          ex.sendResponseHeaders(204, -1); ex.close()
        }
      })
    server.start()
    val inDir = java.nio.file.Files.createTempDirectory("cli_smoke_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("cli_smoke").toString + "/out"
    val javaBin = sys.props("java.home") + "/bin/java"
    // the parent test JVM already runs with compiled classes + Spark jars
    // on its classpath — reuse it verbatim so the smoke test survives any
    // Spark install location, Scala version bump, or build-layout change
    val cp = sys.props("java.class.path")
    val cmd = Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx2g", "-Dspark.ui.enabled=false", "-Dspark.master=local[4]",
      "-Dspark.sql.shuffle.partitions=4",
      "-cp", cp, "graft.cli.Main", "fixtures/mini.dbc",
      "--if", inDir, "--of", outDir, "--stream-file",
      "--state-backend", "rocksdb", "--max-files-per-trigger", "1",
      "--exact", "--cache", "10", "--bucket-key", "iface",
      "--influx-host",
      s"http://127.0.0.1:${server.getAddress.getPort}/write?db=can")
    val logFile = java.nio.file.Files.createTempFile("cli_smoke", ".log").toFile
    val pb = new ProcessBuilder(cmd: _*)
    pb.directory(new java.io.File(sys.props("user.dir")))
    pb.redirectErrorStream(true)
    pb.redirectOutput(logFile)
    val proc = pb.start()
    try {
      val deadline = System.nanoTime() + 150L * 1000 * 1000 * 1000
      def sinkRows(): Array[org.apache.spark.sql.Row] =
        try spark.read.parquet(outDir).collect()
        catch { case _: Exception => Array.empty }
      def awaitRows(n: Int): Array[org.apache.spark.sql.Row] = {
        var rows = sinkRows()
        while (rows.length < n && System.nanoTime() < deadline && proc.isAlive) {
          Thread.sleep(1000); rows = sinkRows()
        }
        assert(proc.isAlive, "CLI exited prematurely; log:\n" +
          scala.io.Source.fromFile(logFile).mkString.takeRight(4000))
        assert(rows.length == n, s"expected $n closed buckets, got ${rows.length}")
        rows
      }
      // two files arriving in sequence (the second only after the first
      // has closed its bucket, so cross-batch order is deterministic);
      // --max-files-per-trigger 1 bounds each micro-batch's admission.
      // mini.log under --exact --cache 10: ts 0,4,8 → bucket t0; ts 12
      // closes it; ts 16 joins bucket t12; ts 50 closes it and stays open.
      val lines = scala.io.Source.fromFile("fixtures/mini.log").getLines().toSeq
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$inDir/a.log"),
        lines.take(4).mkString("\n").getBytes("UTF-8"))
      awaitRows(1)
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$inDir/b.log"),
        lines.drop(4).mkString("\n").getBytes("UTF-8"))
      val rows = awaitRows(2)
      val byTs = rows.sortBy(_.getDouble(rows.head.fieldIndex("Time_ms")))
      assert(byTs(0).getAs[Float]("Engine_Speed") == 2000.0f) // 0x1F40*0.25
      assert(byTs(1).getAs[Int]("Val_B") == 32767)

      // rocksdb actually engaged: changelog commits (changelog
      // checkpointing is on for RocksDB — commits append the batch's
      // changes; full zip snapshots only land every minDeltasForSnapshot
      // commits, so a short smoke may see none) and never the HDFS
      // provider's .delta files
      val stateDir = java.nio.file.Paths.get(s"$outDir.checkpoint/state")
      val sawRocks = java.nio.file.Files.walk(stateDir).anyMatch(p =>
        p.toString.endsWith(".zip") || p.toString.endsWith(".changelog"))
      val sawDelta = java.nio.file.Files.walk(stateDir).anyMatch(p =>
        p.toString.endsWith(".delta"))
      assert(sawRocks && !sawDelta,
        "state checkpoint is not RocksDB-format (--state-backend ignored?)")

      // K4 streaming: the side query uploads the SAME closed buckets as
      // line protocol (the TimestampType 'ts' twin must not crash it)
      while (received.size < 2 && System.nanoTime() < deadline && proc.isAlive)
        Thread.sleep(500)
      assert(proc.isAlive, "CLI exited prematurely; log:\n" +
        scala.io.Source.fromFile(logFile).mkString.takeRight(4000))
      val lp = received.toArray(Array.empty[String])
        .flatMap(_.split("\n")).filter(_.nonEmpty)
      assert(lp.length >= 2, s"expected streamed lines, got:\n${lp.mkString("\n")}")
      assert(lp.forall(_.startsWith(s"fs23migrated,srcfile=$inDir ")))
      assert(lp.exists(_.contains("Engine_Speed=2000.0")))
    } finally {
      proc.destroyForcibly()
      proc.waitFor()
      server.stop(0)
    }
  }
}
