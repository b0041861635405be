package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Benchmark main: runs every registered query at SPARK_GRAFT_SF_DIR and
  * prints one JSON line (driver contract). Sessions are tuned the way a
  * production deployment would be at this core count: shuffle partitions =
  * cores, small maxPartitionBytes so single-file local inputs still fan out
  * across all cores (the 100 TB case has many files; a 5 MB bench file must
  * not serialize the whole scan onto one task), AQE on.
  *
  * Timing methodology:
  *   - the timed action is a `noop`-format write, which fully materializes
  *     every output column (a bare `.count()` lets Catalyst prune
  *     projection-only work, under-charging map-only decode queries);
  *   - each query runs 5 times and the MIN is reported. Min (not median)
  *     is the standard contention-immune wall-clock statistic: external
  *     load can only ever ADD time, so the fastest rep is the closest
  *     observation of the query's true cost. Two of the first three
  *     driver bench rounds ran on a contended host and median-of-3
  *     reported ~2× inflated totals (131s vs 61s quiet for identical
  *     code); min-of-5 survives several loaded reps;
  *   - the full board runs as ONE CHILD JVM PER QUERY FAMILY (q*, qc, qd,
  *     qj, qm, qp, qs, qt), families larger than [[MaxQueriesPerChild]]
  *     further split into `family#k` slices, merged into the single
  *     output line. Cross-round comparison on code-identical queries
  *     measured +29% (r11) and +84% (r12) in-board inflation as the
  *     92-query board grew — shared-JVM GC/codegen-cache/codec pressure,
  *     not query cost — and r14 reproduced it INSIDE the 50-gate qt
  *     family (3-4× on four code-identical gates). Per-slice JVMs bound
  *     that contamination while keeping session bring-up untimed (each
  *     child warms up before timing).
  *     A `SPARK_GRAFT_BENCH_ONLY` subset (diagnostics) and
  *     `SPARK_GRAFT_BENCH_FORK=0` both run single-JVM, unchanged;
  *   - the JSON line goes to stdout AND to a bare file (bench_out.json, or
  *     $SPARK_GRAFT_BENCH_OUT) so log-prefix wrapping (sbt's "[info] ")
  *     cannot break downstream parsing.
  */
object Bench {
  private val Reps = 5

  /** Family key for per-JVM chunking: `qc_*` → "qc", `qd_*` → "qd", …;
    * the numbered core queries (`q1_…`–`q18_…`) share one "core" family.
    */
  private def familyOf(name: String): String = {
    val prefix = name.takeWhile(_ != '_')
    if (prefix.matches("q\\d+")) "core" else prefix
  }

  /** Per-child-JVM query cap. The r14 board re-measured the same
    * shared-JVM inflation inside ONE family once it outgrew this scale:
    * qt carried ~50 gates and four code-identical qt queries read
    * 2.9–3.8× their isolated min-of-5 (qt_token_stats 1.96 s in-board
    * vs 0.602 s isolated, CPUS=32 quiet host). Families split into
    * deterministic sorted slices of at most this many queries — the cap
    * bounds the contamination a slice's members can exert on each other
    * at roughly the family size the protocol was validated at (r13's
    * largest family was 27).
    */
  private val MaxQueriesPerChild = 24

  /** Child-JVM work units: families, with any family larger than
    * [[MaxQueriesPerChild]] split into `family#k` slices (sorted names,
    * BALANCED sizes — 25 queries go 13+12, not 24+1 with a
    * near-empty JVM paying full session bring-up; deterministic across
    * runs).
    */
  private[graft] def childGroups(names: Seq[String]): Seq[(String, Seq[String])] =
    names.sorted.groupBy(familyOf).toSeq.sortBy(_._1).flatMap {
      case (family, members) if members.size <= MaxQueriesPerChild =>
        Seq(family -> members)
      case (family, members) =>
        val slices = (members.size + MaxQueriesPerChild - 1) / MaxQueriesPerChild
        val per = (members.size + slices - 1) / slices
        members.grouped(per).zipWithIndex
          .map { case (slice, k) => s"$family#$k" -> slice }.toSeq
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    // a filter that names no query means the full board: a zero-query
    // board would read its total 0.000 as an enormous speedup, and a
    // mistyped name fails loudly (SparkEntry.select)
    val names = SparkEntry.select(sys.env.getOrElse("SPARK_GRAFT_BENCH_ONLY", ""))
    val forkFamilies = names.size == SparkEntry.queries.size &&
      sys.env.getOrElse("SPARK_GRAFT_BENCH_FORK", "1") != "0"
    val results: Seq[(String, Option[Double])] =
      if (forkFamilies) runFamiliesInChildJvms(sfDir)
      else runInProcess(sfDir, names)
    // millisecond precision: sub-ms digits are pure noise at these run
    // times, and the shorter line survives tail-window log captures that
    // truncated a full-precision round-5 line mid-JSON. Locale.ROOT keeps
    // the decimal separator a '.' on comma-decimal JVM locales — a
    // locale-formatted "53,700" is invalid JSON
    val qs = results.map { case (k, v) =>
        "\"" + k + "\":" + v.map(fmt).getOrElse("null")
      }
      .mkString("{", ",", "}")
    val failedNames = results.collect { case (k, None) => "\"" + k + "\"" }
    val failed = failedNames.mkString("[", ",", "]")
    // any hard failure means the total covers a smaller query set than
    // other rounds' — emit null so cross-round total comparisons can never
    // silently read a failure as a speedup
    val total =
      if (failedNames.nonEmpty) "null" else fmt(results.flatMap(_._2).sum)
    // key order matters downstream: the driver's round artifact captures
    // only the LAST ~2000 chars of process output, and 92 query entries
    // overflow that window — put the bulky "queries" map FIRST so the
    // summary fields (failed/total/sf) always survive in the tail
    val json =
      s"""{"queries":$qs,"failed":$failed,"metric":"total","value":$total,"unit":"sec","sf":"$sfDir"}"""
    println(json)
    Files.write(Paths.get(outPath), (json + "\n").getBytes(StandardCharsets.UTF_8))
  }

  private def fmt(d: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))

  /** Orchestrator path: one child JVM per query family, run SEQUENTIALLY
    * (parallel children would contend for the same cores and re-create the
    * very cross-query interference this exists to remove). Child output is
    * the same one-line JSON contract, read back from a temp file. A family
    * whose child dies reports every member as failed — never silently
    * missing.
    */
  private def runFamiliesInChildJvms(sfDir: String): Seq[(String, Option[Double])] = {
    // Children inherit java.class.path verbatim. If the parent was started
    // through a launcher/manifest-classpath jar (e.g. a non-forked `sbt
    // run`), that property does NOT contain graft.Bench, every child dies
    // with ClassNotFoundException, and the board would read as all-failed
    // with only a stderr hint. Fail fast with an actionable message
    // instead of emitting a meaningless board.
    require(classpathResolvesBench(sys.props("java.class.path")),
      "graft.Bench is not resolvable from java.class.path (launcher/" +
        "manifest classpath?) — child JVMs cannot start. Run via " +
        "tools/bench.sh (plain `java -cp`), or set SPARK_GRAFT_BENCH_FORK=0 " +
        "for a single-JVM board.")
    val families = childGroups(SparkEntry.queries.keySet.toSeq)
    val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
    import scala.jdk.CollectionConverters._
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
      // -agentlib/-javaagent (sbt/debugger plumbing) must not leak into
      // children: agents bind ports and would collide across 8 launches
      .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-javaagent"))
    families.flatMap { case (family, names) =>
      val childOut =
        Files.createTempFile(s"bench_$family", ".json").toString
      val cmd = Seq(javaBin) ++ jvmArgs ++
        Seq("-cp", sys.props("java.class.path"), "graft.Bench")
      val pb = new ProcessBuilder(cmd: _*)
      pb.environment().put("SPARK_GRAFT_BENCH_ONLY", names.mkString(","))
      pb.environment().put("SPARK_GRAFT_BENCH_OUT", childOut)
      pb.environment().put("SPARK_GRAFT_BENCH_FORK", "0")
      // explicit, not inherited: the child must bench the sf dir THIS
      // process resolved (and labels the merged JSON with)
      pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
      pb.redirectErrorStream(false)
      pb.redirectOutput(ProcessBuilder.Redirect.DISCARD)
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      System.err.println(s"[bench] family $family (${names.size} queries)...")
      val exit =
        try { pb.start().waitFor() }
        catch { case e: Throwable =>
          System.err.println(s"[bench] family $family failed to launch: ${e.getMessage}")
          -1
        }
      val parsed =
        if (exit == 0) parseChildQueries(childOut) else Map.empty[String, Option[Double]]
      if (exit != 0)
        System.err.println(s"[bench] family $family child exited $exit")
      Files.deleteIfExists(Paths.get(childOut))
      names.map(n => n -> parsed.getOrElse(n, None))
    }
  }

  /** True when some entry of `cp` (directory or jar) actually contains
    * graft/Bench.class — i.e. a child launched with `-cp cp` can load us.
    */
  private[graft] def classpathResolvesBench(cp: String): Boolean = {
    import scala.jdk.CollectionConverters._
    val rel = "graft/Bench.class"
    def jarHas(p: java.nio.file.Path): Boolean =
      try {
        val jar = new java.util.jar.JarFile(p.toFile)
        try jar.getEntry(rel) != null finally jar.close()
      } catch { case _: Throwable => false }
    cp.split(java.io.File.pathSeparator).exists { entry =>
      // the JVM expands trailing-* entries to every jar in the directory —
      // mirror that, or a working `-cp libs/*` launch would false-negative
      // and the fail-fast would kill a runnable bench
      if (entry.endsWith("*")) {
        val dir = Paths.get(entry.dropRight(1) match {
          case "" => "."
          case d => d
        })
        Files.isDirectory(dir) && {
          val s = Files.list(dir)
          try s.iterator().asScala.exists(p =>
            p.toString.toLowerCase(java.util.Locale.ROOT).endsWith(".jar") &&
              jarHas(p))
          finally s.close()
        }
      } else {
        val p = Paths.get(entry)
        if (Files.isDirectory(p)) Files.exists(p.resolve(rel))
        else if (entry.toLowerCase(java.util.Locale.ROOT).endsWith(".jar") &&
          Files.isRegularFile(p)) jarHas(p)
        else false
      }
    }
  }

  /** Parse the `"queries":{...}` object out of a child's one-line JSON.
    * The format is fully under our control (written by `main` above):
    * keys are query names ([A-Za-z0-9_]), values are %.3f numbers or null —
    * a 6-line scanner beats dragging in a JSON dependency.
    */
  private def parseChildQueries(path: String): Map[String, Option[Double]] = {
    val line =
      try new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)
      catch { case _: Throwable => return Map.empty }
    val entry = """"([A-Za-z0-9_]+)":(null|[0-9.]+)""".r
    val start = line.indexOf("\"queries\":{")
    if (start < 0) return Map.empty
    val body = line.substring(start + "\"queries\":{".length,
      line.indexOf("}", start))
    entry.findAllMatchIn(body).map { m =>
      m.group(1) -> (if (m.group(2) == "null") None else Some(m.group(2).toDouble))
    }.toMap
  }

  /** Worker path (also the `SPARK_GRAFT_BENCH_ONLY` diagnostic path): one
    * SparkSession, warmup untimed, min-of-5 per query.
    */
  private def runInProcess(
      sfDir: String, names: Seq[String]): Seq[(String, Option[Double])] = {
    val spark = GraftSession.local(GraftSession.envCpus)
    // untimed warmup: initialize parquet reader, shuffle machinery, and JIT
    // the common execution paths so the first timed query isn't charged
    // session bring-up
    spark.read.parquet(s"$sfDir/region.parquet")
      .groupBy("r_name").count().collect()
    val results = names.map { name =>
      val fn = SparkEntry.queries(name)
      val times = (1 to Reps).map { _ =>
        val t0 = System.nanoTime()
        // a failed rep must NOT win the min (an exception returns in
        // milliseconds and would report a near-zero "fastest" time for a
        // query that never ran) — exclude it from the min entirely
        val ok =
          try {
            // noop sink: consumes every row and column without writing
            // bytes, so projection work is charged but disk I/O is not
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            true
          } catch { case e: Throwable =>
            System.err.println(s"[bench] $name rep failed: ${e.getMessage}")
            false
          }
        val sec = (System.nanoTime() - t0) / 1e9
        GraftSession.release(spark)
        if (ok) Some(sec) else None
      }
      // min over successful reps only; a query whose reps ALL failed
      // reports null (not a sentinel number a downstream sum would
      // swallow) and is listed under "failed"
      name -> times.flatten.minOption
    }
    spark.stop()
    results
  }
}
