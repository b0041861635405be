package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.util.control.NonFatal

import org.apache.spark.sql.functions._

import graft.can.{CanPipeline, CanPipelineConfig, DbcColumns}

/** The benchmark's own tests:
  *   - generator determinism (same seed, same bytes; another seed differs);
  *   - the reference check reproduces the fixture goldens on
  *     `fixtures/mini.log` + `fixtures/mini.dbc`;
  *   - a deliberately corrupted job output is caught, so the error rate
  *     rises above 0.
  * Returns the process exit code (0 = all passed).
  */
object SelfTest {

  def run(work: Path, fixtures: Path): Int = {
    val results = Seq(
      "generators are deterministic" -> (() => determinism(work)),
      "reference reproduces the mini fixture goldens" -> (() => goldens(fixtures)),
      "a corrupted output raises the error rate" -> (() => corruption(work)))
      .map { case (name, t) =>
        val err = try { t(); None } catch { case NonFatal(e) => Some(e.toString) }
        println(s"${if (err.isEmpty) "PASS" else "FAIL"} $name${err.map(" — " + _).getOrElse("")}")
        err.isEmpty
      }
    if (results.forall(identity)) 0 else 1
  }

  private def check(cond: Boolean, msg: => String): Unit = if (!cond) throw new AssertionError(msg)

  private def sha(p: Path): String =
    MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString

  def determinism(work: Path): Unit = {
    val dir = work.resolve("determinism")
    def logOf(seed: Long, name: String): Path = {
      val net = Gen.network(seed)
      val p = dir.resolve(name)
      Gen.writeLog(p, net, Gen.testDay(net, seed, 20000, 3), Gen.epochUs(seed))
      p
    }
    check(Gen.network(7).dbc == Gen.network(7).dbc, "DBC differs for one seed")
    check(Gen.network(7).dbc != Gen.network(8).dbc, "DBC ignores the seed")
    check(sha(logOf(7, "a.log")) == sha(logOf(7, "b.log")), "candump log differs for one seed")
    check(sha(logOf(7, "a.log")) != sha(logOf(8, "c.log")), "candump log ignores the seed")
    val net = Gen.network(3)
    val fr = Gen.schedule(net, 3, Seq((0L, 2000000L)), 2.0)
    def chunk(): String = {
      val sb = new StringBuilder
      Gen.render(net, fr, 1700000000000000L, 0, fr.size)(l => sb ++= l += '\n')
      sb.toString
    }
    check(chunk() == chunk(), "stream chunk differs for one seed and anchor")
    val (c1, c2) = (Gen.corpus(5, 2000), Gen.corpus(5, 2000))
    check(c1.texts.sameElements(c2.texts) && c1.planted.sameElements(c2.planted),
      "corpus differs for one seed")
    check(!c1.texts.sameElements(Gen.corpus(6, 2000).texts), "corpus ignores the seed")
    // the generated network stays on the codegen bucketing path
    val cols = Reference.parseDbc(Gen.network(7).dbc).columns
    check(cols.size == 119 && cols.distinct.size == cols.size, s"network has ${cols.size} signals")
  }

  def goldens(fixtures: Path): Unit = {
    val net = Reference.parseDbc(new String(Files.readAllBytes(fixtures.resolve("mini.dbc")), UTF_8))
    val fr = Reference.readFrames(Seq(fixtures.resolve("mini.log")))
    // F2: the blank line and "not a can line" are malformed; F1: 7FF unknown
    check(fr.lines == 9 && fr.malformed == 2 && fr.size == 7,
      s"lines ${fr.lines}, malformed ${fr.malformed}, frames ${fr.size}")
    check((0 until fr.size).count(i => !net.byId.contains(fr.id(i))) == 1, "unknown-id count")
    val n = net.columns.size
    val vals = new Array[Double](n); val set = new Array[Boolean](n)
    val seen = scala.collection.mutable.Map.empty[String, Double]
    (0 until fr.size).foreach { i =>
      if (Reference.decode(net, fr, i, vals, set))
        net.columns.indices.foreach(c => if (set(c)) seen.getOrElseUpdate(net.columns(c), vals(c)))
    }
    val golden = Map("Engine_Speed" -> 2000.0, "Engine_Temp" -> 35.0, "Engine_On" -> 1.0,
      "Mode" -> 2.0, "Counter_A" -> 1000.0, "Pressure_BE" -> (-204.8f).toDouble,
      "GPS_Speed" -> 1.0, "MuxSel" -> 0.0, "Val_A" -> 1000.0, "Val_B" -> 32767.0)
    golden.foreach { case (k, v) => check(seen.get(k).contains(v), s"$k = ${seen.get(k)}, golden $v") }
    // 10 ms buckets: tumbling {0,4,8} {12,16} {50}; exact opens at 0, 12, 50
    val tum = Reference.tumbling(net, fr, 10.0, relative = true)
    check(tum.keys.toSeq == Seq(0L, 1L, 5L), s"tumbling keys ${tum.keys}")
    check(tum.values.map(_._1).toSeq == Seq(0.0, 12.0, 50.0), "tumbling row times")
    val es = net.colIndex("Engine_Speed")
    check(tum(5L)._2(es) == 0.0 && tum(0L)._2(es) == 2000.0, "Engine_Speed last-wins per bucket")
    val ex = Reference.exact(net, fr, 10.0, ffill = true)
    check(ex.rows == 3 && ex.timeSum == 62.0, s"exact rows ${ex.rows}, Σtime ${ex.timeSum}")
    // forward fill carries Pressure_BE (set once, in the first row) to all 3
    check(ex.count(net.colIndex("Pressure_BE")) == 3, "forward-filled Pressure_BE count")
  }

  def corruption(work: Path): Unit = {
    val spark = Main.session(2, work.resolve("corruption"))
    try {
      val g = Gen.network(11)
      val dir = work.resolve("corruption")
      val dbc = dir.resolve("net.dbc")
      Files.createDirectories(dir)
      Files.write(dbc, g.dbc.getBytes(UTF_8))
      val log = dir.resolve("can.log")
      Gen.writeLog(log, g, Gen.continuous(g, 11, 20000), Gen.epochUs(11))
      val cfg = CanPipelineConfig(cacheMs = 10.0, observeMetrics = true)
      Seq(0, 1).foreach { i =>
        CanPipeline.decodeLog(spark, dbc.toString, log.toString, cfg)
          .write.parquet(dir.resolve(s"out/job$i").toString)
      }
      // corrupt job1: nudge one value of one signal in one row
      val rnet = Reference.parseDbc(g.dbc)
      val victim = rnet.columns.find(_.endsWith("_Y")).get
      val orig = spark.read.parquet(dir.resolve("out/job1").toString)
      val t = orig.filter(col(victim).isNotNull).agg(min(DbcColumns.TimeCol)).head().getDouble(0)
      orig.withColumn(victim, when(col(DbcColumns.TimeCol) === t && col(victim).isNotNull,
          col(victim) + lit(1.0f)).otherwise(col(victim)))
        .write.parquet(dir.resolve("out/job2").toString)
      val want = Reference.summarize(rnet,
        Reference.tumbling(rnet, Reference.readFrames(Seq(log)), 10.0, relative = true).values)
      val got = CanBatch.summaries(spark, Seq(0, 2).map(i => i -> dir.resolve(s"out/job$i")), rnet.columns)
      val failed = Seq(0, 2).count(i => want.mismatch(got(i)).isDefined)
      check(want.mismatch(got(0)).isEmpty, s"clean output flagged: ${want.mismatch(got(0))}")
      check(failed == 1, s"corrupted output not caught (failed = $failed)")
      check(failed.toDouble / 2 > 0, "error rate stayed at 0")
    } finally spark.stop()
  }
}
