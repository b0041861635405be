package graft.can

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import graft.SparkTestSession
import graft.dbc.DbcParser

/** Differential spec of the split-order fold ([[SplitTumbling]], the
  * `--file` tumbling path of [[CanPipeline]]) against the general plan,
  * `Bucketer.bucket(Tumbling)` followed by `ForwardFill.distributed`, row
  * for row, on generated candump logs over a 119-signal network. Each log
  * is cut into explicit input splits, so split edges fall where a case
  * needs them. Every case runs LastWins and FirstWins, each with and
  * without fill.
  */
class SplitTumblingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val CacheMs = 10.0

  /** 29 messages of 4 signals (scaled u16, s8, bool, motorola u12) and one
    * of 3 (a float32, u16, s8): 119 signals.
    */
  private lazy val net = DbcParser.parseString((0 until 29).map { m =>
    s"""BO_ ${512 + m} MSG$m: 8 E
       | SG_ M${m}_A : 0|16@1+ (0.5,-100) [0|0] "" X
       | SG_ M${m}_B : 16|8@1- (1,0) [0|0] "" X
       | SG_ M${m}_C : 24|1@1+ (1,0) [0|0] "" X
       | SG_ M${m}_D : 39|12@0+ (1,0) [0|0] "" X
       |""".stripMargin
  }.mkString("\n") +
    """
      |BO_ 1792 FLT: 8 E
      | SG_ flt32_F : 0|32@1+ (1,0) [0|0] "" X
      | SG_ G : 32|16@1+ (1,0) [0|0] "" X
      | SG_ H : 48|8@1- (1,0) [0|0] "" X
      |""".stripMargin)

  private val FltId = 1792

  /** One candump line: `tsUs` microseconds, 8 payload bytes as hex. */
  private def line(tsUs: Long, id: Int, hex: String): String =
    f"(${tsUs / 1000000}%d.${tsUs % 1000000}%06d) can0 $id%X#$hex"

  private def randomHex(r: scala.util.Random): String =
    (0 until 8).map(_ => f"${r.nextInt(256)}%02X").mkString

  /** A log of `n` frames over every message, `stepUs` apart. */
  private def orderedLog(n: Int, stepUs: Long, seed: Int): Seq[String] = {
    val r = new scala.util.Random(seed)
    (0 until n).map { i =>
      val id = if (r.nextInt(30) == 29) FltId else 512 + r.nextInt(29)
      line(i * stepUs, id, randomHex(r))
    }
  }

  /** Frames read from exactly these input splits, in this order. */
  private def frames(splits: Seq[Seq[String]]): DataFrame = {
    val rdd = spark.sparkContext.parallelize(splits, splits.size).flatMap(identity)
    val lines = spark.createDataset(rdd)(Encoders.STRING).toDF("value")
    assert(lines.rdd.getNumPartitions == splits.size)
    CandumpParser.withTsMs(CandumpParser.parseLines(lines), adjust = false)
  }

  /** `lines` cut into `k` consecutive splits. */
  private def cut(lines: Seq[String], k: Int): Seq[Seq[String]] =
    (0 until k).map(i => lines.slice(i * lines.size / k, (i + 1) * lines.size / k))

  /** The general plan's rows, in time order. */
  private def general(wide: DataFrame, policy: CombinePolicy,
      fill: Boolean): Seq[Row] = {
    val b = Bucketer.bucket(wide, BucketMode.Tumbling(CacheMs), policy)
    (if (fill) ForwardFill.distributed(b, DbcColumns.TimeCol)
     else b.orderBy(DbcColumns.TimeCol)).collect().toSeq
  }

  /** For every policy and fill setting: the pipeline over `splits` equals
    * the general plan row for row (the ordered path emits in time order,
    * so its rows are compared as they come), and the split-order fold
    * runs or falls back as `ordered` says.
    */
  private def check(name: String, splits: Seq[Seq[String]], ordered: Boolean): Unit =
    checkFrames(name, frames(splits), ordered)

  private def checkFrames(name: String, fr: DataFrame, ordered: Boolean): Unit = {
    val wide = SignalDecoder.wideFrame(net, fr)
    for (policy <- Seq(CombinePolicy.LastWins, CombinePolicy.FirstWins);
         fill <- Seq(true, false)) {
      val what = s"$name, $policy, fill = $fill"
      val want = general(wide, policy, fill)
      assert(SplitTumbling(wide, CacheMs, policy, fill).isDefined == ordered,
        s"$what: expected the ${if (ordered) "ordered path" else "fallback"}")
      val got = CanPipeline.fromSplitOrderedFrames(net, fr,
        CanPipelineConfig(cacheMs = CacheMs, forwardFill = fill, combine = policy,
          adjustTimestamp = false))
      assert(got.schema == Bucketer.bucket(wide, BucketMode.Tumbling(CacheMs), policy).schema,
        what)
      val rows = got.collect().toSeq
      if (ordered) {
        assert(got.rdd.getNumPartitions == fr.rdd.getNumPartitions, what)
        assert(rows == want, what)
      } else
        assert(rows.sortBy(_.getDouble(0)) == want, what)
    }
  }

  test("a time-ordered log read in 1..8 splits equals the general plan") {
    // ~370 µs apart: ~27 frames per 10 ms bucket, ~110 buckets, so most
    // split edges cut a bucket in two
    val log = orderedLog(3000, 370, seed = 1)
    (1 to 8).foreach(k => check(s"$k splits", cut(log, k), ordered = true))
  }

  test("equal timestamps, NaN and ±0.0 inside a bucket") {
    // flt32 payload bytes 0-3 (little-endian): NaN 0000C07F, -0.0
    // 00000080, 0.0 00000000, 1.5 0000C03F; G and H vary so each frame
    // also ties on other signals
    val f = (v: String, g: String) => s"${v}${g}0080"
    val ties = Seq(
      line(1000, FltId, f("0000C03F", "0100")),
      line(1000, FltId, f("0000C07F", "0200")), // NaN beats 1.5 at equal ts
      line(1000, FltId, f("00000080", "0300")),
      line(2000, FltId, f("00000080", "0100")), // -0.0 and 0.0 at one ts
      line(2000, FltId, f("00000000", "0100")),
      line(12000, FltId, f("00000000", "0900")),
      line(12000, FltId, f("00000080", "0900")),
      line(15000, FltId, f("0000C07F", "0400")),
      line(15000, 512, "0102030405060708"),
      line(15000, 512, "0807060504030201"),
      line(25000, FltId, f("0000C03F", "0500")),
      line(25000, FltId, f("0000C07F", "0500")),
      line(25000, FltId, f("0000C03F", "0600")))
    check("ties", cut(ties, 1), ordered = true)
    check("ties in 3 splits", cut(ties, 3), ordered = true)
  }

  test("buckets straddling two and three split edges, a one-bucket split " +
      "and empty splits") {
    val r = new scala.util.Random(7)
    // frames of bucket `b` at offsets (µs), jittered inside the bucket;
    // the signal sets differ per part, so fills cross every edge
    def part(b: Int, offsets: Int*): Seq[String] = offsets.map { o =>
      val id = if (r.nextBoolean()) 512 + r.nextInt(3) else FltId
      line(b * 10000L + o, id, randomHex(r))
    }
    val splits = Seq(
      part(0, 100, 900) ++ part(1, 5000, 200) ++ part(2, 9000),
      part(2, 100, 4000),                  // bucket 2 only: the middle of a run
      part(2, 9999, 50) ++ part(3, 3000),  // bucket 2 spans three splits
      Seq.empty,
      part(3, 10, 20),                     // bucket 3 spans an empty split
      part(4, 5000),                       // one bucket, its own
      Seq.empty,
      part(4, 100) ++ part(6, 1, 2, 3),    // bucket 4 again, across an empty split
      part(6, 0) ++ part(9, 9999))
    check("straddling runs", splits, ordered = true)
  }

  test("timestamps jittered inside buckets whose ids never decrease take " +
      "the ordered path") {
    val r = new scala.util.Random(3)
    val log = (0 until 60).flatMap { b =>
      Seq.fill(20)(b * 10000L + r.nextInt(10000)).map { ts =>
        line(ts, 512 + r.nextInt(5), randomHex(r))
      }
    }
    // 7 splits of a 1,200-frame log: every edge cuts a bucket
    check("jitter", cut(log, 7), ordered = true)
  }

  test("a shuffled log takes the fallback and still equals the general plan") {
    val log = new scala.util.Random(5).shuffle(orderedLog(1500, 370, seed = 2))
    check("shuffled", cut(log, 4), ordered = false)
    // two ordered splits over one time range, as two interfaces' logs:
    // every split is ordered, but their buckets interleave
    val both = orderedLog(1500, 370, seed = 3)
    check("overlapping splits", Seq(both.indices.filter(_ % 2 == 0).map(both),
      both.indices.filter(_ % 2 == 1).map(both)), ordered = false)
  }

  test("ordered splits out of order are emitted in time order") {
    // each split is ordered and covers its own time range; bucket runs
    // still straddle the edges between the time-ordered splits
    val splits = cut(orderedLog(1500, 370, seed = 4), 4)
    check("splits reversed", splits.reverse, ordered = true)
    check("splits permuted", Seq(splits(2), Seq.empty, splits(0), splits(3),
      splits(1)), ordered = true)
  }

  test("a directory of logs, named against their time order, takes the ordered path") {
    val dir = java.nio.file.Files.createTempDirectory("split_tumbling")
    try {
      val log = orderedLog(2400, 370, seed = 6)
      // c.log holds the first frames, a.log the last
      Seq("c", "b", "a").zip(cut(log, 3)).foreach { case (name, lines) =>
        java.nio.file.Files.write(dir.resolve(s"$name.log"),
          lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      }
      checkFrames("directory", CandumpParser.readLog(spark, dir.toString,
        adjustTimestamp = false), ordered = true)
    } finally {
      Option(dir.toFile.listFiles()).foreach(_.foreach(_.delete()))
      dir.toFile.delete()
    }
  }
}
