package graft.can

import java.nio.charset.StandardCharsets.UTF_8

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkTestSession
import graft.plans.CandumpLine

/** Differential property spec: the one-pass [[CandumpLine]] scanner against
  * [[CandumpParser.LineRe]], the regex it implements. The oracle reads each
  * line the way Spark's `rlike`/`regexp_extract` did (decode the UTF-8
  * bytes, `Matcher.find`, then the old column arithmetic on the groups),
  * so any line the two disagree on — accepted by one only, or parsed to a
  * different frame — fails with the line printed.
  */
class CandumpLineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val pattern = java.util.regex.Pattern.compile(CandumpParser.LineRe)

  /** (ts_us, iface bytes, can_id, data bytes) of a parsed frame. */
  private type Frame = (Long, Seq[Byte], Long, Seq[Byte])

  private def oracle(bytes: Array[Byte]): Option[Frame] = {
    val m = pattern.matcher(UTF8String.fromBytes(bytes).toString)
    if (!m.find()) None
    else {
      val frac = m.group(2).take(6)
      val hex = m.group(5)
      val even = hex.take(math.min(16, hex.length - hex.length % 2))
      Some((m.group(1).toLong * 1000000L + (frac + "0" * (6 - frac.length)).toLong,
        UTF8String.fromString(m.group(3)).getBytes.toSeq,
        java.lang.Long.parseLong(m.group(4), 16),
        even.grouped(2).map(h => Integer.parseInt(h, 16).toByte).toSeq))
    }
  }

  /** The scanner on a view into a larger buffer, so a wrong base offset
    * shows up as a wrong parse.
    */
  private def scanned(bytes: Array[Byte]): Option[Frame] = {
    val buf = Array.fill[Byte](7)('(') ++ bytes ++ Array.fill[Byte](5)('#')
    Option(CandumpLine.scan(UTF8String.fromBytes(buf, 7, bytes.length))).map { r =>
      (r.getLong(0), r.getUTF8String(1).getBytes.toSeq, r.getLong(2), r.getBinary(3).toSeq)
    }
  }

  // ---- the generator ------------------------------------------------------

  private val spaces = Vector(" ", "  ", "\t", " \t ", "\u000b", "\f", "\r")
  private def ws(rnd: Random): String = spaces(rnd.nextInt(spaces.size))
  private def digits(rnd: Random, n: Int): String =
    Seq.fill(n)(('0' + rnd.nextInt(10)).toChar).mkString
  private def hex(rnd: Random, n: Int): String =
    Seq.fill(n)("0123456789abcdefABCDEF"(rnd.nextInt(22))).mkString

  /** A line in the grammar's neighbourhood: every field drawn from valid
    * and boundary-violating shapes, so both outcomes are frequent.
    */
  private def candidate(rnd: Random): String = {
    val lead = if (rnd.nextInt(4) == 0) ws(rnd) else ""
    val secN = Seq(1, 10, 11, 11, 12, 13)(rnd.nextInt(6))
    val ts = rnd.nextInt(5) match {
      case 0 => digits(rnd, secN) // no dot: up to 20 digits still match
      case 1 => digits(rnd, secN + rnd.nextInt(10))
      case 2 => "." + digits(rnd, 3)
      case _ => digits(rnd, secN) + "." + digits(rnd, rnd.nextInt(11))
    }
    val iface = Seq("can0", "vcan12", "can-ü", "c#1", "x")(rnd.nextInt(5))
    val id = hex(rnd, 1 + rnd.nextInt(9))
    val remote = if (rnd.nextInt(5) == 0) "R" else ""
    val payload = hex(rnd, Seq(0, 1, 2, 7, 8, 15, 16, 17, 18, 24)(rnd.nextInt(10)))
    val trail = rnd.nextInt(8) match {
      case 0 => ws(rnd)
      case 1 => "\r\n"
      case 2 => Seq("\u0085", "\u2028", "\u2029", " \u0085", "\u2028 ")(rnd.nextInt(5))
      case _ => ""
    }
    val line = s"$lead($ts)${ws(rnd)}$iface${ws(rnd)}$id#$remote$payload$trail"
    rnd.nextInt(6) match {
      case 0 => // one corrupted character anywhere
        val i = rnd.nextInt(line.length)
        val bad = "()#. xR\u00e9\u0000"
        line.updated(i, bad(rnd.nextInt(bad.length)))
      case 1 => line.take(rnd.nextInt(line.length + 1)) // truncated
      case _ => line
    }
  }

  private def garbage(rnd: Random): Array[Byte] = rnd.nextInt(3) match {
    case 0 => Array.fill(rnd.nextInt(30))(rnd.nextInt(256).toByte) // any bytes
    case 1 => // a valid line with a raw invalid UTF-8 sequence spliced in
      val b = candidate(rnd).getBytes(UTF_8)
      val i = rnd.nextInt(b.length + 1)
      b.take(i) ++ Array[Byte](0xE2.toByte, 0x80.toByte) ++ b.drop(i)
    case _ => // non-ASCII text
      Seq("(1.0) кан0 123#00", "（1.0） can0 123#00", "(1.0) can0 １２３#00",
        "(1.0)\u00a0can0 123#00", "(1.0) can0\u3000123#00")(rnd.nextInt(5)).getBytes(UTF_8)
  }

  test("scanner agrees with LineRe on 30,000 generated lines") {
    val rnd = new Random(20261018L)
    var accepted = 0
    (0 until 30000).foreach { k =>
      val bytes = if (k % 10 == 0) garbage(rnd) else candidate(rnd).getBytes(UTF_8)
      val want = oracle(bytes)
      val got = scanned(bytes)
      if (got != want) {
        val shown = new String(bytes, UTF_8).flatMap(c =>
          if (c < ' ' || c > '~') f"\\u${c.toInt}%04x" else c.toString)
        fail(s"line $k: scanner $got, LineRe $want on \"$shown\"")
      }
      if (want.isDefined) accepted += 1
    }
    // both outcomes must be well represented for the agreement to mean much
    assert(accepted > 6000 && accepted < 24000, s"accepted $accepted of 30000")
  }

  test("boundary shapes: digit counts, whitespace, remote frames, nibbles, cap") {
    val cases = Seq(
      "(12345678901.123456) can0 1#00" -> true, // 11 second digits
      "(123456789012.5) can0 1#00" -> false, // 12 with a dot
      "(123456789012) can0 1#00" -> true, // 12 without: 11 + 1 fraction
      "(12345678901234567890) can0 1#00" -> true, // 20 without a dot
      "(123456789012345678901) can0 1#00" -> false, // 21
      "(1.123456789) can0 1#00" -> true, // 9 fraction digits
      "(1.1234567890) can0 1#00" -> false, // 10
      "(1.) can0 1#00" -> true,
      "(.5) can0 1#00" -> false,
      "\t (1.0)\t\tcan0 \t 1#00\t " -> true,
      "(1.0) can0 123456789#00" -> false, // 9-digit id
      "(1.0) can0 18FF50E5#R" -> true,
      "(1.0) can0 1#r" -> false,
      "(1.0) can0 1#R0A1" -> true,
      "(1.0) can0 1#00112233445566778899AA" -> true,
      "(1.0) can0 1#00\u2028" -> true, // `$` before a final line terminator
      "(1.0) can0 1#00\u2029 " -> false,
      "(1.0) can0 extra 1#00" -> false,
      "(1.0) can0" -> false,
      "" -> false)
    cases.foreach { case (line, ok) =>
      val b = line.getBytes(UTF_8)
      assert(oracle(b).isDefined == ok, s"oracle on '$line'")
      assert(scanned(b) == oracle(b), s"scanner on '$line'")
    }
  }

  /** The regex-built parse this scanner replaced, kept as the oracle plan. */
  private def regexParse(lines: DataFrame): DataFrame = {
    val c = col("value")
    val re = CandumpParser.LineRe
    lines.filter(c.rlike(re))
      .withColumn("_hex", regexp_extract(c, re, 5))
      .select(
        (regexp_extract(c, re, 1).cast("long") * 1000000L +
          rpad(substring(regexp_extract(c, re, 2), 1, 6), 6, "0").cast("long")).as("ts_us"),
        regexp_extract(c, re, 3).as("iface"),
        conv(regexp_extract(c, re, 4), 16, -10).cast("long").as("can_id"),
        unhex(expr("substring(_hex, 1, least(16, length(_hex) - length(_hex) % 2))")).as("data"))
  }

  private def frames(df: DataFrame): Seq[String] =
    df.select(concat_ws("|", col("ts_us"), col("iface"), col("can_id"), org.apache.spark.sql.functions.hex(col("data"))))
      .as[String].collect().toSeq.sorted

  private def codegenOnly[T](body: => T): T = {
    val keys = Seq("spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
    val before = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("parseLines (generated code) equals the regex plan on 5,000 lines") {
    val rnd = new Random(7L)
    val lines = (0 until 5000).map(_ => candidate(rnd)).toDF("value").repartition(3)
    val got = codegenOnly(frames(CandumpParser.parseLines(lines)))
    assert(got.nonEmpty)
    assert(got == frames(regexParse(lines)))
  }

  test("F2 drop counts unchanged on mini.log and a noisy log") {
    def drops(path: String): (Long, Long) = {
      val lines = CandumpParser.textLines(spark, path)
      (lines.count() - CandumpParser.parseLines(lines).count(),
        lines.count() - regexParse(lines).count())
    }
    // mini.log: 9 lines, the blank and the garbage line are dropped
    assert(drops("fixtures/mini.log") == ((2L, 2L)))
    // tool-export noise: BOM, CRLF, tabs, a blank and a comment line
    val noisy = java.nio.file.Files.createTempFile("noise", ".log")
    java.nio.file.Files.write(noisy, ("\ufeff(1.0) can0 100#01\r\n" +
      "(1.5)\tcan0\t100#02\r\n\r\n# comment\r\n  (2.0)  can0  200#R  \r\n" +
      "(2.5) can0 2000000000#00\r\n(3.0) can0 300#0102030405060708090A\r\n")
      .getBytes(UTF_8))
    // dropped: the blank line, the comment and the 10-digit id (the line
    // reader strips the leading UTF-8 BOM, so that line parses)
    assert(drops(noisy.toString) == ((3L, 3L)))
  }
}
