package perfbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.util.Random

/** Seeded input generators. Every output is a pure function of its seed
  * (and, for the live stream, of a caller-given time anchor): the same
  * seed gives the same bytes.
  *
  * The network layout is fixed — 24 messages, 119 signals (below graft's
  * 150-signal codegen aggregate limit), a mix of bit widths, signedness,
  * scales, Intel and Motorola byte order, one multiplexed message and one
  * `flt32_` signal, message periods from 1 to 100 ms (about 2,920
  * frames/s). Seeds move message ids, unknown ids, timing jitter, payloads
  * and malformed lines, so the work per frame stays comparable across
  * seeds.
  */
object Gen {

  sealed trait Kind
  case object Plain extends Kind
  case object Multiplexed extends Kind
  case object Float32 extends Kind

  /** The generator's own model of one message: enough to shape payloads. */
  final case class Msg(id: Int, name: String, periodUs: Long, kind: Kind)

  final case class Net(dbc: String, msgs: IndexedSeq[Msg], unknownIds: IndexedSeq[Int])

  private final case class Field(len: Int, signed: Boolean, factor: String, offset: String)

  /** 22 five-signal templates for the plain messages. Drawn from a fixed
    * generator, so every seed gets the same multiset of signal kinds.
    */
  private val templates: IndexedSeq[IndexedSeq[Field]] = {
    val r = new Random(20231114L)
    val lens = Array(1, 2, 4, 8, 12, 16)
    val factors = Array("1", "1", "0.1", "0.25", "0.5", "0.01", "2")
    (0 until 22).map { _ =>
      var fs: IndexedSeq[Field] = null
      while (fs == null || fs.map(_.len).sum > 64) {
        fs = (0 until 5).map { _ =>
          val len = lens(r.nextInt(lens.length))
          if (len == 1) Field(1, signed = false, "1", "0")
          else {
            val f = factors(r.nextInt(factors.length))
            val off = if (f != "1" && r.nextInt(5) == 0) "-40" else "0"
            Field(len, signed = len >= 4 && r.nextInt(10) < 3, f, off)
          }
        }
      }
      fs
    }
  }

  private val periodsMs: IndexedSeq[Int] =
    IndexedSeq(1, 2, 5, 5) ++ Seq.fill(6)(10) ++ Seq.fill(6)(20) ++
      Seq.fill(4)(50) ++ Seq.fill(4)(100)

  /** Motorola DBC start bit of a field whose MSB sits at big-endian stream
    * position `q` (0 = most significant bit of byte 0).
    */
  private def motorolaStart(q: Int): Int = (q / 8) * 8 + (7 - q % 8)

  def network(seed: Long): Net = {
    val r = new Random(seed * 7919L + 17L)
    val idPool = r.shuffle((0x080 until 0x700).toVector)
    val ids = idPool.take(24)
    val unknown = r.shuffle((0x700 until 0x800).toVector).take(4)
    // the layout (kinds, templates, byte order, periods) is the same for
    // every seed: it decides the decode work and the output's compressibility,
    // so holding it fixed keeps runs of different seeds comparable
    val kinds: IndexedSeq[Kind] = (0 until 24).map {
      case 5 => Multiplexed
      case 17 => Float32
      case _ => Plain
    }
    val sb = new StringBuilder
    sb ++= "VERSION \"\"\n\nNS_ :\n\nBS_:\n\nBU_: ECU LOGGER\n\n"
    var plainIx = 0
    val msgs = kinds.indices.map { i =>
      val name = f"M$i%02d"
      val id = ids(i)
      sb ++= s"BO_ $id $name: 8 ECU\n"
      def sig(n: String, mux: String, start: Int, len: Int, le: Boolean,
          signed: Boolean, f: String, o: String): Unit =
        sb ++= s" SG_ $n $mux: $start|$len@${if (le) 1 else 0}" +
          s"${if (signed) "-" else "+"} ($f,$o) [0|0] \"\" LOGGER\n"
      kinds(i) match {
        case Plain =>
          val fs = templates(plainIx); val le = plainIx % 2 == 0; plainIx += 1
          var pos = 0
          fs.zipWithIndex.foreach { case (fd, k) =>
            val start = if (le) pos else motorolaStart(pos)
            sig(s"${name}_S$k", "", start, fd.len, le, fd.signed, fd.factor, fd.offset)
            pos += fd.len
          }
        case Multiplexed =>
          sig(s"${name}_Sel", "M ", 0, 8, le = true, signed = false, "1", "0")
          sig(s"${name}_A", "m0 ", 8, 16, le = true, signed = false, "0.5", "0")
          sig(s"${name}_B", "m0 ", 24, 8, le = true, signed = false, "1", "0")
          sig(s"${name}_C", "m1 ", 8, 16, le = true, signed = true, "1", "0")
          sig(s"${name}_D", "m1 ", 24, 12, le = true, signed = false, "0.1", "0")
          sig(s"${name}_E", "m2 ", 8, 24, le = true, signed = false, "0.01", "0")
        case Float32 =>
          sig(s"flt32_${name}_Speed", "", 0, 32, le = true, signed = false, "1", "0")
          sig(s"${name}_Y", "", 32, 16, le = true, signed = false, "0.1", "0")
          sig(s"${name}_Z", "", motorolaStart(48), 16, le = false, signed = true, "0.5", "0")
      }
      sb ++= "\n"
      Msg(id, name, periodsMs(i) * 1000L, kinds(i))
    }
    Net(sb.toString, msgs, unknown)
  }

  /** A frame schedule, sorted by strictly increasing relative timestamp.
    * `msg(i)` indexes `Net.msgs`, or is `-(1 + k)` for unknown id k.
    * `bad(i)` > 0 puts a malformed line of that variant before frame i.
    */
  final class Frames(val ts: Array[Long], val msg: Array[Int],
      val payload: Array[Long], val bad: Array[Byte]) {
    def size: Int = ts.length
  }

  /** Periodic traffic (with sub-period jitter) for each session
    * `(startUs, durUs)`, plus about 2% unknown-id frames and 0.1% malformed
    * lines. `rateScale` > 1 shortens every period by that factor.
    */
  def schedule(net: Net, seed: Long, sessions: Seq[(Long, Long)],
      rateScale: Double = 1.0): Frames = {
    val r = new Random(seed * 31L + 7L)
    val keys = Array.newBuilder[Long]
    for ((start, dur) <- sessions) {
      var known = 0L
      net.msgs.indices.foreach { i =>
        val period = math.max(2L, math.round(net.msgs(i).periodUs / rateScale))
        val jitter = math.max(1L, math.min(period / 4, 200L)).toInt
        var t = start + (r.nextDouble() * period).toLong
        while (t < start + dur) {
          keys += pack(t + r.nextInt(jitter), i)
          known += 1
          t += period
        }
      }
      val nUnknown = math.round(known * 0.02)
      var k = 0L
      while (k < nUnknown) {
        keys += pack(start + (r.nextDouble() * dur).toLong, -(1 + r.nextInt(net.unknownIds.size)))
        k += 1
      }
    }
    val sorted = keys.result()
    java.util.Arrays.sort(sorted)
    val n = sorted.length
    val ts = new Array[Long](n); val msg = new Array[Int](n)
    var prev = Long.MinValue
    var i = 0
    while (i < n) {
      var t = sorted(i) >> 6
      if (t <= prev) t = prev + 1 // strictly increasing: no equal-ts ties
      ts(i) = t; msg(i) = (sorted(i) & 63L).toInt - 8; prev = t
      i += 1
    }
    // payloads in time order: a random walk per message, so values are
    // telemetry-like (compressible) rather than uniform noise
    val p = new Random(seed * 131L + 3L)
    val state = Array.fill(net.msgs.size)(p.nextLong())
    val speed = Array.fill(net.msgs.size)(p.nextDouble() * 100.0)
    val payload = new Array[Long](n)
    val bad = new Array[Byte](n)
    i = 0
    while (i < n) {
      val m = msg(i)
      payload(i) =
        if (m < 0) p.nextLong()
        else {
          var s = state(m)
          net.msgs(m).kind match {
            case Plain =>
              s = setByte(setByte(s, p.nextInt(8), p.nextInt(256)), p.nextInt(8), p.nextInt(256))
            case Multiplexed =>
              s = setByte(setByte(s, 1 + p.nextInt(7), p.nextInt(256)), 0, p.nextInt(3))
            case Float32 =>
              speed(m) = math.min(120.0, math.max(0.0, speed(m) + p.nextGaussian() * 0.5))
              val bits = Integer.reverseBytes(java.lang.Float.floatToIntBits(speed(m).toFloat))
              s = (s & 0xFFFFFFFFL) | ((bits.toLong & 0xFFFFFFFFL) << 32)
              s = setByte(s, 4 + p.nextInt(4), p.nextInt(256))
          }
          state(m) = s
          s
        }
      if (p.nextInt(1000) == 0) bad(i) = (1 + p.nextInt(4)).toByte
      i += 1
    }
    new Frames(ts, msg, payload, bad)
  }

  private def pack(t: Long, m: Int): Long = (t << 6) | (m + 8).toLong

  /** Payload byte `b` (0 = first on the wire = most significant). */
  private def setByte(s: Long, b: Int, v: Int): Long = {
    val sh = 8 * (7 - b)
    (s & ~(0xFFL << sh)) | ((v.toLong & 0xFFL) << sh)
  }

  private def stamp(sb: java.lang.StringBuilder, absUs: Long): Unit = {
    val us = (absUs % 1000000L).toInt
    sb.append('(').append(absUs / 1000000L).append('.')
    var d = 100000
    while (d > 0) { sb.append(('0' + us / d % 10).toChar); d /= 10 }
    sb.append(')')
  }

  private def stamp(absUs: Long): String = {
    val sb = new java.lang.StringBuilder(20); stamp(sb, absUs); sb.toString
  }

  private val Hex = "0123456789ABCDEF"

  private def hex(sb: java.lang.StringBuilder, v: Long, digits: Int): Unit = {
    var k = digits - 1
    while (k >= 0) { sb.append(Hex.charAt(((v >>> (4 * k)) & 15L).toInt)); k -= 1 }
  }

  /** Candump line of frame i; absolute time = `baseUs` + its relative ts. */
  def line(net: Net, fr: Frames, i: Int, baseUs: Long): String = {
    val m = fr.msg(i)
    val id = if (m < 0) net.unknownIds(-m - 1) else net.msgs(m).id
    val sb = new java.lang.StringBuilder(48)
    stamp(sb, baseUs + fr.ts(i))
    sb.append(" can0 ")
    hex(sb, id.toLong, 3)
    sb.append('#')
    hex(sb, fr.payload(i), 16)
    sb.toString
  }

  /** Malformed-line variants (all rejected by a candump parser). */
  def badLine(kind: Int, absUs: Long): String = kind match {
    case 1 => ""
    case 2 => "not a can line"
    case 3 => s"${stamp(absUs)} can0 12G#0011"
    case _ => s"${stamp(absUs)} can0"
  }

  final case class LogStats(lines: Long, malformed: Long, unknown: Long, known: Long)

  /** Emits every line of `fr` in order; `emit(relTs, line)`. */
  def render(net: Net, fr: Frames, baseUs: Long, from: Int, until: Int)(
      emit: String => Unit): Unit = {
    var i = from
    while (i < until) {
      if (fr.bad(i) > 0) emit(badLine(fr.bad(i).toInt, baseUs + fr.ts(i)))
      emit(line(net, fr, i, baseUs))
      i += 1
    }
  }

  def stats(fr: Frames): LogStats = {
    val malformed = fr.bad.count(_ > 0).toLong
    val unknown = fr.msg.count(_ < 0).toLong
    LogStats(fr.size + malformed, malformed, unknown, fr.size - unknown)
  }

  def writeLog(path: Path, net: Net, fr: Frames, baseUs: Long): LogStats = {
    Files.createDirectories(path.getParent)
    val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(path.toFile), UTF_8), 1 << 16)
    try render(net, fr, baseUs, 0, fr.size) { l => w.write(l); w.write('\n') }
    finally w.close()
    stats(fr)
  }

  /** Epoch anchor of a seed's batch logs (a fixed day in late 2023). */
  def epochUs(seed: Long): Long = 1700000000000000L + (seed.abs % 1000L) * 86400000000L

  /** One continuous session of about `frames` frames. */
  def continuous(net: Net, seed: Long, frames: Int): Frames = {
    val perSec = net.msgs.map(m => 1e6 / m.periodUs).sum * 1.02
    schedule(net, seed, Seq((0L, (frames / perSec * 1e6).toLong)))
  }

  /** A test day: `n` sessions of about `frames / n` frames each, separated
    * by idle gaps of 5 to 60 s (far longer than any bucket width).
    */
  def testDay(net: Net, seed: Long, frames: Int, n: Int): Frames = {
    val perSec = net.msgs.map(m => 1e6 / m.periodUs).sum * 1.02
    val dur = (frames.toDouble / n / perSec * 1e6).toLong
    val r = new Random(seed * 17L + 5L)
    var t = 0L
    val sessions = (0 until n).map { _ =>
      val s = (t, dur); t += dur + 5000000L + r.nextInt(55000000).toLong; s
    }
    schedule(net, seed, sessions)
  }

  // ---- corpus for near-duplicate detection -------------------------------

  final case class Corpus(ids: Array[Long], texts: Array[String],
      planted: Array[(Long, Long)])

  /** `n` documents of 50 to 70 tokens over a 30,000-word Zipf(1.1)
    * vocabulary. Every 20th is a planted twin: a copy of an earlier document
    * with one or two tokens replaced (shingle Jaccard about 0.8 to 0.9).
    * `planted` lists each (original, twin) id pair, original < twin.
    */
  def corpus(seed: Long, n: Int): Corpus = {
    val r = new Random(seed * 104729L + 11L)
    val v = 30000
    val words = r.shuffle((0 until v).toVector).map { k =>
      val sb = new StringBuilder("w")
      var x = k
      sb += ('a' + x % 26).toChar
      while (x >= 26) { x /= 26; sb += ('a' + x % 26).toChar }
      sb.toString
    }.toArray
    val cdf = new Array[Double](v)
    var acc = 0.0
    var k = 0
    while (k < v) { acc += 1.0 / math.pow(k + 1, 1.1); cdf(k) = acc; k += 1 }
    def word(): String = {
      val x = r.nextDouble() * acc
      val j = java.util.Arrays.binarySearch(cdf, x)
      words(if (j >= 0) j else math.min(v - 1, -j - 1))
    }
    val toks = new Array[Array[String]](n)
    val planted = Array.newBuilder[(Long, Long)]
    var i = 0
    while (i < n) {
      if (i % 20 == 19) {
        val j = r.nextInt(i)
        val t = toks(j).clone()
        (0 until 1 + r.nextInt(2)).foreach(_ => t(r.nextInt(t.length)) = word())
        toks(i) = t
        planted += ((j + 1L, i + 1L))
      } else toks(i) = Array.fill(50 + r.nextInt(21))(word())
      i += 1
    }
    Corpus(Array.tabulate(n)(_ + 1L), toks.map(_.mkString(" ")), planted.result())
  }
}
