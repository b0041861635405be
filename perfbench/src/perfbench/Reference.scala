package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable

/** Independent reference for the benchmark's correctness check. Plain
  * Scala over the generated files: its own DBC subset parser, candump
  * parser, bit extraction, bucketing, forward fill and shingle Jaccard. It
  * calls no graft code, so a defect in a graft layer cannot hide by being
  * shared with the check.
  *
  * Output comparison is by per-column checksums: row count, the sum of
  * `Time_ms`, and for every signal column its non-null count and value sum
  * (booleans as 0/1). Values follow graft's documented typing: scaled
  * fields narrower than 32 bits are float32, factor-1 whole-offset fields
  * are integers, 1-bit fields are booleans, `flt32_` fields reinterpret
  * their raw bits as an IEEE float.
  */
object Reference {

  final case class Sig(name: String, start: Int, len: Int, intel: Boolean,
      signed: Boolean, factor: Double, offset: Double, isSwitch: Boolean,
      muxVal: Option[Long], flt32: Boolean) {
    val mask: Long = if (len >= 64) -1L else (1L << len) - 1L
    private val q = (start / 8) * 8 + (7 - start % 8) // Motorola MSB position
    private val beShift = 64 - q - len

    def raw(le: Long, be: Long): Long = {
      val u = if (intel) (le >>> start) & mask else (be >>> beShift) & mask
      if (signed && len < 64) (u << (64 - len)) >> (64 - len) else u
    }

    def value(raw: Long): Double =
      if (flt32) java.lang.Float.intBitsToFloat(raw.toInt).toDouble
      else if (len == 1) (if (raw != 0L) 1.0 else 0.0)
      else if (factor == 1.0 && offset.isWhole) raw.toDouble + offset
      else {
        val d = raw.toDouble * factor + offset
        if (len < 32) d.toFloat.toDouble else d
      }
  }

  final case class Msg(id: Long, sigs: IndexedSeq[Sig]) {
    val switch: Option[Sig] = sigs.find(_.isSwitch)
  }

  /** Messages in file order; `columns` = signal columns in output order. */
  final case class Net(msgs: IndexedSeq[Msg]) {
    val byId: Map[Long, Msg] = msgs.map(m => m.id -> m).toMap
    val columns: IndexedSeq[String] = msgs.flatMap(_.sigs.map(_.name))
    val colIndex: Map[String, Int] = columns.zipWithIndex.toMap
    val sigCol: Map[(Long, String), Int] =
      msgs.flatMap(m => m.sigs.map(s => (m.id, s.name) -> colIndex(s.name))).toMap
  }

  private val BoRe = """^BO_\s+(\d+)\s+\w+\s*:\s*\d+\s+\S+.*$""".r
  private val SgRe =
    """^\s+SG_\s+(\S+)\s+(M|m\d+)?\s*:\s*(\d+)\|(\d+)@([01])([+-])\s*\(([^,]+),([^)]+)\).*$""".r

  def parseDbc(text: String): Net = {
    val msgs = mutable.ArrayBuffer.empty[Msg]
    var cur: Option[(Long, mutable.ArrayBuffer[Sig])] = None
    def flush(): Unit = cur.foreach { case (id, ss) => msgs += Msg(id, ss.toIndexedSeq) }
    text.split("\r?\n").foreach {
      case BoRe(id) =>
        flush()
        cur = Some((id.toLong & 0x1FFFFFFFL, mutable.ArrayBuffer.empty[Sig]))
      case SgRe(name, mux, start, len, order, sign, f, o) =>
        val flt = name.startsWith("flt32_")
        val m = Option(mux)
        cur.get._2 += Sig(if (flt) name.stripPrefix("flt32_") else name,
          start.toInt, len.toInt, order == "1", sign == "-", f.trim.toDouble,
          o.trim.toDouble, m.contains("M"),
          m.filter(_.startsWith("m")).map(_.drop(1).toLong), flt)
      case _ =>
    }
    flush()
    Net(msgs.toIndexedSeq)
  }

  // ---- candump lines --------------------------------------------------------

  private val LineRe =
    """^\s*\((\d{1,11})\.(\d{0,9})\)\s+(\S+)\s+([0-9A-Fa-f]{1,8})#([0-9A-Fa-f]*)\s*$""".r

  /** Parsed frames of a set of candump files, plus line accounting. */
  final class Frames(val tsUs: Array[Long], val id: Array[Long],
      val be: Array[Long], val lines: Long) {
    def size: Int = tsUs.length
    def malformed: Long = lines - size
  }

  def readFrames(files: Seq[Path]): Frames = {
    val ts = Array.newBuilder[Long]; val id = Array.newBuilder[Long]
    val be = Array.newBuilder[Long]
    var lines = 0L
    files.foreach { f =>
      val rd = Files.newBufferedReader(f, UTF_8)
      try {
        var l = rd.readLine()
        while (l != null) {
          lines += 1
          l match {
            case LineRe(sec, frac, _, hexId, data) =>
              ts += sec.toLong * 1000000L + (frac + "000000").take(6).toLong
              id += java.lang.Long.parseLong(hexId, 16)
              // whole bytes only, at most 8, zero-padded on the right
              val nBytes = math.min(8, data.length / 2)
              val v = if (nBytes == 0) 0L else java.lang.Long.parseUnsignedLong(data.substring(0, 2 * nBytes), 16)
              be += (if (nBytes == 8) v else v << (8 * (8 - nBytes)))
            case _ =>
          }
          l = rd.readLine()
        }
      } finally rd.close()
    }
    new Frames(ts.result(), id.result(), be.result(), lines)
  }

  /** Decodes known-id frame i into `vals`/`set` (cleared first); false
    * for an unknown id (dropped).
    */
  def decode(net: Net, fr: Frames, i: Int, vals: Array[Double], set: Array[Boolean]): Boolean =
    net.byId.get(fr.id(i)) match {
      case None => false
      case Some(m) =>
        java.util.Arrays.fill(set, false)
        val be = fr.be(i); val le = java.lang.Long.reverseBytes(be)
        val sw = m.switch.map(_.raw(le, be))
        m.sigs.foreach { s =>
          if (s.muxVal.forall(v => sw.contains(v))) {
            val c = net.colIndex(s.name)
            vals(c) = s.value(s.raw(le, be)); set(c) = true
          }
        }
        true
    }

  // ---- bucketed output checksums ---------------------------------------------

  /** Checksums of a wide table: rows, Σ Time_ms, per-column non-null
    * count, value sum and absolute value sum (for the tolerance).
    */
  final class Summary(val columns: IndexedSeq[String]) {
    var rows = 0L
    var timeSum = 0.0
    val count = new Array[Long](columns.size)
    val sum = new Array[Double](columns.size)
    val absSum = new Array[Double](columns.size)

    def add(time: Double, vals: Array[Double], set: Array[Boolean]): Unit = {
      rows += 1; timeSum += time
      var c = 0
      while (c < vals.length) {
        if (set(c)) { count(c) += 1; sum(c) += vals(c); absSum(c) += math.abs(vals(c)) }
        c += 1
      }
    }

    /** First disagreement with `got` (graft's output), if any. */
    def mismatch(got: Summary): Option[String] = {
      def close(a: Double, b: Double, scale: Double) =
        math.abs(a - b) <= 1e-9 * math.max(1.0, scale)
      if (got.rows != rows) Some(s"rows ${got.rows} != expected $rows")
      else if (!close(got.timeSum, timeSum, math.abs(timeSum)))
        Some(s"sum(Time_ms) ${got.timeSum} != expected $timeSum")
      else columns.indices.collectFirst {
        case c if got.count(c) != count(c) =>
          s"count(${columns(c)}) ${got.count(c)} != expected ${count(c)}"
        case c if !close(got.sum(c), sum(c), absSum(c)) =>
          s"sum(${columns(c)}) ${got.sum(c)} != expected ${sum(c)}"
      }
    }
  }

  /** Frame indices in time order (a stable sort: ties keep file order). */
  private def order(fr: Frames): Array[Int] = {
    val keys = Array.tabulate(fr.size)(i => (fr.tsUs(i), i))
    scala.util.Sorting.stableSort(keys, (a: (Long, Int), b: (Long, Int)) => a._1 < b._1)
    keys.map(_._2)
  }

  /** Tumbling buckets of `cacheMs` on `ts_ms` (ms since the first frame, or
    * epoch ms when `relative` is false): row time = first frame's ts,
    * values = last non-null per column. Returns bucket key → row summary
    * contribution, in key order.
    */
  def tumbling(net: Net, fr: Frames, cacheMs: Double, relative: Boolean)
      : mutable.TreeMap[Long, (Double, Array[Double], Array[Boolean])] = {
    val t0 = if (relative && fr.size > 0) fr.tsUs.min else 0L
    val n = net.columns.size
    val vals = new Array[Double](n); val set = new Array[Boolean](n)
    val out = mutable.TreeMap.empty[Long, (Double, Array[Double], Array[Boolean])]
    order(fr).foreach { i =>
      if (decode(net, fr, i, vals, set)) {
        val ts = (fr.tsUs(i) - t0) / 1000.0
        val key =
          if (relative) math.floor(ts / cacheMs).toLong
          else Math.floorDiv(ts.toLong, cacheMs.toLong) // streaming window()
        val row = out.getOrElseUpdate(key, (ts, new Array[Double](n), new Array[Boolean](n)))
        var c = 0
        while (c < n) { if (set(c)) { row._2(c) = vals(c); row._3(c) = true }; c += 1 }
      }
    }
    out
  }

  /** Forward fill across rows in order: a null cell takes the last non-null
    * value of its column from earlier rows.
    */
  def forwardFill(rows: Iterable[(Double, Array[Double], Array[Boolean])])
      : Seq[(Double, Array[Double], Array[Boolean])] = {
    var carryV: Array[Double] = null; var carryS: Array[Boolean] = null
    rows.toSeq.map { case (t, v, st) =>
      if (carryV == null) { carryV = new Array[Double](v.length); carryS = new Array[Boolean](v.length) }
      var c = 0
      while (c < v.length) { if (st(c)) { carryV(c) = v(c); carryS(c) = true }; c += 1 }
      (t, carryV.clone(), carryS.clone())
    }
  }

  def summarize(net: Net, rows: Iterable[(Double, Array[Double], Array[Boolean])]): Summary = {
    val s = new Summary(net.columns)
    rows.foreach { case (t, v, st) => s.add(t, v, st) }
    s
  }

  /** Exact data-driven buckets (a row closes when a frame arrives more than
    * `cacheMs` after the row opened; that frame opens the next row),
    * last-wins, then forward fill across rows when `ffill`.
    */
  def exact(net: Net, fr: Frames, cacheMs: Double, ffill: Boolean): Summary = {
    val t0 = if (fr.size > 0) fr.tsUs.min else 0L
    val n = net.columns.size
    val vals = new Array[Double](n); val set = new Array[Boolean](n)
    val cells = new Array[Double](n); val cellSet = new Array[Boolean](n)
    val s = new Summary(net.columns)
    var open = false; var start = 0.0
    def close(): Unit = {
      s.add(start, cells, cellSet)
      if (!ffill) java.util.Arrays.fill(cellSet, false)
    }
    order(fr).foreach { i =>
      if (decode(net, fr, i, vals, set)) {
        val ts = (fr.tsUs(i) - t0) / 1000.0
        if (open && ts > start + cacheMs) { close(); open = false }
        if (!open) { open = true; start = ts }
        var c = 0
        while (c < n) { if (set(c)) { cells(c) = vals(c); cellSet(c) = true }; c += 1 }
      }
    }
    if (open) close()
    s
  }

  // ---- near-duplicate pairs -------------------------------------------------

  def shingles(text: String, n: Int = 3): Set[String] = {
    val t = text.trim.split("\\s+")
    if (t.length < n) Set.empty else (0 to t.length - n).map(i => t.slice(i, i + n).mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains)
    inter.toDouble / (a.size + b.size - inter)
  }
}
