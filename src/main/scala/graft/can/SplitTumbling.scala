package graft.can

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types._
import graft.plans.{ArgImproves, SplitScan}

/** Tumbling buckets, with or without forward fill, folded in input-split
  * order — the reference's one-pass loop over a log in receive order
  * (its `src/main.cpp:122-150`), run on every split at once
  * with [[graft.plans.SplitScan]]. It is the `--file` path of
  * [[CanPipeline]] for networks up to [[Bucketer.CodegenArgWidthLimit]]
  * signals, and returns `None` when the input is not in bucket order, so
  * the caller runs the general plan instead.
  *
  * Pass 1 folds each split's frames into buckets with the aggregate's own
  * arithmetic: the bucket id is `floor(ts_ms / cacheMs)`, `Time_ms` the
  * least `ts_ms` in the bucket, and each signal keeps its lexicographic
  * (ts, value) extremum through [[graft.plans.ArgImproves.beats]] — the
  * test [[graft.plans.ArgExtremum]] runs, so NaN, ±0.0 and equal
  * timestamps resolve as in [[Bucketer.bucket]]. A split whose bucket ids
  * ever decrease stops reading there and reports itself unordered.
  *
  * The driver then puts the non-empty splits in order of their (first,
  * last) bucket ids — the input's own order when it is ordered, and file
  * by file for a directory whose files cover distinct time ranges but are
  * listed out of time order — and checks that bucket ids never decrease
  * across the edges of that order. If so, every bucket is one run of
  * consecutive frames in it, so the fold sees exactly the frame set the
  * hash aggregate groups, and the result is the same; a run that
  * straddles one or more split edges is merged into one row, emitted by
  * the run's first split. Buckets come out in bucket order, and distinct
  * buckets have distinct `Time_ms`, so the fill carry-ins are computed
  * over the rows as they will be emitted, and the filled result equals
  * [[ForwardFill.distributed]] over the aggregate row for row.
  *
  * Pass 2 (the caller's action) drops or replaces the merged edge rows
  * and fills each split from its carry-in, one output partition per
  * split, in time order.
  */
private[graft] object SplitTumbling {

  /** A split's first or last bucket: its id, `Time_ms`, and per column the
    * winning value and its ts (both null where the bucket has no value).
    */
  final case class Edge(bucket: Long, timeMs: Double, values: Array[Any],
      ts: Array[Any])

  /** Pass 1's record of one split. `first` is null for an empty split;
    * `mid` holds, per column, the last non-null value among the rows
    * between the first and the last.
    */
  final case class Summary(ordered: Boolean, rows: Int, first: Edge, last: Edge,
      mid: Array[Any])

  /** What pass 2 does to one split: drop its first row (merged into an
    * earlier split's), replace its last row (`Time_ms +: values`, the
    * merge of a run straddling later splits), and the fill state it
    * starts from (null without fill).
    */
  final case class Fix(dropFirst: Boolean, last: Array[Any], carryIn: Array[Any])

  /** `wide(ts_ms, col...)` read in split order → `(Time_ms, col...)`
    * tumbling buckets of `cacheMs`, filled when `forwardFill`, or `None`
    * when bucket ids decrease inside a split, the splits' bucket ranges
    * overlap, or a ts is null or NaN. Runs pass 1 now, which reads an
    * unordered split only up to its first decrease (so counters observed
    * in `wide` may miss frames on `None`); the returned frame persists
    * nothing, and delivers the frames count of
    * [[PipelineMetrics.observePendingFrames]] in `wide`, if any.
    */
  def apply(wide: DataFrame, cacheMs: Double, policy: CombinePolicy,
      forwardFill: Boolean): Option[DataFrame] = {
    require(cacheMs > 0, s"cacheMs must be positive, got $cacheMs")
    val spark = wide.sparkSession
    val tsIdx = wide.schema.fieldIndex("ts_ms")
    val colIdx = wide.schema.indices.filter(_ != tsIdx).toArray
    val cols = colIdx.map(wide.schema(_))
    val types = cols.map(_.dataType)
    val schema = StructType(StructField(DbcColumns.TimeCol, DoubleType) +:
      cols.map(f => StructField(f.name, f.dataType)).toSeq)
    // the aggregate's own bucket expression (Bucketer.tumblingArgExtremum)
    val in = wide.withColumn("_bucket", floor(col("ts_ms") / lit(cacheMs)))
    val isMax = policy == CombinePolicy.LastWins
    val (staged, summaries) = SplitScan(in, schema, "splitTumbling") { it =>
      val f = new Fold(it, tsIdx, colIdx, types, isMax)
      (f, () => f.summary)
    }

    if (summaries.exists(!_.ordered)) return None
    val live = summaries.indices.filter(summaries(_).first != null)
    // stable: an ordered input keeps its own split order
    val order = live.sortBy(p => (summaries(p).first.bucket, summaries(p).last.bucket))
    if (order.zip(order.drop(1)).exists { case (a, b) =>
        summaries(a).last.bucket > summaries(b).first.bucket }) return None

    val fixes = edgeFixes(summaries, order, types, isMax, forwardFill)
    val bc = spark.sparkContext.broadcast(fixes)
    val fixed = staged.mapPartitionsWithIndex { (p, it) =>
      val fix = bc.value(p)
      var out = if (fix.dropFirst) it.drop(1) else it
      if (fix.last != null) {
        val rest = out
        val last = new GenericInternalRow(fix.last): InternalRow
        out = rest.map(r => if (rest.hasNext) r else last)
      }
      if (!forwardFill) out
      else {
        val state = fix.carryIn.clone()
        out.map { r =>
          val vals = new Array[Any](types.length + 1)
          vals(0) = r.get(0, DoubleType)
          var j = 0
          while (j < types.length) {
            if (r.isNullAt(j + 1)) vals(j + 1) = state(j)
            else {
              vals(j + 1) = InternalRow.copyValue(r.get(j + 1, types(j)))
              state(j) = vals(j + 1)
            }
            j += 1
          }
          new GenericInternalRow(vals): InternalRow
        }
      }
    }
    val rows =
      if (order == live) fixed
      else SplitScan.inOrder(fixed, order ++ summaries.indices.filterNot(order.toSet))
    Some(PipelineMetrics.passOnFrames(Shims.internalDataFrame(spark, rows, schema), in))
  }

  /** The driver's half over the non-empty splits in emit `order`: merge
    * each run of splits that share an edge bucket into the run's first
    * split, then walk the rows in emit order for each split's fill
    * carry-in.
    */
  private def edgeFixes(summaries: Array[Summary], order: Seq[Int],
      types: Array[DataType], isMax: Boolean, forwardFill: Boolean): Array[Fix] = {
    val n = summaries.length
    val dropFirst = new Array[Boolean](n)
    val lastRow = new Array[Array[Any]](n)
    val beats = new Beats(types, isMax)
    var head = -1 // the split that emits the open run's row
    var run: Edge = null
    var merged = false
    def close(): Unit = if (merged) lastRow(head) = run.timeMs +: run.values
    order.foreach { p =>
      val s = summaries(p)
      if (run != null && run.bucket == s.first.bucket) {
        run = beats.merge(run, s.first)
        merged = true
        dropFirst(p) = true
        if (s.rows > 1) { close(); head = p; run = s.last; merged = false }
      } else { close(); head = p; run = s.last; merged = false }
    }
    close()

    // an empty split emits no row, so its carry-in is never read
    val carry = Array.fill(n)(new Array[Any](types.length))
    if (forwardFill) {
      val acc = new Array[Any](types.length)
      def absorb(vals: Array[Any]): Unit =
        vals.indices.foreach(j => if (vals(j) != null) acc(j) = vals(j))
      order.foreach { p =>
        carry(p) = acc.clone()
        val s = summaries(p)
        if (s.rows > 1 && !dropFirst(p)) absorb(s.first.values)
        absorb(s.mid)
        if (s.rows > 1 || !dropFirst(p))
          absorb(if (lastRow(p) != null) lastRow(p).tail else s.last.values)
      }
    }
    Array.tabulate(n)(p => Fix(dropFirst(p), lastRow(p), carry(p)))
  }

  /** [[graft.plans.ArgImproves.beats]] per column, with the columns'
    * interpreted orderings.
    */
  private final class Beats(types: Array[DataType], isMax: Boolean) {
    private val tsOrd = TypeUtils.getInterpretedOrdering(DoubleType)
    private val valOrd = types.map(TypeUtils.getInterpretedOrdering)

    /** Does `(v, ts)` beat column `j`'s current `(cv, cts)`? Null `cv`
      * loses to any value.
      */
    def apply(j: Int, v: Any, ts: Any, cv: Any, cts: Any): Boolean =
      cv == null || ArgImproves.beats(v, ts, cv, cts, isMax, tsOrd, valOrd(j))

    /** One bucket from two parts of it. */
    def merge(a: Edge, b: Edge): Edge = {
      val values = a.values.clone(); val ts = a.ts.clone()
      values.indices.foreach { j =>
        if (b.values(j) != null && apply(j, b.values(j), b.ts(j), values(j), ts(j))) {
          values(j) = b.values(j); ts(j) = b.ts(j)
        }
      }
      Edge(a.bucket, math.min(a.timeMs, b.timeMs), values, ts)
    }
  }

  /** Pass 1 over one split's wide rows plus `_bucket`: yields each
    * finished bucket as `(Time_ms, col...)` and records the [[Summary]].
    */
  private final class Fold(it: Iterator[InternalRow], tsIdx: Int,
      colIdx: Array[Int], types: Array[DataType], isMax: Boolean)
      extends Iterator[InternalRow] {
    private val n = types.length
    private val bucketIdx = n + 1
    private val beats = new Beats(types, isMax)
    private val values = new Array[Any](n)
    private val ts = new Array[Any](n)
    private var open = false
    private var bucket = 0L
    private var timeMs = 0.0
    private var ordered = true
    private var rows = 0
    private var first: Edge = null
    private var last: Edge = null
    private val mid = new Array[Any](n)
    private var pending: InternalRow = null

    def summary: Summary = Summary(ordered, rows, first, last, mid)

    def hasNext: Boolean = {
      if (pending == null) pending = advance()
      pending != null
    }

    def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException
      val r = pending; pending = null; r
    }

    /** The next finished bucket, or null at the end of the split. */
    private def advance(): InternalRow = {
      while (ordered && it.hasNext) {
        val r = it.next()
        if (r.isNullAt(tsIdx) || r.getDouble(tsIdx).isNaN || r.isNullAt(bucketIdx))
          unordered()
        else {
          val t = r.getDouble(tsIdx)
          val b = r.getLong(bucketIdx)
          val closed =
            if (open && b < bucket) { unordered(); null }
            else if (open && b > bucket) close(atEnd = false)
            else null
          if (ordered) {
            if (!open) { open = true; bucket = b; timeMs = t }
            else if (t < timeMs) timeMs = t
            var j = 0
            while (j < n) {
              if (!r.isNullAt(colIdx(j))) {
                val v = r.get(colIdx(j), types(j))
                if (beats(j, v, t, values(j), ts(j))) {
                  values(j) = InternalRow.copyValue(v)
                  ts(j) = t
                }
              }
              j += 1
            }
            if (closed != null) return closed
          }
        }
      }
      if (ordered && open) close(atEnd = true) else null
    }

    /** Bucket ids decreased (or a ts is missing): stop reading. */
    private def unordered(): Unit = {
      ordered = false
      open = false
    }

    private def close(atEnd: Boolean): InternalRow = {
      val edge = Edge(bucket, timeMs, values.clone(), ts.clone())
      if (rows == 0) first = edge
      else if (!atEnd)
        values.indices.foreach(j => if (values(j) != null) mid(j) = values(j))
      if (atEnd) last = edge
      open = false
      rows += 1
      java.util.Arrays.fill(values.asInstanceOf[Array[AnyRef]], null)
      java.util.Arrays.fill(ts.asInstanceOf[Array[AnyRef]], null)
      new GenericInternalRow(timeMs +: edge.values)
    }
  }
}
