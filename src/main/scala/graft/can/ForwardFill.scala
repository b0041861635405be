package graft.can

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shims

/** Forward-fill (reference T5, `--forward-fill`): values persist across rows
  * until superseded. Real implementation only in the legacy driver
  * (`/root/reference/src/main.cpp.bak:399-405`; current main prints
  * "FORWARD FILL NOT WRITTEN", `/root/reference/src/main.cpp:146-148`);
  * README.md:38 documents the intent — we implement it.
  *
  * Two implementations:
  *
  *   - [[windowed]] — the textbook `last(_, ignoreNulls) OVER (ORDER BY ts
  *     ROWS UNBOUNDED PRECEDING)`. A global ordered window forces ALL data
  *     through one partition: correct, concise, and a scale bottleneck.
  *     Kept for small outputs and as the differential-test oracle.
  *
  *   - [[distributed]] — the 100 TB design. The input is evaluated once
  *     into a hash shuffle, range-partitioned and sorted from there, then
  *     two passes over that ONE sorted RDD:
  *       1. per-partition: last non-null value of each column (tiny summary,
  *          numPartitions × numCols, collected to the driver);
  *       2. prefix-combine the summaries (carry-in state per partition, an
  *          O(P × C) driver-side scan) and fill each partition locally with
  *          its broadcast carry-in.
  *     Two shuffles of the input and no cache; both passes read the range
  *     shuffle's files; parallelism = numPartitions throughout.
  */
object ForwardFill {

  /** Window fill. Keyless: single-partition global window (small outputs /
    * differential oracle). With `keyCols`: partitioned window — one shuffle
    * on the keys, fully parallel, the right tool when fill semantics are
    * per-entity (per signal source, per user) rather than global.
    */
  def windowed(df: DataFrame, orderCol: String, cols: Seq[String] = Nil,
      keyCols: Seq[String] = Nil): DataFrame = {
    val fillCols =
      if (cols.nonEmpty) cols
      else df.columns.toSeq.filter(c => c != orderCol && !keyCols.contains(c))
    val base = if (keyCols.isEmpty) Window.orderBy(orderCol)
      else Window.partitionBy(keyCols.map(col): _*).orderBy(orderCol)
    val w = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val projected = df.columns.map { c =>
      if (fillCols.contains(c)) last(col(c), ignoreNulls = true).over(w).as(c)
      else col(c)
    }
    df.select(projected.toIndexedSeq: _*)
  }

  /** Scalable two-pass fill. Result is range-sorted by `orderCol`.
    *
    * Ties: rows with equal `orderCol` may land in either order within a
    * partition, and a run of ties may straddle a partition edge, so where
    * tied rows disagree on a fill column, which of their values is carried
    * forward is unspecified (and may differ from [[windowed]]'s). Give it
    * a unique order (add a tiebreak column upstream) for a deterministic
    * fill.
    *
    * CONTRACT: the staging shuffle, the range shuffle and pass 1 run
    * now, in one SQL execution; the returned DataFrame is lazy and
    * persists nothing — its only job is the caller's action, which reads
    * the range shuffle's files that pass 1 left. Observed metrics
    * (`Dataset.observe`) in the input are delivered once, with that
    * execution; the returned frame's plan hides its input behind an RDD,
    * so its own action reports only what is observed on top of it.
    * Partition boundaries are identical in both passes because they read
    * one RDD instance, built over one range partitioner; a lost shuffle
    * block recomputes through that same partitioner.
    */
  def distributed(df: DataFrame, orderCol: String, cols: Seq[String] = Nil,
      numPartitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    // toIntOption: "spark.sql.shuffle.partitions" may legitimately be
    // non-numeric ("auto" under some AQE distributions) — fall back to
    // cluster parallelism instead of throwing (the prefixCore rule)
    val parts = if (numPartitions > 0) numPartitions
      else spark.conf.get("spark.sql.shuffle.partitions").toIntOption
        .getOrElse(spark.sparkContext.defaultParallelism)
    val fillCols = if (cols.nonEmpty) cols else df.columns.toSeq.filter(_ != orderCol)
    val schema = df.schema
    val types = schema.fields.map(_.dataType)
    val fillIdx = fillCols.map(schema.fieldIndex).toArray
    val n = fillIdx.length

    // The input is staged once in a hash shuffle on orderCol, inside one
    // SQL execution that also runs pass 1, so listeners receive the
    // input's observed metrics with it. Range-partitioning the input
    // directly would evaluate it twice — the range partitioner's sampling
    // job is a full pass of its child — and count any metric below twice.
    val stagedQe = df.repartition(parts, col(orderCol)).queryExecution

    // Pass 1: per-partition last non-null per fill column, over the
    // range-sorted RDD that pass 2 reads too. Values are copied out of the
    // reused input row.
    val (sorted, summaries) = SQLExecution.withNewExecutionId(stagedQe, Some("forwardFill")) {
      val sorted = Shims.internalDataFrame(spark, stagedQe.toRdd, schema)
        .repartitionByRange(parts, col(orderCol)).sortWithinPartitions(orderCol)
        .queryExecution.toRdd
      (sorted, sorted.mapPartitionsWithIndex { (pid, it) =>
        val lasts = new Array[Any](n)
        it.foreach { r =>
          var j = 0
          while (j < n) {
            val k = fillIdx(j)
            if (!r.isNullAt(k)) lasts(j) = InternalRow.copyValue(r.get(k, types(k)))
            j += 1
          }
        }
        Iterator.single((pid, lasts))
      }.collect())
    }

    // Prefix-combine: carry-in for partition p = merged lasts of 0..p-1.
    val byPid = summaries.sortBy(_._1)
    val carryIn = new Array[Array[Any]](byPid.length)
    val acc = new Array[Any](n)
    byPid.foreach { case (pid, lasts) =>
      carryIn(pid) = acc.clone()
      var j = 0
      while (j < n) { if (lasts(j) != null) acc(j) = lasts(j); j += 1 }
    }
    val bc = spark.sparkContext.broadcast(carryIn)

    // Pass 2: local fill with broadcast carry-in, Catalyst rows in and out.
    val filled = sorted.mapPartitionsWithIndex { (pid, it) =>
      val state = bc.value(pid).clone()
      it.map { r =>
        val vals = new Array[Any](types.length)
        var i = 0
        while (i < vals.length) {
          if (!r.isNullAt(i)) vals(i) = InternalRow.copyValue(r.get(i, types(i)))
          i += 1
        }
        var j = 0
        while (j < n) {
          val k = fillIdx(j)
          if (vals(k) != null) state(j) = vals(k) else vals(k) = state(j)
          j += 1
        }
        new GenericInternalRow(vals): InternalRow
      }
    }
    Shims.internalDataFrame(spark, filled, schema)
  }
}
