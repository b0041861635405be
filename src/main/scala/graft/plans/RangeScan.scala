package graft.plans

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.graftshim.Shims

/** The two-pass prefix scan shared by every order-dependent fold that runs
  * in parallel: [[graft.can.ForwardFill.distributed]],
  * [[graft.can.Bucketer.exactDistributed]] and the
  * [[graft.ops.CorpusSelect]] budget prefixes. Pass 1 summarises each
  * partition of a range-sorted input, the caller combines the summaries
  * into per-partition carry-ins on the driver, and pass 2 folds each
  * partition against its carry-in.
  *
  * [[RangeScan.apply]] runs everything up to and including pass 1, in one
  * SQL execution:
  *
  *   - the input is staged once in a hash shuffle, so it is evaluated
  *     once. Range-partitioning it directly would evaluate it twice — the
  *     range partitioner's sampling job is a full pass of its child — and
  *     count any metric observed below it twice;
  *   - the staged rows are range-partitioned and sorted on `order`;
  *   - `summarize` runs over each sorted partition.
  *
  * It returns that one sorted `RDD[InternalRow]` with the summaries
  * indexed by partition id. Nothing is persisted: pass 2, written by the
  * caller over the same RDD, reads the range shuffle's files, so both
  * passes see identical partition boundaries, and a lost shuffle block
  * recomputes through the same range partitioner. Observed metrics
  * (`Dataset.observe`) in the input are delivered once, with this
  * execution; a frame built over the returned RDD hides its input, so
  * its own actions report only what is observed on top of it.
  *
  * When the input's partitions already hold the order, split by split
  * (a log read as Hadoop splits), [[SplitScan]] does the same two passes
  * with no sampling job and no range sort.
  */
object RangeScan {

  /** Stage `df`, range-sort it on `order` into `numPartitions` partitions
    * (when positive, else `spark.sql.shuffle.partitions`, else the
    * cluster's default parallelism — the conf may legitimately be
    * non-numeric, "auto" under some AQE distributions) and run `summarize`
    * over each sorted partition. Returns the sorted rows (schema
    * `df.schema`) and `summaries(p)` for every partition `p`. `summarize`
    * sees reused Catalyst rows: copy any value it keeps.
    */
  def apply[S: ClassTag](df: DataFrame, order: Seq[Column], numPartitions: Int,
      name: String)(summarize: Iterator[InternalRow] => S)
      : (RDD[InternalRow], Array[S]) = {
    val spark = df.sparkSession
    val parts = if (numPartitions > 0) numPartitions
      else spark.conf.get("spark.sql.shuffle.partitions").toIntOption
        .getOrElse(spark.sparkContext.defaultParallelism)
    val stagedQe = df.repartition(parts, order.map(Shims.unsorted): _*).queryExecution
    SQLExecution.withNewExecutionId(stagedQe, Some(name)) {
      val sorted = Shims.internalDataFrame(spark, stagedQe.toRdd, df.schema)
        .repartitionByRange(parts, order: _*).sortWithinPartitions(order: _*)
        .queryExecution.toRdd
      // collect returns the partitions' results in partition order
      (sorted, sorted.mapPartitions(it => Iterator.single(summarize(it))).collect())
    }
  }
}
