package graft.plans

import scala.reflect.ClassTag

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.{PartitionCoalescer, PartitionGroup, PartitionPruningRDD, RDD,
  ShuffledRDD}
import org.apache.spark.serializer.JavaSerializer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.StructType

/** The order-preserving sibling of [[RangeScan]]: a two-pass fold over
  * the input's own partitions ("splits") in partition order, for inputs
  * whose partitions already hold consecutive runs of the order — a text
  * file read as Hadoop splits keeps its line order by partition id. It
  * needs no sampling job and no range sort.
  *
  * [[SplitScan.apply]] runs pass 1 now, in one SQL execution and one job:
  *
  *   - `fold` runs over each split's rows in input order and returns the
  *     rows to stage plus a summary of the split, taken once those rows
  *     are drained;
  *   - the rows and the summaries go through one shuffle keyed by split
  *     id: partition `p` holds split `p`'s rows, partition `n + p` its
  *     summary, so collecting the summaries reads none of the rows.
  *
  * It returns the staged rows as an RDD with one partition per split, in
  * split order, and the summaries indexed by split id. Nothing is
  * persisted: pass 2, written by the caller over the returned RDD, reads
  * the shuffle's files, and a lost shuffle block recomputes the fold.
  * Observed metrics (`Dataset.observe`) in the input are delivered once,
  * with this execution; a frame built over the returned RDD hides its
  * input, so its own actions report only what is observed on top of it.
  */
object SplitScan {

  /** Fold each split of `df` with `fold` and stage its rows (schema
    * `rowSchema`) and summary. `fold` sees reused Catalyst rows: copy any
    * value it keeps. The summary thunk is called once, after the returned
    * rows are drained, and its value must be Java-serializable.
    */
  def apply[S: ClassTag](df: DataFrame, rowSchema: StructType, name: String)(
      fold: Iterator[InternalRow] => (Iterator[InternalRow], () => S))
      : (RDD[InternalRow], Array[S]) = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some(name)) {
      val input = qe.toRdd
      val n = input.getNumPartitions
      val keyed = input.mapPartitionsWithIndex { (p, it) =>
        val (rows, summary) = fold(it)
        val toUnsafe = UnsafeProjection.create(rowSchema)
        // `++` takes its operand by name: the summary is taken only after
        // the last row has been staged
        rows.map(r => (p, toUnsafe(r).copy(): Any)) ++
          Iterator.single((n + p, summary(): Any))
      }
      // Int keys below the partition count map to themselves. The rows
      // and summaries differ in shape, so the shuffle uses Java
      // serialization (UnsafeRow writes its own bytes) rather than the
      // session's serializer or the fixed-width SQL row serializer.
      val staged = new ShuffledRDD[Int, Any, Any](keyed, new HashPartitioner(2 * n))
        .setSerializer(new JavaSerializer(input.sparkContext.getConf))
      // collect returns the partitions' results in partition order
      val summaries = PartitionPruningRDD.create(staged, _ >= n)
        .map(_._2.asInstanceOf[S]).collect()
      (PartitionPruningRDD.create(staged, _ < n).map(_._2.asInstanceOf[InternalRow]),
        summaries)
    }
  }

  /** `rdd`'s partitions in `order` (a permutation of their ids), each
    * computed as it is: a narrow re-ordering, no shuffle.
    */
  def inOrder[T](rdd: RDD[T], order: Seq[Int]): RDD[T] = {
    require(order.sorted == rdd.partitions.indices, s"not a permutation: $order")
    val groups = order.toArray
    rdd.coalesce(groups.length, shuffle = false, Some(new InOrder(groups)))
  }

  private final class InOrder(order: Array[Int]) extends PartitionCoalescer
      with Serializable {
    def coalesce(maxPartitions: Int, parent: RDD[_]): Array[PartitionGroup] =
      order.map { p =>
        val g = new PartitionGroup()
        g.partitions += parent.partitions(p)
        g
      }
  }
}
