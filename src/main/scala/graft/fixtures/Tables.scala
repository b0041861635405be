package graft.fixtures

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table readers shared by the gate families: the parquet tables under
  * `sfDir`, the events loader and the under-split scan fan-out.
  */
private[graft] object Tables {

  /** The parquet table `name` under `dir`. */
  def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** The documents table, fanned out across the session's cores WHEN the
    * file layout under-parallelizes the scan — the bench corpus is one
    * 594 KB parquet row group, ONE scan split at any split-size setting,
    * so every gate whose first stage does heavy per-row text work
    * (tokenize, per-gram md5, regex segmentation) serializes that stage
    * onto a single task (measured: qt_dsir 2.6 s isolated with three
    * ~0.9 s single-task stages on a 32-core host). Guide §2.5 "input
    * skew: repartition immediately after the read". The condition makes
    * it scale-adaptive, not a local tune: a real many-split corpus
    * (100 TB has ≥ thousands of splits ≥ cores) takes the `else` branch
    * and the plan is byte-identical to the plain scan — the shuffle only
    * exists where the alternative is a 1/32-utilized stage, where it
    * moves the corpus once (594 KB here) to parallelize everything after.
    */
  def docsFanned(s: SparkSession, dir: String): DataFrame =
    fannedScan(s, t(s, dir, "documents"))

  /** Generic form of [[docsFanned]] for any under-split scan (the bench
    * tables are each ONE parquet row group, so byte-range splitting
    * yields empty tasks plus one task holding every row — lineitem's 11
    * "splits" are 10 empties + 600k rows). Same scale-adaptive trigger:
    * a real many-split scan takes the `else` branch untouched. Reading
    * the split count plans the scan once per build; the physical RDD
    * (`queryExecution.toRdd`) skips the `df.rdd` deserializer plan.
    */
  def fannedScan(s: SparkSession, df: DataFrame): DataFrame = {
    val p = s.sparkContext.defaultParallelism
    if (df.queryExecution.toRdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** events.ts has shipped under two physical parquet encodings across
    * testdata generations: TIMESTAMP(NANOS) (which Spark 4 refuses to map to
    * TimestampType — read as a nanos long via the legacy conf and truncate)
    * and TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ or TIMESTAMP depending on
    * isAdjustedToUTC). Dispatch on the READ schema so either generation
    * yields the same TimestampType column — the cast is an identity under
    * the UTC session zone, matching what DuckDB's `epoch_us(ts)` sees.
    *
    * KNOWN BLIND SPOT: a plain un-annotated INT64 ts column is
    * indistinguishable from the nanos generation at the read-schema level
    * (both surface as LongType), so a hypothetical micros-as-INT64
    * generation would decode 1000× wrong WITHOUT throwing. The fence for
    * that class of shift is value-level: tools/preflight.sh hash-compares
    * every query against the DuckDB oracle at round start.
    */
  def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = t(s, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }
  }

  /** Exact integer-cents sum, emitted as double (scale 10^d). */
  def centSum(c: Column, digits: Int = 2): Column = {
    val scale = math.pow(10, digits)
    sum(round(c * scale).cast("long")) / scale
  }
}
