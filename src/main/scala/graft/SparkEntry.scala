package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.gates._

/** The query contract: every query takes `(spark, sfDir)` over the
  * parquet tables under `sfDir` and has a matching DuckDB oracle in
  * [[oracleSql]] (same column names; the outputs are hash-compared). Each
  * query is one [[Gate]] of a family object in `graft.gates`, its build
  * function and oracle side by side; this object is the aggregate that
  * Verify, Bench and the other mains read. Determinism rules used
  * throughout the gates:
  *   - money/double sums go through exact integer cents
  *     (`sum(cast(round(x*100) as bigint))`) so aggregation order can't
  *     change low bits;
  *   - arg-max/min selection uses unique keys (event ts/ids are unique);
  *   - timestamps are output as DATE or epoch BIGINT (parquet timestamp
  *     annotation semantics differ between engines);
  *   - DuckDB BIGINT sums are HUGEINT — always cast or divide to match
  *     Spark's LongType/DoubleType output schema.
  */
object SparkEntry {

  /** The gate families, one per `Bench.childGroups` family. */
  val families: Seq[GateFamily] = Seq(CoreGates, QcGates, QdGates, QjGates,
    QmGates, QpGates, QsGates, QtGates, QzGates)

  private val byName = Gate.byName(families.flatMap(_.gates))

  /** Every registered query's build function, by name. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    byName.map { case (n, g) => n -> g.build }

  /** For each key in `queries`, equivalent SQL DuckDB runs on the same
    * parquet tables.
    */
  val oracleSql: Map[String, String] = byName.map { case (n, g) => n -> g.oracle }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q2_revenue_by_nation")(spark, "/root/testdata/sf0.001")

  /** The registered query names a comma-separated list selects, sorted.
    * A list that names nothing ("", ",", " , ") selects every query:
    * taken literally it would select none, and a run with zero coverage
    * would look clean. Unknown names fail, listing them.
    */
  def select(list: String): Seq[String] = {
    val names = list.split(",").map(_.trim).filter(_.nonEmpty).toSet
    val unknown = names -- queries.keySet
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    (if (names.isEmpty) queries.keySet else names).toSeq.sorted
  }
}
