package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One oracle-gated query: the Spark build function over
  * `(session, sfDir)` and the DuckDB SQL over the same parquet tables that
  * must hash-match its output (same column names).
  */
final case class Gate(name: String,
    build: (SparkSession, String) => DataFrame, oracle: String)

object Gate {

  /** The gates by name; a name given twice fails, naming it. */
  def byName(gates: Seq[Gate]): Map[String, Gate] = {
    val dup = gates.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dup.isEmpty,
      s"duplicate gate name(s): ${dup.toSeq.sorted.mkString(", ")}")
    gates.map(g => g.name -> g).toMap
  }
}

/** One query family (the name prefix `Bench.childGroups` groups by): its
  * gates, in the order their `gate` definitions run. A gate that shares
  * another's oracle refers to that gate's value, so it is defined after
  * it (an object's vals initialize in order).
  */
abstract class GateFamily {
  private val defined = scala.collection.mutable.ArrayBuffer.empty[Gate]

  /** Every gate this family defined. */
  final def gates: Seq[Gate] = defined.toSeq

  /** Defines one gate of this family and registers it. */
  protected final def gate(name: String)(
      build: (SparkSession, String) => DataFrame)(oracle: String): Gate = {
    val g = Gate(name, build, oracle)
    defined += g
    g
  }
}
