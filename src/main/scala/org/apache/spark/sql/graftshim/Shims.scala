package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to `private[sql]` helpers for Column ↔ Expression conversion.
  * Spark 4 moved the classic Column internals behind `ColumnNode`; the
  * supported in-JVM route is `org.apache.spark.sql.classic.ExpressionUtils`,
  * which is `private[sql]` — this shim lives in an `org.apache.spark.sql`
  * subpackage solely to re-export the two conversions our custom Catalyst
  * expressions need.
  */
object Shims {
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** Imperative function registration on a live session (the
    * `SparkSessionExtensions` path only applies at session build time).
    */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder)

  /** DataFrame over an RDD of Catalyst rows — no external-row conversion
    * on the way in.
    */
  def internalDataFrame(spark: org.apache.spark.sql.SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)
}
