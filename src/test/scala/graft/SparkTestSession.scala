package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites in a forked test JVM. */
object SparkTestSession {
  lazy val spark: SparkSession = GraftSession.local(4)
}
