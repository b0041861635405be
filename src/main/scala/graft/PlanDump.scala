package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Diagnostic main: writes `.explain("formatted")` for named registered
  * queries to files — the plan evidence the optimization rounds commit
  * under `plans/rN/`. Not a query and not benched; it shares the bench
  * session shape so the captured plans match what the bench executes.
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=...
  *   runMain graft.PlanDump <outDir> <suffix> <query>[,<query>...]
  *
  * A list that names no query (e.g. "" or ",") dumps every registered
  * query (`SparkEntry.select`).
  *
  * Writes <outDir>/<query>_<suffix>.txt. Queries whose construction
  * executes eagerly (persist-and-materialize contracts) run that work;
  * the dump captures the RETURNED DataFrame's plan either way.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: PlanDump <outDir> <suffix> <q1,q2,...>")
    val Array(outDir, suffix, namesArg) = args
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = SparkEntry.select(namesArg)
    val spark = GraftSession.local(GraftSession.envCpus)
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
        plan.getBytes(StandardCharsets.UTF_8))
      GraftSession.release(spark)
      System.err.println(s"[plandump] $name -> ${name}_$suffix.txt")
    }
    spark.stop()
  }
}
