package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query names to run (driver omits
    // it); see SparkEntry.select
    val names = SparkEntry.select(if (args.length > 2) args(2) else "")
    // the bench session shape: the oracle certifies the plans Bench times
    val spark = GraftSession.local(GraftSession.envCpus)
    new java.io.File(outDir).mkdirs()
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    names.foreach { name =>
      try SparkEntry.queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) =
          s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
            .take(500)
      }
      GraftSession.release(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // A query that throws must read as a LOUD named error in the round
    // artifacts, not a silently-missing row (round 12 lost 28 queries to a
    // loader regression that only surfaced as stderr noise).
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (errors.nonEmpty) {
      System.err.println(
        s"[verify] ${errors.size} quer${if (errors.size == 1) "y" else "ies"} FAILED: " +
          errors.keys.mkString(", "))
    }
    spark.stop()
    // Strict mode (preflight): exit nonzero on any failed query so ANY
    // caller is loud, not just ones that parse errors.json. Opt-in via
    // env because the driver's round harness must still collect partial
    // boards from a run with failures. "0"/"false"/"no"/"off" disable —
    // a caller who exports SPARK_GRAFT_VERIFY_STRICT=false must not get
    // strict mode turned ON by the non-blank check.
    val strictOff = Set("", "0", "false", "no", "off")
    if (errors.nonEmpty &&
        sys.env.get("SPARK_GRAFT_VERIFY_STRICT")
          .exists(v => !strictOff(v.trim.toLowerCase(java.util.Locale.ROOT))))
      sys.exit(1)
  }
}
