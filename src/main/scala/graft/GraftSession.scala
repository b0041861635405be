package graft

import org.apache.spark.sql.SparkSession

/** Session-level tuning every graft entry point applies.
  *
  * Static (build-time) confs take effect only on the session that creates
  * the JVM's SparkContext: a `getOrCreate` that reuses an existing
  * session silently keeps that session's shuffle writer selection. The
  * harness mains (Bench, Verify, Stress, PlanDump, Probe) and the test
  * suites therefore build through [[local]]; the CLI and perfbench build
  * their own sessions and call [[staticTuning]] and [[tune]].
  */
object GraftSession {

  /** Spark fuses a stage into whole-stage codegen only while the widest
    * schema in the stage stays at or under `spark.sql.codegen.maxFields`
    * (default 100). Fleet DBC networks routinely carry hundreds of signals
    * (SURVEY §1.1 — the reference's own `fs.dbc` workflow), so at the
    * default the flagship wide decode silently runs interpreted exactly at
    * production width. Above [[graft.can.SignalDecoder.OutlineSignalThreshold]]
    * signals the decode trees are outlined into per-signal generated
    * methods, which keeps the class compilable at these widths (each
    * signal is its own small method; `doConsume` is one call site per
    * signal), so raising the ceiling is safe — below the threshold the
    * inline trees fit comfortably anyway (measured matrix in the
    * threshold's scaladoc). 1024 covers any realistic network; beyond it
    * Spark falls back to interpreted execution, which stays correct.
    */
  val CodegenMaxFields = 1024

  /** Shuffle-writer selection floor, applied at session BUILD time (a
    * static core conf, not runtime-settable — hence [[staticTuning]]
    * rather than [[tune]]). Below `spark.shuffle.sort.bypassMergeThreshold`
    * reducers, Spark's map tasks use the bypass-merge writer, which opens
    * ONE FILE PER REDUCER per map task — M·R shuffle files per exchange.
    * The sort-based writer produces one data file + one index per map
    * task (M·2) at the cost of an in-memory partition-id sort. File
    * creation is the dominant term for the many small exchanges a
    * relational pipeline runs (measured here with the Probe sampler:
    * 803/3,000 task-thread samples inside `FileOutputStream.open` from
    * `DiskBlockObjectWriter`, and gates with several shuffles losing
    * ~0.3-0.5 s per 32-map exchange to it; with the floor at 1,
    * qt_quality_outliers 2.78 → 1.47 s, qd_prefix_join 5.26 → 4.15 s,
    * qt_dsir 1.41 → 0.90 s isolated min-of-5). At production scale the
    * default threshold (200) already disables bypass for any wide
    * shuffle — this floor only changes SMALL-reducer-count exchanges,
    * where fewer files is the right call on shared filesystems too.
    * Parameterised via SPARK_GRAFT_BYPASS_MERGE (an operator can restore
    * the Spark default with =200).
    */
  /* r22 A/B (isolated min-of-5, qc_bucket + qs_ivf families + the r21
   * floor's winners + q18, sf0.1 CPUS=32, slice totals):
   * threshold 1 → 8.13 s, 8 → 7.72 s, 16 → 7.86 s, 200 (Spark default,
   * bypass for every exchange here) → 10.69 s. 200 loses big on the
   * multi-shuffle text gates (qt_quality_outliers 2.00 vs 1.05, qt_dsir
   * 1.07 vs 0.45, qd_dup_spans 1.42 vs 0.73, qc_bucket_exact 0.80 vs
   * 0.57) — the M·R file-creation tax the floor exists to avoid; 8
   * restores the bypass writer for genuinely tiny-R exchanges
   * (single-digit repartitions, streaming state at 8 partitions) where
   * the sort-writer's partition-id sort is pure overhead, and edges out
   * 1 consistently (qc_bucket_tumbling 0.32 vs 0.39, qc_time_migration
   * 0.11 vs 0.14, qc_gap_report 0.36 vs 0.44, q18 1.70 vs 1.78) with no
   * query worse. At production scale the choice only touches R ≤ 8
   * exchanges either way. */
  val BypassMergeThreshold: String =
    bypassMergeThreshold(sys.env.getOrElse("SPARK_GRAFT_BYPASS_MERGE", "8"))

  /** Validates a `SPARK_GRAFT_BYPASS_MERGE` value: fail fast with an
    * actionable message, since a bad value would otherwise surface only at
    * session build as a generic Spark conf error far from the env var
    * that caused it. Surrounding blanks are ignored; a value past
    * `Int.MaxValue` is rejected like any other non-integer.
    */
  private[graft] def bypassMergeThreshold(v: String): String =
    v.trim.toIntOption.filter(_ >= 0).map(_.toString).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_BYPASS_MERGE must be a nonnegative integer, got '$v'"))

  /** Build-time (static) conf shared by every graft-created session:
    * see [[BypassMergeThreshold]].
    */
  def staticTuning(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.shuffle.sort.bypassMergeThreshold", BypassMergeThreshold)

  /** Applies graft runtime tuning to an existing session (all keys are
    * runtime-settable SQL confs).
    */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.codegen.maxFields", CodegenMaxFields.toString)
    // Pin ANSI explicitly (it is the Spark 4 default, but operator
    // semantics here are written to it — e.g. zero-norm cosine THROWS on
    // division by zero, and the driver-side ANN probe picks mirror that
    // loud failure): a session inheriting ansi=false from a migration
    // config would silently change error behavior out from under the
    // documented contracts.
    spark.conf.set("spark.sql.ansi.enabled", "true")
    spark
  }

  /** The one local session the harness mains and the test suites run on:
    * `local[cpus]`, shuffle partitions = cpus, UTC, AQE on, UI off, and
    * small `maxPartitionBytes`/`openCostInBytes` so single-file local
    * inputs still fan out across all cores (a 5 MB bench file must not
    * serialize a whole scan onto one task). Then [[staticTuning]],
    * [[tune]] and WARN logging.
    */
  def local(cpus: Int): SparkSession = {
    val spark = staticTuning(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    tune(spark)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The harness mains' core count: `SPARK_GRAFT_CPUS`, default 4. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** Releases what a query build persisted, between queries or reps: the
    * catalog cache and every persisted RDD (`localCheckpoint` blocks are
    * RDD-level, not in the catalog cache manager), so later queries are
    * not charged earlier ones' storage memory.
    */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }
}
