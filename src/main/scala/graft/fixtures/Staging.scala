package graft.fixtures

/** Scratch and staging directories of the gates that round-trip
  * through real files: one shutdown-hooked root per JVM.
  */
private[graft] object Staging {

  /** Scratch directory for queries that must round-trip through real
    * files (stream sources, the fidelity replay): deleted recursively at
    * JVM exit, so repeated bench reps / verify rounds can't fill /tmp
    * with orphaned dataset copies.
    */
  def scratchDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(p.toFile)
    }))
    p.toString
  }

  /** Root for per-(gate, input dir) staged data: ONE shutdown-hooked
    * scratch dir per JVM, so staged copies are cleaned at exit like every
    * other scratch dir (no /tmp accumulation across runs), never survive
    * into a JVM whose source data may have been regenerated, and never
    * collide with another process's staging.
    */
  lazy val stageRoot = scratchDir("graft_stage")

  /** One shutdown-hooked scratch root for ALL qc_cli_roundtrip runs in
    * this JVM; each run gets a fresh subdirectory under it (see the gate).
    */
  lazy val qcliRoot = scratchDir("graft_qcli")

  /** Deterministic per-JVM staging location for (gate, input dir) —
    * shared by [[stagedInput]] and the bucketed-layout gate so there is
    * exactly one keying scheme. The readable tail disambiguates; the hash
    * covers what the tail truncated.
    */
  def stagedPath(prefix: String, dir: String): String = {
    val tail = dir.replaceAll("[^A-Za-z0-9]", "_").takeRight(32)
    java.nio.file.Paths.get(stageRoot,
      s"${prefix}_${tail}_${java.lang.Integer.toHexString(dir.hashCode)}").toString
  }

  /** Idempotent input staging for the streaming gates: materialize `write`
    * at [[stagedPath]] once per JVM (guarded by the writer's `_SUCCESS`
    * marker) and reuse it for subsequent calls — bench reps re-run the
    * STREAM, not the fixture setup; a real deployment's source already
    * exists. Query state (sink, checkpoint) stays fresh per call.
    */
  def stagedInput(prefix: String, dir: String)(write: String => Unit): String = {
    val p = stagedPath(prefix, dir)
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(p, "_SUCCESS")))
      write(p)
    p
  }
}
