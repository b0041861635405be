package graft

import org.apache.spark.scheduler._

/** Diagnostic main (not a query, not benched): runs named registered
  * queries under the bench session shape with a SparkListener attached and
  * prints, per query, a per-stage table — stage wall-clock, task count,
  * summed task time, and max single-task time. This is the guide-§1/§7
  * "where does the time go" instrument for a UI-less sandbox: a stage
  * whose wall ≈ max-task ≫ sum/tasks is serialized or skewed; a query
  * whose job wall ≫ Σ stage wall is driver-bound (planning/codegen).
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=...
  *   runMain graft.Probe <query>[,<query>...] [reps]
  *
  * A list that names no query (e.g. "" or ",") probes every registered
  * query (`SparkEntry.select`); reps defaults to 2.
  */
object Probe {
  private class StageStats {
    var name = ""
    var submitted = 0L
    var completed = 0L
    var nTasks = 0
    var taskTimeMs = 0L
    var maxTaskMs = 0L
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Probe <q1,q2,...> [reps]")
    val names = SparkEntry.select(args(0))
    val reps = if (args.length > 1) args(1).toInt else 2
    require(reps >= 1, s"reps must be at least 1, got $reps")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.envCpus)
    // same untimed warmup as Bench
    spark.read.parquet(s"$sfDir/region.parquet")
      .groupBy("r_name").count().collect()

    val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageStats]()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
        val s = stages.computeIfAbsent(e.stageInfo.stageId, _ => new StageStats)
        s.name = e.stageInfo.name.takeWhile(_ != '\n').take(60)
        s.submitted = System.currentTimeMillis()
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val s = stages.computeIfAbsent(e.stageInfo.stageId, _ => new StageStats)
        s.completed = System.currentTimeMillis()
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val s = stages.computeIfAbsent(e.stageId, _ => new StageStats)
        s.synchronized {
          s.nTasks += 1
          val ms = Option(e.taskInfo).map(_.duration).getOrElse(0L)
          s.taskTimeMs += ms
          if (ms > s.maxTaskMs) s.maxTaskMs = ms
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    // in-process stack sampler (guide §7.3 without an attach agent):
    // every 50 ms, record the top in-app frame of every executor task
    // thread; the histogram tells WHERE concurrent task time goes —
    // lock-contended frames show up as waiting/blocked at high counts
    val frameCounts = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    val samplerOn = new java.util.concurrent.atomic.AtomicBoolean(true)
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
    val sampler = new Thread(() => {
      while (samplerOn.get) {
        mx.dumpAllThreads(false, false).foreach { ti =>
          if (ti.getThreadName.startsWith("Executor task launch worker")) {
            val st = ti.getStackTrace
            if (st.nonEmpty) {
              val top = st.take(6).map(f => s"${f.getClassName}.${f.getMethodName}")
                .mkString(" < ")
              frameCounts.merge(s"[${ti.getThreadState}] $top", 1L, (a, b) =>
                java.lang.Long.valueOf(a + b))
            }
          }
        }
        Thread.sleep(50)
      }
    }, "probe-sampler")
    sampler.setDaemon(true)
    sampler.start()

    names.foreach { name =>
      (1 to reps).foreach { rep =>
        stages.clear()
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        GraftSession.release(spark)
        // listenerBus is private[spark]; a short sleep drains the queue
        // well enough for a diagnostic table
        Thread.sleep(300)
        import scala.jdk.CollectionConverters._
        val rows = stages.asScala.toSeq.sortBy(_._1)
        val sumStageWall = rows.map { case (_, s) =>
          math.max(0L, s.completed - s.submitted) }.sum / 1e3
        println(f"== $name rep $rep: wall $wall%.3f s, " +
          f"${rows.size} stages (Σ stage wall $sumStageWall%.3f s)")
        rows.foreach { case (id, s) =>
          val stageWall = math.max(0L, s.completed - s.submitted) / 1e3
          println(f"  stage $id%4d  wall=$stageWall%7.3f  tasks=${s.nTasks}%4d  " +
            f"taskSum=${s.taskTimeMs / 1e3}%7.3f  maxTask=${s.maxTaskMs / 1e3}%7.3f  ${s.name}")
        }
      }
    }
    samplerOn.set(false)
    import scala.jdk.CollectionConverters._
    println("== sampled task-thread frames (top 25):")
    frameCounts.asScala.toSeq.sortBy(-_._2).take(25).foreach { case (f, n) =>
      println(f"  $n%6d  $f")
    }
    spark.stop()
  }
}
