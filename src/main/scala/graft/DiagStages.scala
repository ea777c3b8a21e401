package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.GraftBridge

import scala.collection.mutable.ArrayBuffer

/** Stage-level diagnostic main (round-18 measurement tooling): per-stage
  * wall/task/cpu/gc breakdown of one query execution at a given core count,
  * for attributing composite-query cost to scheduling overhead vs work
  * (guide §1/§7). Not part of the driver contract; not used by Bench/Verify.
  * Usage: runMain graft.DiagStages <sfDir> <cpus> <query> [reps]
  * Runs the [[GraftSession]] config; `DIAG_CACHED_AQE`, `DIAG_MIN_PART_SIZE`
  * and `DIAG_PREFER_SMJ`, when set, override its cached-plan coalescing,
  * coalescing floor and sort-merge-join preference for A/B runs.
  */
object DiagStages {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val cpus = args(1)
    val reps = if (args.length > 3) args(3).toInt else 2
    val name = args(2)
    val overrides = Seq(
      "DIAG_CACHED_AQE" -> "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
      "DIAG_MIN_PART_SIZE" -> "spark.sql.adaptive.coalescePartitions.minPartitionSize",
      "DIAG_PREFER_SMJ" -> "spark.sql.join.preferSortMergeJoin")
      .flatMap { case (env, key) => sys.env.get(env).map(key -> _) }
    val spark = GraftSession.create(cpus.toInt, "graft-diag-stages", overrides)
    spark.sparkContext.setLogLevel("WARN")

    case class St(id: Int, name: String, tasks: Int, ms: Long, runMs: Long,
        cpuMs: Long, gcMs: Long)
    // appended on the listener-bus thread, read and cleared on this one
    val stages = ArrayBuffer[St]()
    var jobs = 0
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val ms = (for {a <- si.completionTime; b <- si.submissionTime} yield a - b).getOrElse(-1L)
        val tm = si.taskMetrics
        stages.synchronized {
          stages += St(si.stageId, si.name.takeWhile(_ != '\n').take(90), si.numTasks, ms,
            tm.executorRunTime, tm.executorCpuTime / 1000000L, tm.jvmGCTime)
        }
      }
      override def onJobStart(js: SparkListenerJobStart): Unit =
        stages.synchronized { jobs += 1 }
    })

    // every event of the execution delivered before the buffer is read
    // or cleared, so no rep's stages bleed into the next one's table
    def exec(): Unit = {
      SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
      GraftBridge.drainListenerBus(spark.sparkContext)
    }

    for (r <- 1 to reps) {
      spark.catalog.clearCache()
      GraftBridge.drainListenerBus(spark.sparkContext)
      stages.synchronized { stages.clear(); jobs = 0 }
      val t0 = System.nanoTime()
      exec()
      val wall = (System.nanoTime() - t0) / 1e9
      val (seen, nJobs) = stages.synchronized { (stages.toList, jobs) }
      println(f"== $name rep $r: wall $wall%.2f s, $nJobs jobs, ${seen.size} stages")
      if (r == reps) {
        for (s <- seen.sortBy(-_.ms))
          println(f"  stage ${s.id}%4d ${s.ms}%6d ms tasks=${s.tasks}%4d run=${s.runMs}%6d cpu=${s.cpuMs}%6d gc=${s.gcMs}%5d  ${s.name}")
      }
    }
    spark.stop()
  }
}
