package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.Semaphore

import graft.SparkEntry
import graft.core.GraftSession
import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.FormattedMode

/** Profile SparkEntry queries, each run the way Bench times it (the
  * full-plan `toRdd.count()`, `clearCache` after every query). For each
  * pass and query it prints:
  *   - DataFrame build, plan (analysis + optimization + physical
  *     planning) and execution time, the row count and the number of
  *     Janino compilations (a warm pass that still compiles means the
  *     generated-class cache evicted the query's classes);
  *   - the QueryPlanningTracker phases and the ten slowest rules — a
  *     query whose cost is planning a huge expression tree;
  *   - each stage's wall, summed task run, CPU and GC time and task
  *     count — a query burning time in tasks or in scheduling gaps.
  * Given `planDir`, the first pass also writes each query's
  * `explain("formatted")`, taken before execution, to
  * `planDir/<query>.txt` (the plan evidence under `plans/`).
  *
  * Usage: Profile <q1,q2,...> <sfDir> [planDir] — an empty name list
  * ("") profiles every query. SPARK_GRAFT_CPUS sets the local slots
  * (default 32), SPARK_GRAFT_PASSES the passes (default 2).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Profile <q1,q2,...> <sfDir> [planDir]")
    val names = args(0).split(",").filter(_.nonEmpty).toSeq match {
      case Seq() => SparkEntry.queries.keys.toSeq.sorted
      case given => given
    }
    val sfDir = args(1)
    val planDir = args.lift(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    planDir.foreach(d => Files.createDirectories(Paths.get(d)))
    val stageLog = new StageLog(spark.sparkContext)
    def secs(from: Long, to: Long): Double = (to - from) / 1e9
    for (pass <- 1 to passes; name <- names) {
      stageLog.drain()
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      try {
        val t0 = System.nanoTime()
        val qe = SparkEntry.queries(name)(spark, sfDir).queryExecution
        val t1 = System.nanoTime()
        qe.executedPlan
        val t2 = System.nanoTime()
        if (pass == 1) planDir.foreach { d =>
          Files.writeString(Paths.get(s"$d/$name.txt"), qe.explainString(FormattedMode))
        }
        val t3 = System.nanoTime()
        val rows = qe.toRdd.count()
        val t4 = System.nanoTime()
        val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
        println(f"[profile] pass$pass $name%-28s build=${secs(t0, t1)}%6.2f " +
          f"plan=${secs(t1, t2)}%6.2f exec=${secs(t3, t4)}%6.2f rows=$rows compiles=$compiles")
        qe.tracker.phases.toSeq.sortBy(_._1).foreach { case (ph, s) =>
          println(f"[profile]   phase $ph%-18s ${(s.endTimeMs - s.startTimeMs) / 1000.0}%7.3f s")
        }
        qe.tracker.rules.toSeq.sortBy(-_._2.totalTimeNs).take(10).foreach { case (r, m) =>
          println(f"[profile]   rule ${m.totalTimeNs / 1e9}%8.3f s calls=${m.numInvocations}%-5d " +
            f"eff=${m.numEffectiveInvocations}%-4d $r")
        }
        val stages = stageLog.drain().sortBy(_.stageId)
        stages.foreach { si =>
          val m = si.taskMetrics
          println(f"[profile]   stage=${si.stageId}%-4d wall=${wall(si) / 1000.0}%7.2f s " +
            f"taskSum=${m.executorRunTime / 1000.0}%8.2f s " +
            f"cpuSum=${m.executorCpuTime / 1e9}%8.2f s gcSum=${m.jvmGCTime / 1000.0}%7.2f s " +
            f"tasks=${si.numTasks}%-4d ${si.name.takeWhile(_ != '\n').take(60)}")
        }
        println(f"[profile]   stageWallSum=${stages.map(wall).sum / 1000.0}%.2f s " +
          f"of build+plan+exec=${secs(t0, t4) - secs(t2, t3)}%.2f s (the rest ran outside stages)")
      } catch {
        case e: Exception => println(s"[profile] pass$pass $name FAILED: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }

  private def wall(si: StageInfo): Long =
    (for (s <- si.submissionTime; c <- si.completionTime) yield c - s).getOrElse(0L)

  /** Records completed stages. Listener events reach a listener in the
    * order they were posted, but after the action that posted them has
    * returned; `drain` runs a one-task fence job and waits for its end
    * event, so every stage completed before the fence has been recorded.
    */
  private final class StageLog(sc: SparkContext) extends SparkListener {
    private val FenceKey = "graft.profile.fence"
    private val fenceDone = new Semaphore(0)
    // written and read on the listener thread only
    private var fenceJob = -1
    private var fenceStages = Set.empty[Int]
    private val completed = scala.collection.mutable.ArrayBuffer.empty[StageInfo]
    sc.addSparkListener(this)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty(FenceKey) != null)) {
        fenceJob = e.jobId
        fenceStages = e.stageIds.toSet
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (!fenceStages(e.stageInfo.stageId)) completed.synchronized { completed += e.stageInfo }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == fenceJob) fenceDone.release()

    /** Stages completed since the last drain. */
    def drain(): Seq[StageInfo] = {
      sc.setLocalProperty(FenceKey, "1")
      try sc.parallelize(Seq(0), 1).count()
      finally sc.setLocalProperty(FenceKey, null)
      fenceDone.acquire()
      completed.synchronized {
        val out = completed.toSeq
        completed.clear()
        out
      }
    }
  }
}
