package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Process-wide readings that need no listener. */
object Probe {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(_.getType == MemoryType.HEAP)
  private val MB = 1024.0 * 1024.0

  def processCpuSeconds: Double = os.getProcessCpuTime / 1e9
  def gcSeconds: Double = gcs.map(_.getCollectionTime).sum / 1e3
  def jitSeconds: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
  /** CPU time the hypervisor gave to other guests, all cores, from /proc/stat
    * (0 where the host does not report it). */
  def hostStealSeconds: Double = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+")(8).toDouble / 100.0 finally src.close()
  }.getOrElse(0.0)
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def oldGenUsedMb: Double =
    heapPools.filter(_.getName.contains("Old Gen")).map(_.getUsage.getUsed).sum / MB
  def resetHeapPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / MB

  private final case class Task(stage: Int, runMs: Long, cpuNs: Long, gcMs: Long, shuffleRead: Long,
                                shuffleWrite: Long, spill: Long, input: Long, output: Long)
  private final case class Stage(id: Int, numTasks: Int, submitMs: Long, endMs: Long)
  private final case class Job(id: Int, startMs: Long, stageIds: Seq[Int], var endMs: Long = -1L)
}

/** Counts the waste the engine reports only in its log. */
final class CountingAppender
    extends AbstractAppender("perfbench-counters", null, null, true, Property.EMPTY_ARRAY) {
  val codegenFallbacks = new AtomicLong
  val unpartitionedWindows = new AtomicLong
  val redundantCache = new AtomicLong
  override def append(e: LogEvent): Unit = {
    val m = e.getMessage.getFormattedMessage
    if (m.startsWith("Whole-stage codegen disabled for plan") ||
        m.startsWith("Expr codegen error and falling back to interpreter mode"))
      codegenFallbacks.incrementAndGet()
    else if (m.startsWith("No Partition Defined for Window operation"))
      unpartitionedWindows.incrementAndGet()
    else if (m.startsWith("Asked to cache already cached data"))
      redundantCache.incrementAndGet()
  }
  def snapshot: Seq[Long] = Seq(codegenFallbacks.get, unpartitionedWindows.get, redundantCache.get)
}

/** The traced run's instruments: a SparkListener for jobs, stages and
  * tasks, a StreamingQueryListener for trigger progress, the log appender,
  * each op's QueryPlanningTracker, a walk of the scratch tree and the JVM
  * MXBeans. Attached only for traced passes. */
final class Probe(spark: SparkSession) {
  import Probe.{Job, Stage, Task}

  private val lock = new Object
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val stages = mutable.ArrayBuffer.empty[Stage]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      lock.synchronized { jobs(e.jobId) = Job(e.jobId, e.time, e.stageIds) }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      lock.synchronized { jobs.get(e.jobId).foreach(_.endMs = e.time) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      lock.synchronized {
        stages += Stage(si.stageId, si.numTasks, si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      lock.synchronized {
        tasks += Task(e.stageId, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.diskBytesSpilled, m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten)
      }
    }
  }
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock.synchronized { progress += e.progress }
  }
  private val appender = new CountingAppender
  appender.start()
  private def loggerContext = LogManager.getContext(false).asInstanceOf[LoggerContext]

  private val scratchRoot = new File(System.getProperty("java.io.tmpdir"))
  private val MB = 1024.0 * 1024.0
  private var counters0 = Seq.empty[Long]
  private var compiles0 = 0L
  private var nextSpan = 0L

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(streamListener)
    loggerContext.getConfiguration.getRootLogger.addAppender(appender, null, null)
    loggerContext.updateLoggers()
  }

  def detach(): Unit = {
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
    loggerContext.getConfiguration.getRootLogger.removeAppender(appender.getName)
    loggerContext.updateLoggers()
  }

  def beforeOp(): Unit = {
    ListenerBusDrain(spark.sparkContext)
    lock.synchronized { tasks.clear(); stages.clear(); jobs.clear(); progress.clear() }
    counters0 = appender.snapshot
    compiles0 = Probe.codegenCompiles
    Probe.resetHeapPeaks()
  }

  /** Closes a traced op: returns its layer counters and appends its span
    * tree. `bounds` are the nanoTime marks op start, tune end, build end,
    * plan end and op end; `wall0` is the op start in epoch ms. */
  def afterOp(op: Harness.Op, pass: Int, df: DataFrame, wall0: Long, bounds: Seq[Long],
              out: mutable.ArrayBuffer[Json.Obj]): Json.Obj = {
    val t0 = bounds.head
    val heapPeak = Probe.heapPeakMb
    val compiles = Probe.codegenCompiles - compiles0
    ListenerBusDrain(spark.sparkContext)
    val Seq(fallbacks, windows, recache) = appender.snapshot.zip(counters0).map { case (a, b) => a - b }
    def ms(t: Long): Double = wall0 + (t - t0) / 1e6
    val opEnd = ms(bounds.last)
    val (ts, ss, js, ps) = lock.synchronized { (tasks.toSeq, stages.toSeq, jobs.values.toSeq, progress.toSeq) }

    val tracker = Option(df).map(_.queryExecution.tracker)
    def phase(p: String): Double =
      tracker.flatMap(_.phases.get(p)).map(s => (s.endTimeMs - s.startTimeMs) / 1e3).getOrElse(0.0)
    val ruleS = tracker.map(_.rules.collect { case (r, s) if r.startsWith("graft.") => s.totalTimeNs }.sum / 1e9)
      .getOrElse(0.0)

    // op wall not covered by any job: driver-side work and scheduling gaps
    val covered = js.map(j => (math.max(j.startMs.toDouble, wall0.toDouble),
        math.min(if (j.endMs < 0) opEnd else j.endMs.toDouble, opEnd)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft((0.0, Double.MinValue)) { case ((acc, hi), (a, b)) =>
        if (a >= hi) (acc + (b - a), b) else if (b > hi) (acc + (b - hi), b) else (acc, hi)
      }._1
    val driverGap = math.max(0.0, opEnd - wall0 - covered) / 1e3

    val singleTaskStageS = ss.filter(_.numTasks == 1).map(s => math.max(0L, s.endMs - s.submitMs)).sum / 1e3
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.longValue / 1e3).getOrElse(0.0)
    val triggerS = ps.map(dur(_, "triggerExecution")).sum
    val buildS = (bounds(2) - bounds(1)) / 1e9
    val (files, bytes) = scratchWrites(wall0)

    // span tree: op → tune / build / plan / exec → jobs → stages; a drain's
    // triggers hang under its build
    val span = new Spans(out, op.name, pass)
    val opId = span(-1, "op", ms(bounds.head), opEnd, Json.Obj())
    val phaseNames = Seq("core.tune", s"${op.module}.build", "spark.plan", "spark.exec")
    val phaseIds = phaseNames.indices.map { i =>
      val attrs = if (i == 2) Json.Obj("analysis_s" -> phase("analysis"),
        "optimization_s" -> phase("optimization"), "planning_s" -> phase("planning")) else Json.Obj()
      span(opId, phaseNames(i), ms(bounds(i)), ms(bounds(i + 1)), attrs)
    }
    def parentAt(t: Double): Long =
      phaseIds(math.max(0, (1 to 4).lastIndexWhere(i => ms(bounds(i - 1)) <= t)))
    js.foreach { j =>
      val jid = span(parentAt(j.startMs), "spark.job", j.startMs,
        if (j.endMs < 0) opEnd else j.endMs, Json.Obj("job_id" -> j.id))
      ss.filter(s => j.stageIds.contains(s.id)).foreach { s =>
        span(jid, "spark.stage", s.submitMs, s.endMs,
          Json.Obj("stage_id" -> s.id, "tasks" -> s.numTasks))
      }
    }
    ps.foreach { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      span(phaseIds(1), "streaming.trigger", start, start + dur(p, "triggerExecution") * 1e3,
        Json.Obj(("input_rows" -> p.numInputRows) +: StreamPhases.map(k => s"${k}_s" -> dur(p, k)): _*))
    }

    Json.Obj(
      s"${op.module}.build_s" -> buildS,
      "spark.analysis_s" -> phase("analysis"),
      "spark.optimization_s" -> phase("optimization"),
      "spark.planning_s" -> phase("planning"),
      "plans.rule_s" -> ruleS,
      "spark.jobs" -> js.size.toLong,
      "spark.stages" -> ss.size.toLong,
      "spark.driver_gap_s" -> driverGap,
      "spark.tasks" -> ts.size.toLong,
      "spark.task_run_s" -> ts.map(_.runMs).sum / 1e3,
      "spark.task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "spark.task_gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "spark.shuffle_read_mb" -> ts.map(_.shuffleRead).sum / MB,
      "spark.shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / MB,
      "spark.spill_mb" -> ts.map(_.spill).sum / MB,
      "spark.task_input_mb" -> ts.map(_.input).sum / MB,
      "spark.task_output_mb" -> ts.map(_.output).sum / MB,
      "spark.single_task_stage_s" -> singleTaskStageS,
      "spark.codegen_compiles" -> compiles,
      "plans.codegen_fallbacks" -> fallbacks,
      "spark.unpartitioned_windows" -> windows,
      "spark.redundant_cache" -> recache,
      "sinks.files_written" -> files,
      "sinks.bytes_written_mb" -> bytes / MB,
      "streaming.triggers" -> ps.size.toLong,
      "streaming.input_rows" -> ps.map(_.numInputRows).sum,
      "streaming.trigger_s" -> triggerS,
      "streaming.outside_trigger_s" -> (if (op.module == "streaming") math.max(0.0, buildS - triggerS) else 0.0),
      "jvm.heap_peak_mb" -> heapPeak) ++
      Json.Obj(StreamPhases.map(k => s"streaming.${k}_s" -> ps.map(dur(_, k)).sum): _*)
  }

  private val StreamPhases = Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")

  /** Appends one op's spans; all of them carry the op's root span id. */
  private final class Spans(out: mutable.ArrayBuffer[Json.Obj], op: String, pass: Int) {
    private var root = -1L
    def apply(parent: Long, name: String, startMs: Double, endMs: Double, attrs: Json.Obj): Long = {
      nextSpan += 1
      if (root < 0) root = nextSpan
      out += Json.Obj("id" -> nextSpan, "parent" -> parent, "root" -> root, "name" -> name,
        "op" -> op, "pass" -> pass, "start_ms" -> startMs,
        "dur_ms" -> math.max(0.0, endMs - startMs), "attrs" -> attrs)
      nextSpan
    }
  }

  /** Files under the graft_* scratch tree written since `sinceMs`. */
  private def scratchWrites(sinceMs: Long): (Long, Long) = {
    var files, bytes = 0L
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(walk))
      else if (f.lastModified >= sinceMs) { files += 1; bytes += f.length }
    Option(scratchRoot.listFiles).foreach(_.filter(_.getName.startsWith("graft_")).foreach(walk))
    (files, bytes)
  }
}
