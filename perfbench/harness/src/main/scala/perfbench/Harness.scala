package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.SparkEntry
import graft.core.GraftSession
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Closed-loop benchmark driver: one client, one op at a time.
  *
  * An op is one registered query: `GraftSession.tune`, the module's
  * registry call (the DataFrame build; a drain stages, triggers and reads
  * back inside it), physical planning, then `queryExecution.toRdd.count()`
  * -- the same action `graft.Bench` times. Between ops the session is
  * cleaned the way `graft.Bench` cleans it (`clearCache` plus a GC).
  *
  * A run is: session build, `WarmPasses` warm passes (their end closes
  * `setup_s`), then timed passes: at least three (four when traced), so that
  * an op's median over them (perfbench/run.py) drops one disturbed pass, and
  * more while another pass of average length still fits in `--seconds`. The
  * first warm pass executes each op by writing its result to parquet, as
  * graft.Verify does, for the oracle compare outside the timed passes. The
  * seed permutes the op order of each pass.
  *
  * With `--trace 1` the timed passes run untraced, traced, traced,
  * untraced, ... (so a trend across passes cancels out of the tracing
  * overhead); the traced ones attach the Spark, streaming and log listeners, read each
  * op's planning tracker, walk the scratch tree and keep one span tree per
  * op. Spans are held in memory and written when the run ends.
  *
  * Usage: Harness --workload W --ops a,b,c --data DIR --out DIR --seed N
  *        --seconds S --trace 0|1 --cores C
  */
object Harness {

  /** After one warm pass the first timed pass still ran 15-20% slower and
    * burned ~50% more CPU than the next while the JIT compiled. */
  private val WarmPasses = 2

  /** Registry → layer name of the module that owns it. */
  private val registries: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "queries" -> graft.queries.WarehouseQueries.queries,
    "queries" -> graft.queries.TrainingQueries.queries,
    "streaming" -> graft.streaming.StreamingGate.queries,
    "sources" -> graft.sources.LakeExports.queries)

  final case class Op(name: String, module: String, fn: (SparkSession, String) => DataFrame)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val dataDir = args("data")
    val outDir = args("out")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val minPasses = if (traced) 4 else 3
    val cores = args("cores").toInt
    val ops = args("ops").split(",").toSeq.map { n =>
      val (module, reg) = registries.find(_._2.contains(n))
        .getOrElse(sys.error(s"unknown op $n"))
      Op(n, module, reg(n))
    }
    Files.createDirectories(Paths.get(outDir))

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val s0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - s0) / 1e9

    val probe = new Probe(spark)
    val records = mutable.ArrayBuffer.empty[Json.Obj]
    val spans = mutable.ArrayBuffer.empty[Json.Obj]
    def order(pass: Int): Seq[Op] = new scala.util.Random(seed * 1000003L + pass).shuffle(ops)

    // Warm passes: first-use codegen, JIT and caches fill here, not in the
    // timed passes. Their end closes setup_s.
    val compiles0 = Probe.codegenCompiles
    val resDir = s"$outDir/results"
    val warm = order(0).map(op => runOp(spark, op, dataDir, 0, None, probe, Some(s"$resDir/${op.name}")))
    (1 until WarmPasses).foreach(i => order(-i).foreach(op => runOp(spark, op, dataDir, -i, None, probe)))
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val setupCompiles = Probe.codegenCompiles - compiles0
    val jitS = Probe.jitSeconds
    System.gc()

    val passes = mutable.ArrayBuffer.empty[Json.Obj]
    val t0 = System.nanoTime()
    var pass = 1
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (pass <= minPasses || elapsed + elapsed / (pass - 1) <= seconds) {
      val tracedPass = traced && pass % 4 >= 2
      if (tracedPass) probe.attach()
      val recs = order(pass).map(op => runOp(spark, op, dataDir, pass, if (tracedPass) Some(spans) else None, probe))
      if (tracedPass) probe.detach()
      recs.foreach(r => records += (r + ("workload" -> workload) + ("seed" -> seed)))
      passes += passSummary(pass, tracedPass, recs, cores)
      pass += 1
    }

    val oracle = Json.Obj(ops.map(op => op.name -> SparkEntry.oracleSql.getOrElse(op.name, "")): _*)
    Files.writeString(Paths.get(s"$resDir/oracle_sql.json"), Json.render(oracle))

    val summary = Json.Obj(
      "workload" -> workload, "seed" -> seed, "cores" -> cores, "traced" -> traced,
      "ops" -> ops.map(_.name),
      "setup_s" -> setupS, "core.session_s" -> sessionS, "jvm.jit_s" -> jitS,
      "spark.codegen_compiles_setup" -> setupCompiles,
      "passes" -> passes.toSeq,
      "warm_errors" -> Json.Obj(warm.filterNot(_.bool("ok")).map(r => r.str("op") -> r.str("error")): _*))
    Files.writeString(Paths.get(s"$outDir/summary.json"), Json.render(summary))
    Files.writeString(Paths.get(s"$outDir/ops.jsonl"), records.map(Json.render).mkString("", "\n", "\n"))
    if (traced) Files.writeString(Paths.get(s"$outDir/spans.json"), Json.render(spans.toSeq))
    spark.stop()
  }

  /** One op: tune → build → plan → exec, then the between-op cleanup. The
    * op's wall is its own clock around everything before the cleanup, so
    * what the tune/build/plan/exec marks do not cover (the probe's hooks,
    * when traced) shows as `remainder_s`. The cleanup is outside the wall,
    * as in graft.Bench. */
  private def runOp(spark: SparkSession, op: Op, dataDir: String, pass: Int,
                    spans: Option[mutable.ArrayBuffer[Json.Obj]], probe: Probe,
                    sink: Option[String] = None): Json.Obj = {
    val traced = spans.isDefined
    val opStart = System.nanoTime()
    if (traced) probe.beforeOp()
    val cpu0 = Probe.processCpuSeconds
    val gc0 = Probe.gcSeconds
    val jit0 = Probe.jitSeconds
    val steal0 = Probe.hostStealSeconds
    val wall0 = System.currentTimeMillis()
    // marks: op start, then the end of tune, build, plan and exec; a phase
    // that throws ends where it threw and the phases after it read zero
    val marks = mutable.ArrayBuffer(System.nanoTime())
    var df: DataFrame = null
    var error: String = null
    try {
      GraftSession.tune(spark)
      marks += System.nanoTime()
      df = op.fn(spark, dataDir)
      marks += System.nanoTime()
      df.queryExecution.executedPlan
      marks += System.nanoTime()
      sink match {
        case Some(path) => df.coalesce(1).write.mode("overwrite").parquet(path)
        case None => df.queryExecution.toRdd.count()
      }
      marks += System.nanoTime()
    } catch { case e: Throwable =>
      marks += System.nanoTime()
      error = String.valueOf(e.getMessage).take(300)
    }
    val t = marks.toSeq.padTo(5, marks.last)
    val cpu = Probe.processCpuSeconds - cpu0
    val gc = Probe.gcSeconds - gc0
    val jit = Probe.jitSeconds - jit0
    val steal = Probe.hostStealSeconds - steal0
    def secs(i: Int) = (t(i + 1) - t(i)) / 1e9
    val base = Json.Obj(
      "op" -> op.name, "module" -> op.module, "pass" -> pass, "traced" -> traced,
      "ok" -> (error == null), "error" -> error,
      "tune_s" -> secs(0), "build_s" -> secs(1),
      "plan_s" -> secs(2), "exec_s" -> secs(3), "cpu_s" -> cpu, "gc_s" -> gc,
      "jvm.jit_pass_s" -> jit, "host.steal_s" -> steal)
    val rec = spans match {
      case Some(out) => base ++ probe.afterOp(op, pass, df, wall0, t, out)
      case None => base
    }
    val wall = (System.nanoTime() - opStart) / 1e9
    val g0 = System.nanoTime()
    spark.catalog.clearCache()
    System.gc()
    val betweenGc = (System.nanoTime() - g0) / 1e9
    rec + ("wall_s" -> wall) + ("remainder_s" -> (wall - (t(4) - t(0)) / 1e9)) +
      ("between_op_gc_s" -> betweenGc) + ("heap_retained_mb" -> Probe.oldGenUsedMb)
  }

  /** Per-pass roll-up of the op records: sums, except the maxima. */
  private def passSummary(pass: Int, traced: Boolean, recs: Seq[Json.Obj], cores: Int): Json.Obj = {
    def sum(k: String) = recs.flatMap(_.num(k)).sum
    val keys = recs.flatMap(_.fields.collect { case (k, _: Double) => k; case (k, _: Long) => k }).distinct
    val maxKeys = Set("heap_retained_mb", "jvm.heap_peak_mb")
    val rolled = keys.map { k =>
      k -> (if (maxKeys(k)) recs.flatMap(_.num(k)).max else sum(k))
    }
    val passS = sum("wall_s")
    Json.Obj(Seq("pass" -> pass, "traced" -> traced, "n_ops" -> recs.size,
      "failed" -> recs.count(r => !r.bool("ok"))) ++ rolled: _*) +
      ("spark.slot_busy_frac" -> (if (passS > 0) sum("spark.task_run_s") / (cores * passS) else 0.0))
  }
}
