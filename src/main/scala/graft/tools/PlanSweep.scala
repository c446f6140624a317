package graft.tools

import graft.SparkEntry

/** Sweep every registered query's PHYSICAL plan for scale red flags —
  * the audit the per-query `.explain` discipline does one at a time,
  * run over the whole surface at once:
  *
  *   - `CartesianProduct` — corpus-quadratic unless provably bounded
  *   - `Expand` — multi-distinct aggregates multiply the shuffle N×
  *   - `SinglePartition` windows/sorts — a global window serializes the
  *     whole relation through one task
  *   - `BroadcastNestedLoopJoin` — nested-loop fallback (fine only for
  *     bounded scalar/broadcast sides)
  *
  * A hit is not automatically a bug (a 25-row result sorted globally is
  * fine; a bounded weight table cross join is fine) — the sweep prints
  * the query, the flag, and the matching plan line so each hit can be
  * triaged once and the triage recorded. Streaming gates are excluded:
  * constructing them RUNS the drain, and their plans are per-batch.
  */
object PlanSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val only = args.lift(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt
    val spark = graft.core.GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.core.GraftSession.tune(spark)

    val flags = Seq("CartesianProduct", "Expand", "SinglePartition",
      "BroadcastNestedLoopJoin")
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(_.startsWith("st_"))
      .filter(n => only.forall(n.startsWith))
    var hits = 0
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        // executedPlan BEFORE execution: the AQE root prints the initial
        // physical plan, which is where the flagged operators appear
        val plan = df.queryExecution.executedPlan.toString()
        val found = flags.flatMap { f =>
          plan.linesIterator.find(_.contains(f)).map(l => (f, l.trim.take(110)))
        }
        found.foreach { case (f, line) =>
          hits += 1
          println(s"[plansweep] $name :: $f :: $line")
        }
        spark.catalog.clearCache()
      } catch {
        case e: Exception =>
          println(s"[plansweep] $name :: ERROR :: ${e.getMessage.take(80)}")
      }
    }
    println(s"[plansweep] ${names.size} plans swept, $hits flag hits")
    spark.stop()
  }
}
