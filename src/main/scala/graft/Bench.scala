package graft

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = graft.core.GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm-up: run each query once at the TARGET scale so the timed run
    // measures steady-state execution. A small-SF warm-up is not enough:
    // AQE picks different physical plans (hence new codegen) once real
    // data sizes are in play, so the first heavy query otherwise pays
    // multi-second Janino/JIT costs (measured 21 s cold vs 7 s warm on
    // t_dedup_corpus at sf0.1). Scratch-writing queries are idempotent
    // (overwrite), so the double run is safe.
    // The timed action: execute the FULL physical plan and count its
    // output rows. A plain Dataset.count() lets Catalyst optimize work
    // out of the count that the full query must perform — it provably
    // drops row-preserving Windows, unique-keyed outer Joins, and
    // Generates whose columns the count never references (the
    // CountCollapseAudit tool found 21 gate queries whose count() plan
    // lost such operators, t_substring_scrub losing 3 joins + 2 windows
    // + a generate). toRdd runs the query exactly as Verify writes it,
    // so the bench measures the operator, not a collapsed shadow of it.
    def runFull(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.toRdd.count()
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", sfDir)
    if (warmDir.nonEmpty) {
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (_, fn) =>
        try { runFull(fn(spark, warmDir)) } catch { case _: Throwable => () }
      }
      spark.catalog.clearCache()
      // settle: let the ContextCleaner/GC drain the warm-up backlog so the
      // first timed query doesn't absorb it (measured +10s on whichever
      // query ran first without this)
      System.gc()
      Thread.sleep(3000)
      spark.range(1000000).selectExpr("sum(id)").collect()
    }
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val t0 = System.nanoTime()
      val ok =
        try { runFull(fn(spark, sfDir)); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          failed += name
          false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      // drop query-scoped persisted data and let the ContextCleaner reap
      // broadcasts/shuffles so later queries aren't taxed by earlier ones
      spark.catalog.clearCache()
      System.gc()
      // a failed query must not masquerade as a fast success
      name -> (if (ok) dt else -1.0)
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedJson,"sf":"$sfDir"}"""
    // stdout FIRST — it is the primary contract and must survive even if
    // the file write fails (read-only cwd, full disk)
    println(json)
    // The full line above can exceed the driver's tail-capture window (it
    // tails stdout, and a >200-query map loses its HEAD — BENCH_r03/r04
    // both came back parsed:null). Emit a second, short summary line LAST
    // so the tail always contains one parseable JSON object.
    println(s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},"failed":$failedJson,"sf":"$sfDir"}""")
    // Per-query results for the tail window: the full map above loses its
    // head to the ~2000-char tail capture, so PERF_r09/r10 both came back
    // with n_common: 0 / per_query: {} — the driver never saw ANY
    // per-query number. This final line carries the SLOWEST queries (the
    // ones a per-query comparison is about), times rounded to ms, sized
    // to stay inside the tail window together with the trailing sbt
    // lines. Additions-only: both lines above and the target/bench.json
    // copy are unchanged.
    val topEntries = {
      val sb = new StringBuilder
      results.filter(_._2 >= 0).sortBy(-_._2).foreach { case (k, v) =>
        val ent = "\"" + k + "\":" + (math.round(v * 1000.0) / 1000.0)
        if (sb.length + ent.length + 1 <= 1500) {
          if (sb.nonEmpty) sb.append(',')
          sb.append(ent)
        }
      }
      sb.toString
    }
    println(s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},"queries":{$topEntries},"failed":$failedJson,"sf":"$sfDir"}""")
    // the stdout line alone can exceed the driver's tail-capture window
    // (BENCH_r03 came back parsed:null); a file copy makes the artifact
    // recoverable regardless of how much of stdout survives
    scala.util.Try {
      val outFile = java.nio.file.Paths.get("target/bench.json")
      java.nio.file.Files.createDirectories(outFile.getParent)
      java.nio.file.Files.writeString(outFile, json + "\n")
      System.err.println(s"[bench] json also written to ${outFile.toAbsolutePath}")
    }.failed.foreach(e => System.err.println(s"[bench] file write failed: $e"))
    spark.stop()
  }
}
