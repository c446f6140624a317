package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bench-honesty audit: Bench times `query.count()`, and Catalyst may
  * legally optimize work OUT of a count that the full query (what Verify
  * writes and a user reads) must perform — e.g. dropping a unique-keyed
  * left join whose columns the count never references (caught live on
  * t_clustering_coef, round 6). For every gate query this compares the
  * optimized plan of the full result against the optimized plan of
  * groupBy().count() and flags queries whose count plan lost Join /
  * Generate / Window operators: their bench number is not measuring the
  * operator and the query body needs a shape the optimizer cannot
  * shortcut (e.g. fold via a union-aggregate).
  */
object CountCollapseAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val prefix = args.lift(1).getOrElse("")
    val spark = graft.core.GraftSession.builder(8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def ops(p: LogicalPlan): Map[String, Int] = {
      val names = scala.collection.mutable.ArrayBuffer.empty[String]
      p.foreach { n =>
        val c = n.getClass.getSimpleName
        if (c.contains("Join") || c.contains("Generate") || c.contains("Window"))
          names += (if (c.contains("Join")) "Join" else c)
      }
      names.groupBy(identity).map { case (k, v) => k -> v.size }
    }

    var flagged = List.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(_._1.startsWith(prefix))
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val full = ops(df.queryExecution.optimizedPlan)
          val cnt = ops(df.groupBy().count().queryExecution.optimizedPlan)
          val lost = full.filter { case (k, n) => cnt.getOrElse(k, 0) < n }
            .map { case (k, n) => s"$k $n->${cnt.getOrElse(k, 0)}" }
          if (lost.nonEmpty) {
            flagged ::= name
            println(s"[audit] COLLAPSED $name: ${lost.mkString(", ")}")
          }
        } catch {
          case e: Throwable =>
            println(s"[audit] ERROR $name: ${e.getMessage.take(120)}")
        }
        spark.catalog.clearCache()
      }
    println(s"[audit] flagged: ${flagged.size} -> ${flagged.sorted.mkString(", ")}")
    spark.stop()
  }
}
