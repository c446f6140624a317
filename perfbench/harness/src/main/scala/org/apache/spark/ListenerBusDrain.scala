package org.apache.spark

/** Blocks until every listener event posted so far has been delivered, so
  * a traced op's jobs, stages and trigger progress are all recorded before
  * the op's record is closed. The bus is package-private to Spark.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
