package graft.core

import org.apache.spark.sql.SparkSession

/** The one place a session is built or reconfigured.
  *
  * The reference (stellar-etl-airflow) delegates physical execution to
  * BigQuery; here Catalyst/Tungsten own it, so the session carries the
  * engine-wide settings. AQE, partition coalescing, skew-join handling,
  * nested-schema pruning and parquet filter pushdown are Spark defaults
  * and are not restated. UTC session time keeps DATETIME-naive columns
  * (`batch_run_date`, see reference
  * dags/stellar_etl_airflow/build_del_ins_from_gcs_to_bq_task.py:77-83)
  * comparing consistently.
  */
object GraftSession {

  /** A local session over `cpus` slots with one shuffle partition per
    * slot (on a real cluster this would be ~2-3x total cores and AQE
    * coalesces down). Every main and the test session build from here. */
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // static conf, must be set at session build: the default generated-
      // class cache holds 100 entries, but the query suite compiles far
      // more distinct codegen units — with the default, a warm-up pass
      // evicts its own classes and every re-run re-pays Janino+JIT
      // (measured 16.6 s vs 2.5 s warm on t_dedup_contain)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  /** Apply the runtime settings to a session (also one built elsewhere:
    * callers of SparkEntry and the benchmark harness build their own), and
    * register the engine's native functions and optimizer rule. Safe to
    * call repeatedly.
    */
  def tune(spark: SparkSession): SparkSession = {
    val c = spark.conf
    c.set("spark.sql.session.timeZone", "UTC")
    // `events.ts` is parquet TIMESTAMP(NANOS), which Spark cannot
    // represent: read it as raw int64 (Tables.readEvents truncates to
    // micros). Set here, before any read, so a nanos column reads the
    // same whatever ran first in the session.
    c.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Parquet timestamps stay INT96 (the default): pyarrow/pandas read INT96
    // as tz-NAIVE timestamp[ns], which is what oracle comparisons expect —
    // INT64 micros would come back tz-aware (isAdjustedToUTC) and mismatch.
    // The ns range limit is handled by the ns-safe AsOfJoin.EndOfTime
    // sentinel instead (9999-12-31 overflows int64 nanos and wraps).
    graft.plans.GraftFunctions.register(spark)
    if (!spark.experimental.extraOptimizations.contains(graft.plans.IntervalBroadcastRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.IntervalBroadcastRule
    spark
  }

  /** Run `body` with the given session settings, then put each key back
    * as it was — its prior value, or unset if it was unset — even when
    * `body` throws. The settings are session-global for the body's
    * duration: a query planned concurrently on the same session sees
    * them too (every gate here runs its queries sequentially).
    */
  def withConf[A](spark: SparkSession, settings: (String, String)*)(body: => A): A = {
    val current = spark.conf.getAll
    val prior = settings.map { case (k, _) => k -> current.get(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
