package graft.operators

import graft.SparkSpec
import graft.core.GraftSession
import org.apache.spark.sql.functions._

/** AQE-on plan stability for the hand-partitioned iteration loops.
  *
  * PageRank/HITS pin their per-round partitioning by hand and disable
  * AQE for the loop's duration (GraftSession.withConf in LinkAnalysis) — the
  * engine's own adaptive call, since AQE cannot see across unrolled
  * rounds. This spec pins the contract that makes that safe to run
  * inside an AQE-on session: results are BIT-IDENTICAL whether the
  * session entered with AQE on or off (integer fixed-point + pinned
  * partitioning = no plan-dependent arithmetic), and the session's
  * adaptive setting is restored on exit — including when the operator
  * rejects its input — so the loop never leaks adaptive=false into a
  * caller's later queries.
  */
class AqeLoopStabilitySpec extends SparkSpec {

  import spark.implicits._

  private val edges = Seq(
    (1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (4L, 3L), (4L, 1L),
    (5L, 4L), (5L, 2L), (2L, 5L), (6L, 1L)).toDF("src", "dst")

  private def withAqe[A](on: Boolean)(body: => A): A =
    GraftSession.withConf(spark, "spark.sql.adaptive.enabled" -> on.toString)(body)

  test("pageRankTopK and hitsTopK: identical rows under AQE on and off, " +
      "and the session's adaptive conf is restored after each call") {
    def pr() = LinkAnalysis.pageRankTopK(spark, edges, "src", "dst",
      iters = 5, k = 6).collect().map(_.toSeq).toSeq
    def hits() = LinkAnalysis.hitsTopK(spark, edges, "src", "dst",
      iters = 4, k = 6).collect().map(_.toSeq).toSeq
    val (prOn, hitsOn) = withAqe(on = true) {
      val r = (pr(), hits())
      assert(spark.conf.get("spark.sql.adaptive.enabled") == "true",
        "loop leaked its AQE override")
      r
    }
    val (prOff, hitsOff) = withAqe(on = false) {
      val r = (pr(), hits())
      assert(spark.conf.get("spark.sql.adaptive.enabled") == "false",
        "loop must restore the caller's OFF setting too")
      r
    }
    assert(prOn == prOff, "PageRank must not depend on the AQE setting")
    assert(hitsOn == hitsOff, "HITS must not depend on the AQE setting")
  }

  test("the AQE override is restored even when the operator rejects its " +
      "input mid-setup") {
    withAqe(on = true) {
      intercept[IllegalArgumentException] {
        LinkAnalysis.hitsTopK(spark, edges, "src", "dst", iters = 0, k = 3)
      }
      assert(spark.conf.get("spark.sql.adaptive.enabled") == "true",
        "a failed call must not leak adaptive=false")
    }
  }
}
