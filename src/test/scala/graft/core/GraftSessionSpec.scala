package graft.core

import graft.{SparkEntry, SparkSpec}
import graft.operators.{Bpe, LinkAnalysis}

class GraftSessionSpec extends SparkSpec {

  import spark.implicits._

  private val aqe = "spark.sql.adaptive.enabled"
  private val width = "spark.sql.shuffle.partitions"

  /** A fresh session on the shared context: the builder's and SparkConf's
    * settings, none of the runtime settings other specs have made. */
  private def fresh() = spark.newSession()

  test("builder(cpus) carries the settings Bench and Verify run with; " +
      "the Spark defaults it no longer restates still read true") {
    val sc = spark.sparkContext
    assert(sc.master == "local[8]")
    assert(sc.getConf.get("spark.sql.codegen.cache.maxEntries") == "5000")
    assert(sc.getConf.get("spark.ui.enabled") == "false")
    val s = GraftSession.tune(fresh())
    assert(s.conf.get(width) == "8")
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    Seq(aqe, "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.optimizer.nestedSchemaPruning.enabled",
      "spark.sql.parquet.filterPushdown").foreach { k =>
      assert(s.conf.get(k) == "true", k)
    }
  }

  test("tune sets parquet nanosAsLong before any table read") {
    val s = GraftSession.tune(fresh())
    assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }

  test("withConf restores a set key and unsets an unset one, even when " +
      "the body throws") {
    val s = fresh()
    assert(!s.conf.getAll.contains(aqe))
    val before = s.conf.getAll
    intercept[IllegalStateException] {
      GraftSession.withConf(s, aqe -> "false", width -> "3") {
        assert(s.conf.get(aqe) == "false" && s.conf.get(width) == "3")
        throw new IllegalStateException("body failed")
      }
    }
    assert(s.conf.getAll == before)
  }

  test("withConf nests: the inner scope restores the outer one's values") {
    val s = fresh()
    val before = s.conf.getAll
    val seen = GraftSession.withConf(s, aqe -> "false", width -> "5") {
      val inner = GraftSession.withConf(s, width -> "2") {
        (s.conf.get(aqe), s.conf.get(width))
      }
      (inner, (s.conf.get(aqe), s.conf.get(width)))
    }
    assert(seen == ((("false", "2"), ("false", "5"))))
    assert(s.conf.getAll == before)
  }

  test("the loop operators and a streaming drain leave the session conf " +
      "as they found it") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 3L)).toDF("src", "dst")
    val before = spark.conf.getAll
    LinkAnalysis.pageRankTopK(spark, edges, "src", "dst", iters = 3, k = 2).collect()
    LinkAnalysis.hitsTopK(spark, edges, "src", "dst", iters = 3, k = 2).collect()
    Bpe.learnMerges(spark, Seq("aaab" -> 3L, "ab" -> 2L).toDF("word", "freq"),
      rounds = 2).collect()
    SparkEntry.queries("st_dedup")(spark, sfDir).collect()
    assert(spark.conf.getAll == before)
  }
}
