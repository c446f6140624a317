package graft

import graft.core.GraftSession
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  val sfDir = "/root/testdata/sf0.001"

  override def afterAll(): Unit = ()
}

object SparkSpec {
  lazy val session: SparkSession =
    GraftSession.tune(
      GraftSession.builder(8)
        .config("spark.sql.warehouse.dir",
          java.nio.file.Files.createTempDirectory("graft_wh").toString)
        .getOrCreate())
}
