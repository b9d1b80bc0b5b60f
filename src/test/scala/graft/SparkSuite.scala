package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Suite

/** Shared local SparkSession for all suites (Test/fork gives one JVM). */
trait SparkSuite { self: Suite =>
  lazy val spark: SparkSession = SparkSuite.session
  /** Smallest fixture scale — tests assert semantics, not throughput. */
  val sfDir = "/root/testdata/sf0.001"
}

object SparkSuite {
  lazy val session: SparkSession = {
    val s = GraftSession.build(GraftSession.engine ++ Map(
      "spark.master" -> "local[4]",
      "spark.app.name" -> "graft-test",
      "spark.sql.warehouse.dir" ->
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString,
      "spark.sql.shuffle.partitions" -> "8",
      "spark.ui.enabled" -> "false"))
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
