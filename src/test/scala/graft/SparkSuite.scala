package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.spark.sql.SparkSession
import org.scalatest.Suite

/** Shared local SparkSession for all suites (Test/fork gives one JVM). */
trait SparkSuite { self: Suite =>
  lazy val spark: SparkSession = SparkSuite.session
  /** Smallest fixture scale — tests assert semantics, not throughput. */
  val sfDir = "/root/testdata/sf0.001"

  /** `body`'s result and the messages `loggerName` logs at `level` or
    * above while it runs. The messages go to the capture only, not to the
    * console; the logger's level and additivity are restored after. */
  def logLines[T](loggerName: String, level: Level)(body: => T): (T, Seq[String]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender(s"capture-$loggerName", null, null, true, null) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getLogger(loggerName).asInstanceOf[Logger]
    val before = logger.getLevel
    // addAppender and setAdditive reconfigure the logger, so the level last
    logger.addAppender(appender)
    logger.setAdditive(false)
    logger.setLevel(level)
    val result = try body finally {
      logger.setLevel(before)
      logger.setAdditive(true)
      logger.removeAppender(appender)
      appender.stop()
    }
    (result, seen.toArray(Array.empty[String]).toSeq)
  }
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
