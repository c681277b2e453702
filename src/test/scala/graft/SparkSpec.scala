package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session keeps the
  * suite fast; tests must not depend on session-global temp views). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Run `body` and return the messages it logged through the logger
    * of `cls` at WARN or above (the suite's log level). */
  def warningsOf(cls: Class[_])(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    session // Spark's log4j2 setup must be live before anything logs
    val got = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new org.apache.logging.log4j.core.appender.AbstractAppender(
        "graft-test-capture", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(ev: LogEvent): Unit =
        got.add(ev.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = org.apache.logging.log4j.LogManager.getLogger(cls)
      .asInstanceOf[Logger]
    logger.addAppender(appender)
    try body finally logger.removeAppender(appender)
    got.toArray(Array.empty[String]).toSeq
  }
}
