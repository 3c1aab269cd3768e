package graft

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test run (Spark startup is ~5 s;
  * per-suite sessions would dominate test time). */
object SparkTestSession {
  lazy val spark: SparkSession = GraftSession.local(4)
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  def sfDir: String = SparkTestSession.sfDir

  /** The WARN (and worse) events `body` logs, as "logger: message". */
  protected def warningsOf(body: => Unit): Seq[String] = {
    val seen = mutable.ArrayBuffer.empty[String]
    val appender = new AbstractAppender("spec-warnings", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(ev: LogEvent): Unit = seen.synchronized {
        seen += s"${ev.getLoggerName}: ${ev.getMessage.getFormattedMessage}"
      }
    }
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    appender.start()
    root.addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
    try body
    finally {
      root.removeAppender(appender.getName)
      ctx.updateLoggers()
      appender.stop()
    }
    seen.synchronized(seen.toSeq)
  }
}
