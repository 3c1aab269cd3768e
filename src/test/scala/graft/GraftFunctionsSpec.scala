package graft

import scala.collection.mutable

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry
import org.apache.spark.sql.classic.ClassicConversions
import graft.functions.GraftFunctions

/** `GraftFunctions.register` is the one registration path and runs on
  * every `Engine` and every `Queries.prep`: re-running it must stay quiet
  * and must still re-bind a name that something else took over. */
class GraftFunctionsSpec extends SparkSpecBase {

  private def registry =
    ClassicConversions.castToImpl(spark).sessionState.functionRegistry

  /** Messages the function registry logs at WARN or above during `body`,
    * caught by an appender on the root logger config. */
  private def registryWarnings(body: => Unit): Seq[String] = {
    val seen = mutable.ArrayBuffer.empty[String]
    val appender = new AbstractAppender("graft-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLoggerName == classOf[SimpleFunctionRegistry].getName)
          seen.synchronized(seen += e.getMessage.getFormattedMessage)
    }
    val ctx = LoggerContext.getContext(false)
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

  test("repeated Queries.prep logs no replaced-function warning") {
    val warnings = registryWarnings {
      Queries.prep(spark, sfDir)
      Queries.prep(spark, sfDir)
    }
    val replaced = warnings.filter(_.contains("replaced a previously"))
    assert(replaced.isEmpty, replaced.mkString("\n"))
    assert(spark.sql("SELECT duck_index(array(7, 8), 2)").head().getInt(0)
      == 8)
  }

  test("register re-binds a graft name that another function took over") {
    spark.udf.register("duck_round", (x: Double, d: Int) => -1.0)
    assert(spark.sql("SELECT duck_round(2.5D, 0)").head().getDouble(0)
      == -1.0)
    // also shows the capture above sees the registry's warnings
    val warnings = registryWarnings(GraftFunctions.register(spark))
    assert(warnings.count(_.contains("replaced a previously")) == 1,
      warnings.mkString("\n"))
    assert(registry.lookupFunction(FunctionIdentifier("duck_round"))
      .map(_.getClassName).contains("graft.functions"))
    assert(spark.sql("SELECT duck_round(2.5D, 0)").head().getDouble(0)
      == 3.0)
  }
}
