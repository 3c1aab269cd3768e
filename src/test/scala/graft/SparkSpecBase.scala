package graft

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test run (Spark startup is ~5 s;
  * per-suite sessions would dominate test time). */
object SparkTestSession {
  lazy val spark: SparkSession = GraftSession.local(4)
  val sfDir = "/root/testdata/sf0.001"
}

/** One Spark job a spec's body started: its id, its description, the
  * details (call stack) of each of its stages and the input records its
  * tasks read (parquet scans and cached blocks alike). */
final case class SpecJob(id: Int, desc: String, stages: Seq[String],
    records: Long)

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

  /** Janino compilations `body` runs: Spark's own counter, which the
    * forked test JVM runs one suite at a time. */
  protected def compilationsOf(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  /** Every job `body` starts, in start order. */
  protected def jobsOf(body: => Unit): Seq[SpecJob] = {
    val jobs = mutable.LinkedHashMap.empty[Int, (String, Seq[String])]
    val stageJob = mutable.Map.empty[Int, Int]
    val records = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    // a marker job started last shows the (asynchronous) listener bus
    // has delivered every event before it
    val marker = s"spec-jobs-marker-${System.nanoTime()}"
    @volatile var markerSeen = false
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
        val desc = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        if (desc == marker) markerSeen = true
        else {
          jobs(j.jobId) = (desc, j.stageInfos.map(_.details))
          j.stageIds.foreach(s => stageJob(s) = j.jobId)
        }
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
        for (job <- stageJob.get(t.stageId); m <- Option(t.taskMetrics))
          records(job) += m.inputMetrics.recordsRead
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(markerSeen, "listener bus never delivered the marker job")
    } finally sc.removeSparkListener(listener)
    listener.synchronized(jobs.toSeq.map { case (id, (d, st)) =>
      SpecJob(id, d, st, records(id)) })
  }
}
