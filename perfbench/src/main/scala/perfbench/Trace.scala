package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in microseconds with nanoTime resolution, on the same
  * epoch as Spark's listener event times (currentTimeMillis). */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def us: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** One traced interval. `parent` is 0 for a root span. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** Per-op counters gathered from Spark's task and stage events. */
final class OpCounters {
  var jobs, stages, tasks, failedTasks = 0L
  var busyMs, queueMs, shuffleW, shuffleR, spill, inBytes, inRows = 0L
}

/** The traced run's recorder. Spans are kept in memory and written out
  * when the run ends. Spark jobs are parented to the benchmark op that
  * issued them through the `perfbench.op` local property, which
  * [[Ctx.op]] sets around each call; Catalyst phases (from each
  * QueryExecution's planning tracker) are parented by time containment,
  * because the single client thread runs one op at a time. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  val OpProp = "perfbench.op"
  private val ids = new AtomicLong(1)
  def nextId(): Long = ids.getAndIncrement()

  val spans = mutable.ArrayBuffer.empty[Span]
  def add(s: Span): Unit = synchronized { spans += s }

  val counters = mutable.Map.empty[Long, OpCounters]
  private val jobOp = mutable.Map.empty[Int, (Long, Long, Long)] // job -> (op, span id, start)
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageSubmitMs = mutable.Map.empty[Int, Long]
  /** (start, end, phase) of every traced query's Catalyst phases. */
  val phases = mutable.ArrayBuffer.empty[(Long, Long, String)]
  /** End time of every executed query (one per QueryExecution). */
  val queries = mutable.ArrayBuffer.empty[Long]

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
  def drain(): Unit =
    org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)

  private def opOf(props: java.util.Properties): Option[Long] =
    Option(props).flatMap(p => Option(p.getProperty(OpProp))).map(_.toLong)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    opOf(e.properties).foreach { op =>
      jobOp(e.jobId) = (op, nextId(), e.time * 1000L)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      counters.getOrElseUpdate(op, new OpCounters).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOp.remove(e.jobId).foreach { case (op, id, start) =>
      spans += Span(id, op, s"job${e.jobId}", "sched", start,
        math.max(start, e.time * 1000L))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      e.stageInfo.submissionTime.foreach(t =>
        stageSubmitMs(e.stageInfo.stageId) = t)
    }

  private def opOfStage(stage: Int): Option[OpCounters] =
    stageJob.get(stage).flatMap(jobOp.get).map(j =>
      counters.getOrElseUpdate(j._1, new OpCounters))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { opOfStage(e.stageInfo.stageId).foreach(_.stages += 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    opOfStage(e.stageId).foreach { c =>
      c.tasks += 1
      if (e.reason != org.apache.spark.Success) c.failedTasks += 1
      stageSubmitMs.get(e.stageId).foreach(s =>
        c.queueMs += math.max(0L, e.taskInfo.launchTime - s))
      Option(e.taskMetrics).foreach { m =>
        c.busyMs += m.executorRunTime
        c.shuffleW += m.shuffleWriteMetrics.bytesWritten
        c.shuffleR += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inBytes += m.inputMetrics.bytesRead
        c.inRows += m.inputMetrics.recordsRead
      }
    }
  }

  private def recordQuery(qe: QueryExecution): Unit = synchronized {
    var end = 0L
    qe.tracker.phases.foreach { case (name, p) =>
      phases += ((p.startTimeMs * 1000L, p.endTimeMs * 1000L, name))
      end = math.max(end, p.endTimeMs * 1000L)
    }
    queries += end
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    recordQuery(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    recordQuery(qe)
}

/** Interval arithmetic for self-time accounting. */
object Intervals {
  /** Total length of the union of `xs`, each clipped to [lo, hi]. */
  def union(xs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val c = xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var (cs, ce) = (Long.MinValue, Long.MinValue)
    c.foreach { case (a, b) =>
      if (a > ce) { if (ce > cs) total += ce - cs; cs = a; ce = b }
      else ce = math.max(ce, b)
    }
    if (ce > cs) total += ce - cs
    total
  }
}
