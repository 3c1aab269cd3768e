package graft
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Ad-hoc per-entry job profiler (optimization tooling — NOT part of
  * the driver contract): runs named catalog entries once, after the
  * same warm-up Bench uses, with a SparkListener attached, and prints
  * each Spark job's wall time, stage/task counts and description. The
  * per-entry report also shows the GAP between entry wall time and the
  * sum of job wall times — driver-side work (planning, manifest I/O,
  * parquet footer reads) that no job accounts for. Usage:
  *   SPARK_GRAFT_SF_DIR=... java ... graft.ProfileEntry q271_... q275_...
  */
object ProfileEntry {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProfileEntry <entry> [entry ...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.cpus)
    Queries.prep(spark, sfDir)
    Tables.names.foreach(n => spark.table(n).count())
    val qs = SparkEntry.queries

    final case class JobRec(id: Int, desc: String, t0: Long,
        var t1: Long = 0L, var stages: Int = 0, var tasks: Int = 0,
        var taskMs: Long = 0L)
    val jobs = mutable.ArrayBuffer.empty[JobRec]
    val byId = mutable.Map.empty[Int, JobRec]
    val stageToJob = mutable.Map.empty[Int, JobRec]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        synchronized {
          val desc = Option(j.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("")
          val rec = JobRec(j.jobId, desc, j.time)
          rec.stages = j.stageInfos.size
          rec.tasks = j.stageInfos.map(_.numTasks).sum
          jobs += rec; byId(j.jobId) = rec
          j.stageIds.foreach(sid => stageToJob(sid) = rec)
        }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        synchronized { byId.get(j.jobId).foreach(_.t1 = j.time) }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        synchronized {
          stageToJob.get(t.stageId).foreach { rec =>
            if (t.taskInfo != null) rec.taskMs += t.taskInfo.duration
          }
        }
    }

    args.foreach { name =>
      // one untimed warm pass (codegen/broadcast warm-up), then the
      // profiled pass — mirrors Bench's min-of-passes discipline
      qs(name)(spark, sfDir).count()
      spark.sparkContext.addSparkListener(listener)
      jobs.clear(); byId.clear(); stageToJob.clear()
      val t0 = System.nanoTime()
      qs(name)(spark, sfDir).count()
      val wallMs = (System.nanoTime() - t0) / 1e6
      Thread.sleep(300) // let the listener bus drain
      spark.sparkContext.removeSparkListener(listener)
      val jobSum = jobs.map(j => (j.t1 - j.t0).max(0L)).sum
      println(f"%n=== $name: wall ${wallMs}%.0f ms, ${jobs.size} jobs, " +
        f"job-wall sum $jobSum ms, driver gap ${wallMs - jobSum}%.0f ms ===")
      jobs.foreach { j =>
        val w = (j.t1 - j.t0).max(0L)
        val d = if (j.desc.length > 90) j.desc.take(90) + "…" else j.desc
        println(f"  job ${j.id}%4d ${w}%6d ms  stages=${j.stages}%2d " +
          f"tasks=${j.tasks}%4d taskMs=${j.taskMs}%6d  $d")
      }
    }
    spark.stop()
  }
}
