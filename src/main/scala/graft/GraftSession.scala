package graft

import org.apache.spark.sql.SparkSession

/** The one place graft builds a SparkSession. Every main and the test
  * fixture go through [[local]], so a session conf is added or changed
  * here once. Functions and planner rules are installed into the built
  * session by `GraftFunctions.register` and `BinnedRangeJoinRule.install`.
  */
object GraftSession {

  /** Worker threads for a local session: `SPARK_GRAFT_CPUS`, else every
    * core the JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cpus]` session (or the live one, if already built) with
    * one shuffle partition per core, UTC session time, no UI, and the
    * chmod-fork-free local filesystem on both Hadoop FS APIs (see
    * [[graft.fs.FastLocalFileSystem]]). Log level is WARN; a caller
    * that wants another sets it after the call. */
  def local(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", "graft.fs.FastLocalFileSystem")
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        "graft.fs.FastLocalFs")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
