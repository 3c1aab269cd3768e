package graft

import org.apache.spark.sql.SparkSession

import graft.functions.GraftFunctions
import graft.plans.{ParamLiterals, SmallInputPlanning}

/** The one place graft builds and prepares a SparkSession. Every main
  * and the test fixture go through [[local]], so a session conf is
  * added or changed here once; [[prepare]] readies any session graft
  * runs on, including one a caller built itself.
  */
object GraftSession {

  /** Worker threads for a local session: `SPARK_GRAFT_CPUS`, else every
    * core the JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cpus]` session (or the live one, if already built) with
    * one shuffle partition per core, UTC session time, no UI, and the
    * chmod-fork-free local filesystem on both Hadoop FS APIs (see
    * [[graft.fs.FastLocalFileSystem]]), [[prepare]]d. Log level is
    * WARN; a caller that wants another sets it after the call. */
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
    prepare(s)
  }

  /** Readies a built session for graft; idempotent, and cheap enough to
    * run per statement batch. `Engine`'s constructor and `Queries.prep`
    * call it, so a session graft did not build gets it too.
    *
    *  - registers graft's SQL functions (`GraftFunctions.register`);
    *  - installs [[graft.plans.ParamLiterals]] as a user-provided
    *    optimizer rule, which runs after Spark's own batches (constant
    *    folding, pushdown, partition pruning) and turns every non-null
    *    int, long, short, byte, float, double, date and timestamp
    *    literal into a [[graft.plans.ParamLiteral]], whose generated
    *    code reads the value instead of inlining it;
    *  - names whole-stage classes without their stage id
    *    (`spark.sql.codegen.useIdInClassName=false`), so identical
    *    stages share one class within and across plans;
    *  - installs [[graft.plans.SmallInputPlanning]] as a planner
    *    strategy, ahead of Spark's own: a global sort over a measured
    *    input, or an aggregate over a listed file scan, of at most AQE's
    *    coalescing floor (`coalescePartitions.minPartitionSize`) runs in
    *    one partition without its exchange. A SELECT's
    *    `GROUP BY k ORDER BY k` over a small table is then one job, not
    *    four; inputs above the floor plan as before.
    *
    * With the optimizer rule and the class naming, the generated source
    * depends on the plan's shape alone, and a statement shape seen before
    * hits Spark's codegen cache whatever its values. */
  def prepare(spark: SparkSession): SparkSession = synchronized {
    GraftFunctions.register(spark)
    val rules = spark.experimental.extraOptimizations
    if (!rules.contains(ParamLiterals))
      spark.experimental.extraOptimizations = rules :+ ParamLiterals
    spark.conf.set("spark.sql.codegen.useIdInClassName", "false")
    val strategies = spark.experimental.extraStrategies
    if (!strategies.contains(SmallInputPlanning))
      spark.experimental.extraStrategies = SmallInputPlanning +: strategies
    spark
  }
}
