package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression,
  UserDefinedExpression}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter,
  LocalRelation, LogicalPlan, Project, Sort, Union}
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.execution.{CoalesceExec, PlanLater, SortExec,
  SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.adaptive.LogicalQueryStage
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.internal.SQLConf

import graft.sources.GraftFileIndex

/** Planner strategy: a global sort or an aggregate whose input is under
  * AQE's coalescing floor runs in one partition, without the exchange
  * that would only be read back as one partition.
  *
  * The premise is AQE's own rule: after a shuffle, AQE reads an input
  * of at most `spark.sql.adaptive.coalescePartitions.minPartitionSize`
  * (1 MB by default) back as ONE partition. For such an input the
  * exchange buys no parallelism; it costs a map stage, and for a
  * range exchange a sampling job as well. Two cases:
  *
  *  - a global [[Sort]] whose input size is measured — every leaf is a
  *    materialized AQE query stage or a `LocalRelation`, reached only
  *    through Project, Filter, Aggregate or Sort — becomes a sort over
  *    `CoalesceExec(1)`: no range exchange, no sampling job. Planned
  *    first, an aggregate's input is not measured yet; the case fires
  *    when AQE re-plans after the aggregate's map stage has run;
  *  - an [[Aggregate]] over file-source scans of at most the floor in
  *    file bytes (the manifest's or the listing's sizes), reached only
  *    through deterministic Project, Filter or Union, is Spark's own
  *    aggregate plan over `CoalesceExec(1)`: no hash exchange. A sort
  *    above it then needs no exchange either, as one partition is
  *    already ordered-distributed. A union of scans is how a snapshot
  *    read with deletion vectors plans. A UDF or a graft kernel on the
  *    path (the deletion-vector probes aside) keeps today's plan: those
  *    rows are compute-dense, and one task would serialize the
  *    compute, not just the shuffle (the reason
  *    `SnapshotOps.writeFiles` exempts Generate, which no case here
  *    looks through).
  *
  * Nothing changes when AQE or its coalescing is off (no floor
  * applies), for a streaming plan, or above the floor, so a large input
  * keeps every exchange. Decisions read measured sizes only — stage
  * statistics, local rows, listed file bytes, and what Catalyst derives
  * from those — never a default or a catalog estimate.
  * `GraftSession.prepare` installs it. */
object SmallInputPlanning extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case _ if plan.isStreaming => Nil
    case s: Sort if s.global && floor.exists(f => measuredBytes(s.child)
        .exists(_ <= f)) =>
      SortExec(s.order, global = true, CoalesceExec(1, planLater(s.child))) ::
        Nil
    case a: Aggregate if !a.expressions.exists(computeDense) &&
        floor.exists(f => scanBytes(a.child).exists(_ <= f)) =>
      SparkSession.getActiveSession.toSeq.flatMap(
        _.sessionState.planner.Aggregation(a).map(_.transformUp {
          case p: PlanLater => CoalesceExec(1, p)
        }))
    case _ => Nil
  }

  /** AQE's coalescing floor, when AQE coalesces shuffle partitions. */
  private def floor: Option[Long] = {
    val conf = SQLConf.get
    if (conf.adaptiveExecutionEnabled && conf.coalesceShufflePartitionsEnabled)
      Some(conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE))
    else None
  }

  /** The size of a plan whose every leaf is measured. */
  private def measuredBytes(p: LogicalPlan): Option[BigInt] = {
    def measured(q: LogicalPlan): Boolean = q match {
      case s: LogicalQueryStage => s.isMaterialized
      case _: LocalRelation => true
      case _: Project | _: Filter | _: Aggregate | _: Sort =>
        q.children.forall(measured)
      case _ => false
    }
    if (measured(p)) Some(p.stats.sizeInBytes) else None
  }

  /** File bytes of the listed file-source scans below deterministic
    * projections and filters free of UDFs and graft kernels: one scan,
    * or the union of scans a snapshot read with deletion vectors
    * plans (the DV'd files filtered by position, the clean ones bare). */
  private def scanBytes(p: LogicalPlan): Option[Long] = p match {
    case Project(list, c) if list.forall(simple) => scanBytes(c)
    case Filter(cond, c) if simple(cond) => scanBytes(c)
    case u: Union =>
      val parts = u.children.map(scanBytes)
      if (parts.forall(_.isDefined)) Some(parts.flatten.sum) else None
    case LogicalRelation(fs: HadoopFsRelation, _, _, false, _) =>
      fs.location match {
        case i: PartitioningAwareFileIndex => Some(i.sizeInBytes)
        case i: GraftFileIndex => Some(i.sizeInBytes)
        case _ => None // a catalog index sizes from catalog statistics
      }
    case _ => None
  }

  private def simple(e: Expression): Boolean =
    e.deterministic && !computeDense(e)

  /** A UDF or a graft kernel: an expression of graft's own, or the
    * static call into a kernel object that the optimizer replaced one
    * by. The two deletion-vector probes are not kernels in this sense:
    * one binary search or one bounded hash lookup per row, as cheap as
    * Spark's own InSet. */
  private def computeDense(e: Expression): Boolean = e.exists {
    case _: UserDefinedExpression => true
    case s: StaticInvoke => s.staticObject.getName.startsWith("graft.") &&
      !DvProbes(s.functionName)
    case x => x.getClass.getName.startsWith("graft.functions.")
  }

  private val DvProbes = Set("inSortedLongs", "pathOrdinal")
}
