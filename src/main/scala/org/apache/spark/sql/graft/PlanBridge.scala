package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.RDDBlockId

/** Bridge into `private[sql]` plan surgery on local checkpoints.
  *
  * `Dataset.localCheckpoint` snapshots the child plan's estimated
  * statistics into the resulting `LogicalRDD` (`originStats`), so a
  * plan built over a checkpoint inherits the estimate, not the size of
  * the rows it holds. Both members re-bind the `LogicalRDD` with other
  * statistics; the materialized RDD, partitioning and ordering are
  * untouched. */
object PlanBridge {

  /** In an ITERATED loop the estimates compound: round k's join
    * estimate multiplies round k-1's snapshots, so the sizeInBytes
    * BigInt roughly squares per round — by round ~15 of a chain-graph
    * fixpoint planning spends minutes in BigInteger.multiply
    * (Karatsuba/ToomCook frames) inside stats derivation, before any
    * job runs. Stripping `originStats` after each checkpoint resets
    * every round to the default leaf estimate, keeping planning
    * O(plan size) forever. */
  def freshStats(df: DataFrame): DataFrame = rebind(df, None)

  /** An eager checkpoint sized by the bytes its blocks hold, memory and
    * disk, as the block manager master records them: one lookup, no
    * job. A join's estimate can overstate a small checkpoint
    * by orders of magnitude, and a write planned over it then keeps
    * many partitions for a few hundred rows. Kept as it is when any
    * partition is not stored (nothing measured). */
  def storedStats(df: DataFrame): DataFrame =
    df.queryExecution.logical match {
      case l: LogicalRDD =>
        val rdd = l.rdd
        val stored = rdd.sparkContext.env.blockManager.master
          .getStorageStatus.toSeq.flatMap(_.rddBlocks.collect {
            case (RDDBlockId(id, p), b) if id == rdd.id =>
              p -> (b.memSize + b.diskSize)
          }).toMap
        if (stored.size != rdd.getNumPartitions) df
        else rebind(df, Some(Statistics(sizeInBytes = stored.values.sum)))
      case _ => df
    }

  private def rebind(df: DataFrame, stats: Option[Statistics]): DataFrame =
    df.queryExecution.logical match {
      case l: LogicalRDD =>
        val s = df.sparkSession.asInstanceOf[SparkSession]
        Dataset.ofRows(s, l.copy()(s, stats, None))
      case _ => df
    }
}
