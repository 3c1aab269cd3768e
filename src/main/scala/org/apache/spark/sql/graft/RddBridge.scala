package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD

/** `SparkContext.unpersistRDD` (`private[spark]`): drops an RDD's blocks
  * without `RDD.unpersist`'s WARN for a locally checkpointed RDD. */
object RddBridge {
  def release(rdd: RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
