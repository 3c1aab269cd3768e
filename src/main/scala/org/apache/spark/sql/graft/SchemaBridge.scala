package org.apache.spark.sql.graft

import org.apache.spark.sql.types.StructType

/** Bridge into Spark's `private[sql]` schema merge — the rule Spark's
  * parquet `mergeSchema` inference folds over file footers, so a
  * schema merged from cached footers is exactly the one inference
  * would have produced. */
object SchemaBridge {
  def merge(left: StructType, right: StructType,
      caseSensitive: Boolean): StructType =
    left.merge(right, caseSensitive)
}
