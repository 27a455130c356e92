package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StructType

/** Column ⇄ Expression bridge. Spark 4 made `ExpressionUtils`
  * `private[sql]`; extension libraries that ship custom Catalyst
  * expressions conventionally expose this pair from inside the package
  * (the supported alternative — registering a FunctionBuilder — buys
  * nothing for an internal, non-SQL-facing expression).
  */
package object graftbridge {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Release the storage behind a `localCheckpoint()`ed Dataset.
    * `Dataset.unpersist` only clears CacheManager entries; a local
    * checkpoint's blocks belong to the wrapped RDD's persist layer and
    * stay pinned until that RDD object is GC'd — in an iterative loop
    * that accumulates one full copy of the working set per iteration.
    * Only safe once nothing downstream will read the frame again (a
    * local checkpoint cannot be recomputed).
    */
  def uncheckpoint(df: Dataset[_]): Unit = df.queryExecution.analyzed match {
    case lr: execution.LogicalRDD => lr.rdd.unpersist(blocking = false); ()
    case _ => ()
  }

  /** `s` with every field nullable, recursively: the schema a parquet read
    * resolves a written table to.
    */
  def asNullable(s: StructType): StructType = s.asNullable

  /** The session's broadcast-join size threshold in bytes (≤ 0: disabled). */
  def broadcastThreshold(spark: SparkSession): Long =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf.autoBroadcastJoinThreshold
}
