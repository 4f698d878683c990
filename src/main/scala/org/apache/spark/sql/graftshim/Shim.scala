package org.apache.spark.sql.graftshim

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** Bridge between the Spark 4 unified `Column` (ColumnNode-backed) and
  * Catalyst `Expression`s, for exposing custom expressions as Columns.
  * Lives under `org.apache.spark.sql` to satisfy `private[sql]` access.
  */
object Shim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A DataFrame over `rdd` whose plan carries `sizeInBytes` as its size
    * estimate. A frame built with `createDataFrame(rdd)` estimates
    * `spark.sql.defaultSizeInBytes` (effectively unbounded), so every
    * join onto it plans as a sort-merge join with its own exchanges;
    * an operator that knows its output is small says so here and the
    * planner keeps broadcasting.
    */
  def sizedFrame(spark: SparkSession, rdd: RDD[InternalRow], schema: StructType,
      sizeInBytes: BigInt): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    classic.Dataset.ofRows(session, LogicalRDD(DataTypeUtils.toAttributes(schema),
      rdd)(session, Some(Statistics(sizeInBytes.max(1)))))
  }

  /** Drop `rdd`'s stored blocks now. This is what `RDD.unpersist` does,
    * without the warning it logs for every locally checkpointed RDD
    * (that its lineage is gone and it cannot be recomputed): callers
    * release a checkpoint only once nothing reads it again.
    */
  def releaseBlocks(rdd: RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
