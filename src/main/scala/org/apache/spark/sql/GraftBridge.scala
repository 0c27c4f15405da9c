package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.LogicalRDD

/** Column <-> Expression bridge. The converters live behind
  * `private[sql]` in Spark 4 (`classic.ExpressionUtils`), so extension
  * libraries shipping native expressions expose them from inside the
  * package — the standard pattern for Catalyst extensions, and the
  * access [[graft.util.Pin.once]] needs to wrap its pinned rows.
  */
object GraftBridge {
  def toExpression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)
  def toColumn(e: Expression): Column =
    classic.ExpressionUtils.column(e)

  /** A frame over `rows`, the computed rows of `like`, keeping its
    * schema, partitioning and ordering (`classic.Dataset.checkpoint`'s
    * last step).
    */
  def ofRows(rows: RDD[InternalRow], like: DataFrame): DataFrame = {
    val ds = like.asInstanceOf[classic.Dataset[Row]]
    classic.Dataset.ofRows(ds.sparkSession, LogicalRDD.fromDataset(rows, ds, ds.isStreaming))
  }
}
