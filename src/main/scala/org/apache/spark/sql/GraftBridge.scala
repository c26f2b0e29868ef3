package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.execution.LogicalRDD

/** Bridge into `private[sql]` surface: Spark 4 hid Column↔Expression
  * conversion behind `classic.ExpressionUtils`, and a local checkpoint's
  * plan behind `LogicalRDD.fromDataset`. Standard extension-library
  * technique. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A local checkpoint of `df` stored in `rdd`, with `stats`. */
  def checkpointed(df: DataFrame, rdd: RDD[InternalRow],
                   stats: Statistics): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val lr = LogicalRDD.fromDataset(rdd, ds, ds.isStreaming)
    classic.Dataset.ofRows(ds.sparkSession,
      lr.copy()(ds.sparkSession, Some(stats), Some(lr.constraints)))
  }
}
