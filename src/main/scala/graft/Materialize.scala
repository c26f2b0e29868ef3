package graft

import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.SizeEstimator

/** The one policy for a reused intermediate. The reference is eager, so it
  * computes a frame it reads twice once; Spark computes it twice unless it
  * is materialized. The caller picks the form by the frame's lifetime:
  *  - [[apply]], for a frame that outlives the call: an eager local
  *    checkpoint that cuts lineage. A lost executor fails the query with
  *    Spark's checkpoint-block error: the blocks are unreplicated, and
  *    nothing is recomputed.
  *  - [[within]], for a frame read only inside a scope: persisted for the
  *    scope, unpersisted when it exits. A lost executor makes Spark
  *    recompute the lost partitions from lineage.
  * Both run inside the call that needs them, so a timed build pays for the
  * work, and neither leaves storage that a later build could read. */
object Materialize {

  /** Computes `df` now; the result's plan is one scan of the stored rows,
    * so every read sees the same values, even of a nondeterministic `df`.
    * The same job measures its statistics, row count and stored bytes: an
    * estimate carried from `df` compounds across chained joins and
    * understates wide text. Spark's ContextCleaner frees the storage once
    * no plan references the result. */
  def apply(df: DataFrame): DataFrame = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("localCheckpoint")) {
      val rdd = qe.executedPlan.execute().map(_.copy())
      rdd.localCheckpoint()
      val parts = df.sparkSession.sparkContext.runJob(rdd,
        (rows: Iterator[InternalRow]) => rows.foldLeft((0L, 0L)) {
          case ((n, bytes), u: UnsafeRow) => (n + 1, bytes + u.getSizeInBytes)
          case ((n, bytes), r) => (n + 1, bytes + SizeEstimator.estimate(r))
        })
      GraftBridge.checkpointed(df, rdd, Statistics(
        sizeInBytes = parts.map(_._2).sum, rowCount = Some(parts.map(_._1).sum)))
    }
  }

  /** Runs `body` with `df` persisted, unpersisting it when `body` returns
    * or throws; a lazy frame built inside and read after recomputes. */
  def within[T](df: DataFrame)(body: DataFrame => T): T = {
    df.persist(StorageLevel.MEMORY_AND_DISK)
    try body(df) finally df.unpersist(blocking = false)
  }

  /** The row count measured when [[apply]] materialized `m`. */
  private[graft] def rowCount(m: DataFrame): Long = stored(m).stats.rowCount.get.toLong

  /** [[apply]] for a loop's next round: materializes `next`, then frees
    * `prev`, the [[apply]] result it is computed from and read no more, so
    * a loop holds one round's rows, not every round's until GC. */
  private[graft] def superseding(prev: DataFrame)(next: DataFrame): DataFrame =
    try apply(next) finally stored(prev).rdd.unpersist(blocking = false)

  private def stored(m: DataFrame): LogicalRDD =
    m.queryExecution.analyzed.asInstanceOf[LogicalRDD]
}
