package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's private[sql] Column↔Expression converters — the
  * supported way for an external library to expose a custom Catalyst
  * `Expression` as a user-facing `Column` in Spark 4 (the Column API is
  * ColumnNode-based and no longer wraps Expression publicly).
  */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Block until every event posted to the session's listener bus (job,
    * task, SQL execution, query listener callback) has been delivered. */
  def drainListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Rebuild a (local)checkpointed DataFrame's `LogicalRDD` leaf WITHOUT
    * its origin statistics (and constraints), so downstream size
    * estimation starts from the conservative leaf default instead of the
    * pre-checkpoint plan's estimate.
    *
    * Why this must exist: `localCheckpoint` truncates lineage but
    * deliberately carries the original plan's `Statistics` across the cut.
    * In an ITERATIVE self-join loop (pointer doubling in
    * ConnectedComponents) the carried sizeInBytes is itself the product
    * of the previous round's estimates, so the BigInt squares every
    * round — digits double per iteration, and by round ~20 Catalyst's
    * SizeInBytesOnlyStatsPlanVisitor spends unbounded CPU multiplying
    * million-digit integers (observed: a 10⁴-diameter chain fixture hung
    * the planner after ~16 rounds at ~25 min and counting). Dropping the
    * origin stats resets the estimate to a constant each round: products
    * stay 128-bit, planning stays O(plan), and the conservative default
    * (never broadcast a checkpointed label frame) is exactly the safe
    * choice for loop state anyway — AQE re-plans from RUNTIME sizes.
    *
    * No-op for frames whose analyzed plan isn't a bare LogicalRDD.
    */
  def dropOriginStats(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val cdf = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    cdf.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        org.apache.spark.sql.classic.Dataset.ofRows(
          cdf.sparkSession, lr.copy()(cdf.sparkSession, None, None))
      case _ => df
    }
  }
}
