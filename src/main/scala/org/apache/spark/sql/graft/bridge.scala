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
    * pre-checkpoint plan's estimate. Why loop state needs this:
    * `graft.ops.Loop.carry`, its one caller.
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
