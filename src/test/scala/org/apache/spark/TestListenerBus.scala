package org.apache.spark

import org.apache.spark.sql.SparkSession

/** Test access to the session's listener bus, which Spark keeps private:
  * [[drain]] blocks until every posted event (job, SQL execution, query
  * listener callback) has been delivered, so a test can count them.
  */
object TestListenerBus {
  def drain(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}
