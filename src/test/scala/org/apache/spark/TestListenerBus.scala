package org.apache.spark

import org.apache.spark.sql.SparkSession

/** Test access to the session's listener bus, which Spark keeps private:
  * [[listeners]] counts the listeners registered on it, so a test can check
  * that code which adds one also removes it.
  */
object TestListenerBus {
  def listeners(spark: SparkSession): Int = spark.sparkContext.listenerBus.listeners.size
}
