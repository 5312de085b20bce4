package org.apache.spark

import org.apache.spark.sql.SparkSession

/** Waits until Spark's asynchronous listener bus has delivered every event
  * posted so far, so counters read at a unit boundary are complete.
  */
object BusAccess {
  def drain(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}
