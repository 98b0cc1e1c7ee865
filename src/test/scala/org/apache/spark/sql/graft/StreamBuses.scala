package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus

/** Test access to the SparkContext's shared listener bus
  * (`private[spark]`). */
object StreamBuses {
  /** The streaming listener buses on the shared listener bus: one per
    * query manager that was ever built and not removed. */
  def count(spark: SparkSession): Int =
    spark.sparkContext.listenerBus.findListenersByClass[StreamingQueryListenerBus]().size
}
