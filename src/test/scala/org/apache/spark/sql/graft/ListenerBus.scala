package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Test access to the SparkContext's listener bus, which is
  * `private[spark]`: specs that count jobs or task metrics through a
  * `SparkListener` wait for the asynchronous bus to deliver every posted
  * event before reading their counts. */
object ListenerBus {
  def drain(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}
