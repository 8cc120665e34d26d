package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The listener bus is Spark-private; a spec that counts jobs waits for
  * it to deliver every posted event before and after the measured call. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
