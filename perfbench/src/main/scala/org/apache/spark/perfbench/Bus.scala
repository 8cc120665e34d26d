package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is Spark-private; the tracer needs to wait for it to
  * deliver every posted event before it reads its totals. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
