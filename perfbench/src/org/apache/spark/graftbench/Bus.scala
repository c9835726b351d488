package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the Spark-internal listener bus, so the trace can wait until
  * every task-end event of an operation has reached its listener.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
