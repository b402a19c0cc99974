package org.apache.spark.wmsbench

import org.apache.spark.SparkContext

/** Listener events arrive on Spark's asynchronous bus; the tracer reads its
  * records only after every event posted so far has been delivered.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
