package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Spark keeps the listener-bus drain package-private. The benchmark reads
  * listener totals between operations, so it must wait until every event
  * posted so far has been delivered. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
