package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Spark posts listener events asynchronously; a count read before the bus
  * is empty misses events still in flight. This blocks until every queued
  * event has been delivered (the bus has no public drain). */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
