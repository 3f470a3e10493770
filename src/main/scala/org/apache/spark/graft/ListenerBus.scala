package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously, so a listener's view
  * of a finished action is complete only once the bus has drained.
  * `waitUntilEmpty` is package-private to Spark, hence this package. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
