package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus, whose drain call is package-private to Spark. */
object ListenerBus {

  /** Blocks until every posted event has reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
