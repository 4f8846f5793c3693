package org.apache.spark

/** Blocks until every event posted so far reached the listeners. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
