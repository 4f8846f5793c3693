package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so
  * counts read after an action include that action. The bus is
  * `private[spark]`, hence this package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
