package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * listener read right after an action sees all of that action's
  * events. `listenerBus` is package-private, hence this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
