package org.apache.spark

/** Test access to the `private[spark]` listener bus: block until every
  * posted event has reached its listeners, so a spec counting jobs
  * reads an exact number instead of sleeping and hoping. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
