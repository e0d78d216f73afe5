package org.apache.spark

/** Test access to the listener bus: wait until every queued event has been
  * delivered, so a listener's counts are complete when a spec reads them.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
