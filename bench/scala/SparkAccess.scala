package org.apache.spark

/** The one Spark-internal call the traced run needs: wait until the listener
  * bus has delivered every queued event, so a pass's trace is complete when
  * it is read.
  */
object SparkAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
