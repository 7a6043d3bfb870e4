package org.apache.spark

/** Test access to the `spark`-private listener bus: wait until every
  * posted event has reached the listeners.
  */
object GraftTestBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
