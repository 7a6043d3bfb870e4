package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the `spark`-private listener bus: the benchmark's listener
  * receives job and stage events asynchronously, so the ledger for an op
  * is read only after the bus has delivered every event posted so far.
  */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
