package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Spark delivers listener events asynchronously; a counter read right
  * after an action can miss the action's last events. `drain` blocks
  * until every queued event has been handed to every listener. The bus
  * is `private[spark]`, hence this shim's package. */
object BusShim {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
