package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Reaches the package-private listener bus so that the benchmark can
  * wait until every posted event (late task ends included) has reached
  * its listener before it reads a counter. */
object ListenerBusShim {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
