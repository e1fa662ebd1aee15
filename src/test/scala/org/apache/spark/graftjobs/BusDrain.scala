package org.apache.spark.graftjobs

import org.apache.spark.SparkContext

/** Reaches the package-private listener bus so that a spec can wait
  * until every posted event has reached its listeners before it reads
  * a counter, instead of sleeping and hoping the bus caught up. */
object BusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
