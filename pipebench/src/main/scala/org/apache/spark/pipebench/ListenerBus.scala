package org.apache.spark.pipebench

import org.apache.spark.SparkContext

/** Waits until Spark's listener bus has delivered every posted event, so
  * counters read right after an action include that action. The bus is
  * package-private to Spark, hence this file's package.
  */
object ListenerBus {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
