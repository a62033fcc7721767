package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every queued event, so the
  * benchmark's listeners are complete before a measurement is read. Lives
  * under `org.apache.spark` only to reach the `private[spark]` bus. */
object BusDrain {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
