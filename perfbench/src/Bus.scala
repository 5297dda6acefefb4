package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every queued event, so a
  * traced op's listener counters are complete before the next op starts
  * (`listenerBus` is `private[spark]`). */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
