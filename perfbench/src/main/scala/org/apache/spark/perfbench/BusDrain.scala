package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the `private[spark]` listener bus: the traced replay must see
  * every job, stage and task event of its statements before it reads the
  * listener's counts. */
object BusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
