package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus is asynchronous: a counter read right after an action
  * can miss that action's last task and stage events. `drain` blocks until
  * every event posted so far has been delivered. It lives under
  * `org.apache.spark` because the bus is package-private there.
  */
object BusDrain {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
