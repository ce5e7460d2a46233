package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Spark's listener bus is asynchronous: a listener read right after an
  * action can miss that action's events. `drain` blocks until every event
  * posted so far has been delivered. It lives under `org.apache.spark`
  * because the bus is package-private there.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
