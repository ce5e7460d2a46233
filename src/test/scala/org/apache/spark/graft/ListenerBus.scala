package org.apache.spark.graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Spark's listener bus is asynchronous: a listener read right after an
  * action can miss that action's events. `drain` blocks until every event
  * posted so far has been delivered. It lives under `org.apache.spark`
  * because the bus is package-private there.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** Spark jobs started while `body` runs, counted over a drained bus.
    * With `callSite`, only jobs whose short call site contains it are
    * counted: the `callSite.short` form ("parquet at Watermarks.scala:71"),
    * which the job's result stage carries as its name.
    */
  def jobsDuring[A](sc: SparkContext, callSite: Option[String] = None)(body: => A): (A, Int) = {
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val site = j.stageInfos.sortBy(_.stageId).lastOption.map(_.name)
        if (callSite.forall(c => site.exists(_.contains(c)))) jobs.incrementAndGet()
        ()
      }
    }
    drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      drain(sc)
      (out, jobs.get())
    } finally sc.removeSparkListener(listener)
  }
}
