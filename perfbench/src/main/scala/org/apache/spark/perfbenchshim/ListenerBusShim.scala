package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerEvent

/** The benchmark's only `private[spark]` access: Spark delivers listener
  * events asynchronously, so accounting read right after a query or job
  * returns can miss its last task-end events. `drain` blocks until every
  * event posted so far has been delivered to every listener. */
object ListenerBusShim {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  def post(sc: SparkContext, event: SparkListenerEvent): Unit = sc.listenerBus.post(event)
}
