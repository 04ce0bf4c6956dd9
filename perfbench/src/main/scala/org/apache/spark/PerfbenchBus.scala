package org.apache.spark

/** Listener-bus barrier for the benchmark's tracer: the `private[spark]`
  * bus is reachable from this package only. Blocks until every queued
  * job, task, SQL-execution and streaming-progress event has been handed
  * to its listeners.
  */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMillis: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}
