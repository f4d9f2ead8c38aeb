package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * traced run can attribute each job, SQL execution and streaming
  * progress event to the operation that caused it. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
