package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test-only: waits until the listener bus has delivered every queued
  * event (the bus is private to Spark's package). */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
