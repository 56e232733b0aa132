package org.apache.spark

/** The listener bus is private to Spark; this shim lets the benchmark
  * wait for queued listener events before it reads its counters.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long): Unit = sc.listenerBus.waitUntilEmpty(timeoutMs)
}
