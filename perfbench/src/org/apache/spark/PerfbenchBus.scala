package org.apache.spark

/** Waits until every event posted so far has reached the registered
  * listeners. The listener bus is asynchronous and its drain call is
  * package-private, so the traced run reaches it from this package to
  * attribute each job, task and streaming trigger to the op that caused
  * it. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
