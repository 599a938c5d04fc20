package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Listener-bus drain. Spark delivers scheduler and streaming events to
  * listeners asynchronously, and the call that waits for delivery is
  * package-private; a profiler that attributes jobs, tasks and stream
  * triggers to the run that caused them reaches it through this shim. */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
