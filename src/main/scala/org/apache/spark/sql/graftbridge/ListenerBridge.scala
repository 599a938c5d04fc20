package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ExplainUtils
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Listener-bus drain. Spark delivers scheduler and streaming events to
  * listeners asynchronously, and the call that waits for delivery is
  * package-private; a profiler that attributes jobs, tasks and stream
  * triggers to the run that caused them reaches it through this shim. */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The formatted plan a streaming execution ran (its `QueryExecution`
    * is package-private); None for a batch one. The start event's text
    * re-plans a streaming plan with no checkpoint, a fresh run id and
    * the session's shuffle partitions as its state partitions. */
  def streamingPlan(e: SparkListenerSQLExecutionEnd): Option[String] =
    Option(e.qe).filter(_.logical.isStreaming).map { qe =>
      val out = new StringBuilder("== Physical Plan ==\n")
      ExplainUtils.processPlan(qe.executedPlan, (s: String) => out ++= s)
      out.toString
    }
}
