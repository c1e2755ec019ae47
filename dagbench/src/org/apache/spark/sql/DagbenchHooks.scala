package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the benchmark's tracer reads; both are
  * package-private, so the accessors live in Spark's package. */
object DagbenchHooks {

  /** Block until the listener bus has delivered every event posted so
    * far, so per-span counters are complete before they are read.
    * Spark's default wait is 10 s, after which it throws; on a
    * contended host the bus can lag that far behind, so the wait here
    * is `timeoutMs`. */
  def drain(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** Analysis + optimization + planning milliseconds of a finished SQL
    * execution, from its `QueryPlanningTracker`. */
  def planMs(e: SparkListenerSQLExecutionEnd): Long =
    Option(e.qe).map(_.tracker.phases.values.map(_.durationMs).sum)
      .getOrElse(0L)
}
