package org.apache.spark.sql

import java.util.concurrent.TimeoutException
import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`, so the accessor graft.Measure
  * needs lives in Spark's package. */
object GraftListenerBus {

  /** Block until the bus has delivered every event posted so far, so a
    * listener's counters are complete before they are read. A bus
    * still busy after `timeoutMs` fails the run: its readings would be
    * short. */
  def drain(sc: SparkContext, timeoutMs: Long): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case e: TimeoutException =>
      throw new IllegalStateException(
        s"listener bus still busy after $timeoutMs ms; task metrics incomplete", e)
    }
}
