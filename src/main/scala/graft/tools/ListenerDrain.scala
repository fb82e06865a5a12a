// Lives under org.apache.spark so it can reach the private[spark]
// LiveListenerBus — the deterministic replacement for TimeQ's old
// fixed Thread.sleep listener-settle (ADVICE r17: on heavy queries
// late stage-completed events bled into the next query's work delta).
package org.apache.spark.graftshim

import java.util.concurrent.TimeoutException

import org.apache.spark.SparkContext

object ListenerDrain {
  /** Block until every event posted so far has been delivered to every
    * registered listener (the same barrier Spark's own test harness
    * uses between actions and listener assertions). Returns false when
    * the bus has not drained within Spark's own default wait (10 s)
    * instead of throwing: a slow bus degrades a measurement, it never
    * fails the run. */
  def drain(sc: SparkContext): Boolean = drain(sc, 10000L)

  private[graftshim] def drain(sc: SparkContext, timeoutMillis: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMillis); true }
    catch { case _: TimeoutException => false }
}
