package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** Listener-bus access the public API does not expose: block until every
  * event posted so far has been delivered to every listener, so a traced
  * operation's jobs, tasks and query callbacks are all recorded before the
  * next operation starts (no fixed sleep that can lose late events).
  */
object Bus {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
