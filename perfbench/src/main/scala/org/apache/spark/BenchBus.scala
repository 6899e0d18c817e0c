package org.apache.spark

/** The listener bus is `private[spark]`; this helper lives in the
  * `org.apache.spark` package only to reach it. */
object BenchBus {

  /** Block until every event posted so far has been delivered to every
    * listener, so per-op counters are complete when they are read. */
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
