package org.apache.spark

/** The listener bus is `private[spark]`; this test helper lives in the
  * `org.apache.spark` package only to reach it. Blocks until every event
  * posted so far has reached every listener. */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit = sc.listenerBus.waitUntilEmpty(timeoutMs)
}
