package org.apache.spark

/** The listener bus's drain is `private[spark]`. Waits until every event
  * posted so far has reached every listener; throws
  * `java.util.concurrent.TimeoutException` after `timeoutMs`. */
object GraftListenerBus {
  def waitUntilEmpty(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
