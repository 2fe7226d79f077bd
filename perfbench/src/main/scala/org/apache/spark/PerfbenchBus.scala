package org.apache.spark

/** The listener bus's drain is `private[spark]`; the benchmark needs it to
  * read its listener only after every posted event has arrived. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
