package org.apache.spark

/** The listener bus drain is `private[spark]`; the trace needs it to read
  * complete task metrics once a span's jobs have finished. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
