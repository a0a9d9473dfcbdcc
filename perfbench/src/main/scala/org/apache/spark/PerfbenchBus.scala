package org.apache.spark

/** `listenerBus` is `private[spark]`; a counter read before the async
  * bus has drained would miss the tail of an op's events. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
