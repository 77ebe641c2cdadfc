package org.apache.spark

/** The listener bus drain is `private[spark]`; the traced run needs it to
  * attribute listener events to the operation that produced them. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
