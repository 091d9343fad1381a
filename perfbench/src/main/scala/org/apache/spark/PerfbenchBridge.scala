package org.apache.spark

/** `SparkContext.listenerBus` is `private[spark]`; the harness drains it
  * before reading what its listeners recorded. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
