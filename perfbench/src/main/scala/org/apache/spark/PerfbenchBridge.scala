package org.apache.spark

/** `LiveListenerBus` is `private[spark]`; the traced run drains it after
  * each operation so every listener event lands on the operation that
  * caused it. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
