package org.apache.spark

/** `LiveListenerBus` is `private[spark]`; tests drain it through here so
  * every listener event of the work they ran is delivered before they
  * read what their listeners counted. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
