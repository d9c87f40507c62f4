package org.apache.spark

/** Blocks until every event posted so far has reached every listener.
  * `SparkContext.listenerBus` is `private[spark]`, hence this package. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
