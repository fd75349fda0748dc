package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so
  * a test reads complete listener counts. `listenerBus` is
  * `private[spark]`, hence this one-call shim in Spark's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
