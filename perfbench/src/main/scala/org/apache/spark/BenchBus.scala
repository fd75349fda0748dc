package org.apache.spark

/** Drains Spark's listener bus so the benchmark tracer reads complete
  * task metrics for a span right after the span ends. `listenerBus` is
  * `private[spark]`, hence this one-call shim in Spark's package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
