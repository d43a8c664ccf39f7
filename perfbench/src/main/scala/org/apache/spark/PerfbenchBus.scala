package org.apache.spark

/** Drains Spark's listener bus so that every event posted so far has
  * reached the benchmark's listener. The bus is `private[spark]`, hence
  * this one-line bridge in Spark's package. */
object PerfbenchBus {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
