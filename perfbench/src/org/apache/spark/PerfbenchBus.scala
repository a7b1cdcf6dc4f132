package org.apache.spark

/** Access to Spark's listener bus, which is package-private: the traced run
  * waits for it to drain before closing a span. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
