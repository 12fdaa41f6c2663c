package org.apache.spark

/** The listener-bus drain is package-private in Spark; the benchmark's
  * counter fence needs it to know that every event posted before the
  * call has reached its listeners. */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
