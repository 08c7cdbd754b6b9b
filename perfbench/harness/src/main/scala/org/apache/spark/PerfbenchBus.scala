package org.apache.spark

/** The listener bus is package-private; the tracer drains it at every
  * span boundary so each event is attributed to the span that caused it.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
