package org.apache.spark

/** The listener bus is package-private; the tracer needs it to drain
  * pending events before it closes a span, so a span's counters hold
  * every event its jobs posted.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
