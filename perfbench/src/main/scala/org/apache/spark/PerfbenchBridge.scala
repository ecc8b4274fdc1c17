package org.apache.spark

/** The listener bus is private to Spark; the traced run drains it so
  * that every task of an iteration is counted before the iteration's
  * counters are read. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
