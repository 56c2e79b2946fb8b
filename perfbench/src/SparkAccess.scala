package org.apache.spark

/** The one package-private hook the tracer needs: listener events are
  * delivered asynchronously, so per-op attribution waits for the bus to
  * drain before it reads the op's counters. */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
