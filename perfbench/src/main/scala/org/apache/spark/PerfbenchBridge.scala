package org.apache.spark

/** Bridge into the spark package scope for the benchmark: waiting until
  * the listener bus has delivered every posted event is private[spark],
  * and counters read before that would miss the tail of a job. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
