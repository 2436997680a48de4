package org.apache.spark

/** Bridge into the spark package scope for tests: waiting until the
  * listener bus has delivered every posted event is private[spark], and
  * the status tracker read before that can miss a job that just ran. */
object GraftTestBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
