package org.apache.spark

/** The one engine-internal call the benchmark makes: wait until the
  * listener bus has delivered every posted event, so counters read after
  * an action include that action. */
object CdcbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
