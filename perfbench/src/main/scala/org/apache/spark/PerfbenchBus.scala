package org.apache.spark

/** The listener bus delivers task-end events asynchronously; a probe
  * that reads its totals right after an action must first let the bus
  * drain. `waitUntilEmpty` is package-private, hence this shim.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
