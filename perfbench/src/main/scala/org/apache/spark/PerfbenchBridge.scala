package org.apache.spark

/** Access to the one scheduler hook the benchmark's trace needs: waiting
  * until the listener bus has delivered every posted event, so job and task
  * totals are complete before they are read.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
