package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so
  * the benchmark's listeners have seen a pass before it reads them.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
