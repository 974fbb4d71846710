package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so
  * a spec's listener has seen every job its body started.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
