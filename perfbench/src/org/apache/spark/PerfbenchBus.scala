package org.apache.spark

/** The listener bus is package-private; the traced runs need to wait
  * until every posted event has reached the harness's listeners.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
