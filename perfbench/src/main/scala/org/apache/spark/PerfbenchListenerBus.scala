package org.apache.spark

/** The listener bus delivers events asynchronously; the traced run reads
  * its listener's counters only after every posted event is delivered.
  */
object PerfbenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
