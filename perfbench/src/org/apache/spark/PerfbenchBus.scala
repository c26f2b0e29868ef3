package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * benchmark's listeners have seen all task and query events of a pass
  * before the pass's counters are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
