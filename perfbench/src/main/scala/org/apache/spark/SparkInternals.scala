package org.apache.spark

/** Harness access to `private[spark]` state of the local session. */
object SparkInternals {

  /** Waits until the listener bus has delivered every queued event, so a
    * pass's counters are complete before they are read. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Full GC, then heap bytes in use once asynchronous block removals
    * have finished: a non-blocking unpersist, or the context cleaner
    * dropping a broadcast whose handle the GC just collected, frees
    * storage memory some milliseconds later. Waits until storage memory
    * holds still for 300 ms (at most 5 s), then collects again.
    */
  def retainedHeapBytes(sc: SparkContext): Long = {
    def storage = sc.env.memoryManager.storageMemoryUsed
    System.gc()
    var last = storage
    var still = 0
    var waited = 0
    while (still < 3 && waited < 50) {
      Thread.sleep(100)
      waited += 1
      val now = storage
      if (now == last) still += 1 else { still = 0; last = now }
    }
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }
}
