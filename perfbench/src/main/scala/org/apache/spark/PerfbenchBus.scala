package org.apache.spark

/** Drains the listener bus so a traced op's events are all counted before
  * the op's counters are read (the bus is private to the spark package). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
