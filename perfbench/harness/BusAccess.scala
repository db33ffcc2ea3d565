package org.apache.spark

/** Drains the listener bus, so that every job, stage, task and query
  * event of a finished call has reached the benchmark's listeners before
  * the next call starts (the bus is private to the spark package). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
