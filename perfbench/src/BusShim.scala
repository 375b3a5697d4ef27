package org.apache.spark

/** The benchmark's handle on Spark's listener bus, which is package-private.
  * Counters are read only after every event an op posted has been delivered;
  * waiting on the bus is exact where a sleep would only be likely. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
