package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * benchmark drains it before reading its listener's counters, so every
  * event of the finished work has been delivered.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
