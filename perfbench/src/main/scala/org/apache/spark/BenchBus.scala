package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * traced run must see every task-end event of a cell before it reads the
  * cell's counters. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
