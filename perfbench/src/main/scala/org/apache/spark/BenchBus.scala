package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: a leg
  * waits for every task-end event of a pass before reading its counters. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
