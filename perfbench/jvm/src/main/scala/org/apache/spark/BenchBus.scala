package org.apache.spark

/** The listener bus is private to Spark; the harness needs to wait for it
  * so that every event of a finished action has been delivered before the
  * counters are read.
  */
object BenchBus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
