package org.apache.spark

/** The listener bus is private to Spark; the harness needs to know that
  * every event of a finished op reached its listener before it reads the
  * counts, so it waits on the bus from inside Spark's package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
