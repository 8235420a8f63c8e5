package org.apache.spark

/** Lets the benchmark wait for the listener bus, which Spark keeps
  * package-private, so every event of a finished operation has reached
  * the trace before it is read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
