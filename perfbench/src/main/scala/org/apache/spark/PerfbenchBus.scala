package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * the tracer reads its records only after every event posted so far has
  * reached the listeners. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
