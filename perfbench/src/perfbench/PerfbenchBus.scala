package org.apache.spark

/** Reaches the listener bus's drain, which Spark keeps package-private:
  * counters are read only after every posted event was delivered.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
