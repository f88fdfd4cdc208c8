package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * the benchmark's tracer calls it before reading the counters its
  * listeners filled, so no event posted before the call is missed. */
object ServebenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
