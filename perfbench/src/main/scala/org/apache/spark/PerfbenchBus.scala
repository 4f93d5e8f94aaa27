package org.apache.spark

/** Lets the benchmark wait until every listener event posted so far
  * has been delivered, so per-pass counters are read complete. The
  * listener bus is package-private to Spark, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
