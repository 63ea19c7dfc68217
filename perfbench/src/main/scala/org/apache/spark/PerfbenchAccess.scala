package org.apache.spark

/** The one Spark-internal call the benchmark needs: draining the
  * listener bus, so a traced span's jobs are all recorded before the
  * trace is read.
  */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
