package org.apache.spark

/** The one Spark-internal call the benchmark needs: wait until every
  * listener has seen every event posted so far, so traced counts are
  * complete before they are read.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
