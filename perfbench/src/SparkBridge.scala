package org.apache.spark

/** The one Spark-internal call the benchmark needs: wait until every
  * listener event posted so far has been delivered, so counters read after
  * an operation belong to that operation (the listener bus is asynchronous).
  */
object PerfBenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
