package org.apache.spark

/** The one Spark-internal call the benchmark needs from outside the
  * engine: draining the listener bus at an operation boundary, so every
  * event of an operation is attributed before the next one starts.
  */
object GraftBenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
