package org.apache.spark

/** Lets the benchmark wait until Spark's listener bus has delivered every
  * event posted so far, so listener totals read at a point in time are
  * complete. `listenerBus` is package-private to Spark.
  */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
