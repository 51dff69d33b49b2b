package org.apache.spark

/** Spec access to the driver's listener bus, which Spark keeps private:
  * block until every event posted so far has reached its listeners.
  */
object SpecListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
