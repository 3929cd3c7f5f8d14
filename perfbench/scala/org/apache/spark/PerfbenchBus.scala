package org.apache.spark

/** The one Spark-internal call the benchmark needs: the listener bus is
  * `private[spark]`, so draining it has to be compiled inside this package. */
object PerfbenchBus {

  /** Block until every event posted so far has reached every listener, so
    * counters read after an action belong to that action. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
