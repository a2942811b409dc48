package org.apache.spark

/** Exact listener-bus drain: returns once every event posted so far has
  * been delivered to every listener, `QueryExecutionListener`s included
  * (their bus sits on the same shared queue), and raises a
  * `TimeoutException` if the bus does not empty. `LiveListenerBus` is
  * private to Spark, hence this bridge in Spark's package. */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
