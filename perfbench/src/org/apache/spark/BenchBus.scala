package org.apache.spark

/** Exact listener-bus drain: returns once every event posted so far has
  * been delivered to every listener. `LiveListenerBus` is private to Spark,
  * hence this one-line bridge in Spark's package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
