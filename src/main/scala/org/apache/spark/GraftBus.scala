package org.apache.spark

/** The two Spark-private calls graft makes, hence this bridge in Spark's
  * package. */
object GraftBus {

  /** Exact listener-bus drain: returns once every event posted so far has
    * been delivered to every listener, `QueryExecutionListener`s included
    * (their bus sits on the same shared queue), and raises a
    * `TimeoutException` if the bus does not empty. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Drops an RDD's blocks without blocking, the call `ContextCleaner`
    * makes. Unlike `RDD.unpersist` it logs no WARN for a locally
    * checkpointed RDD. */
  def unpersist(sc: SparkContext, rddId: Int): Unit =
    sc.unpersistRDD(rddId, blocking = false)
}
