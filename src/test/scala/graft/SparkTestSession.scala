package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (sessions are expensive;
  * ScalaTest suites run sequentially in the forked JVM), built by the same
  * factory as every runnable main — same confs, WARN log level, same log
  * filter — at 4 threads. */
object SparkTestSession {
  lazy val spark: SparkSession = LocalSession.create("4")
}
