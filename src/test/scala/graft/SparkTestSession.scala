package graft

import java.nio.file.{Files, Path => JPath}

import scala.collection.mutable

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** One shared local session for the whole test run (sessions are expensive;
  * ScalaTest suites run sequentially in the forked JVM), built by the same
  * factory as every runnable main — same confs, WARN log level — at 4
  * threads. */
object SparkTestSession {
  lazy val spark: SparkSession = LocalSession.create("4")
}

/** Temporary directories for a spec: `tmp(prefix)` makes one under
  * `java.io.tmpdir`, and `afterAll` deletes every one the suite made. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val made = mutable.Buffer[JPath]()

  def tmp(prefix: String): String = made.synchronized {
    val d = Files.createTempDirectory(prefix); made += d; d.toString
  }

  override def afterAll(): Unit =
    try made.synchronized(made.foreach(d => FileUtils.deleteQuietly(d.toFile)))
    finally super.afterAll()
}
