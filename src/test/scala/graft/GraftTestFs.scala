package graft

import java.io.File
import java.net.URI
import java.nio.file.{Files, Path => JPath}

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession

/** A non-local default filesystem for tests: the local disk under the
  * scheme `graftfs`, with every path stored under [[GraftTestFs.prefix]].
  * Statuses and listings carry the caller's paths, not the stored ones.
  * Built on [[NioRawLocalFs]], so it launches no processes either. */
class GraftTestFs extends NioRawLocalFs {
  override def getUri: URI = URI.create("graftfs:///")
  override def pathToFile(path: Path): File =
    new File(GraftTestFs.prefix.toString + makeQualified(path).toUri.getPath)
  override def getFileStatus(f: Path): FileStatus = {
    val s = super.getFileStatus(f)
    new FileStatus(s.getLen, s.isDirectory, s.getReplication, s.getBlockSize,
      s.getModificationTime, makeQualified(f))
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    val dir = pathToFile(f)
    if (!dir.isDirectory) Array(getFileStatus(f))
    else dir.list().map(n => getFileStatus(new Path(makeQualified(f), n)))
  }
}

object GraftTestFs {
  lazy val prefix: JPath = Files.createTempDirectory("graftfs_root")

  /** A clone of `spark` whose default filesystem is `graftfs`. */
  def session(spark: SparkSession): SparkSession = {
    val s = spark.newSession()
    s.conf.set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    s.conf.set("fs.graftfs.impl.disable.cache", "true")
    s.conf.set("fs.defaultFS", "graftfs:///")
    s
  }
}
