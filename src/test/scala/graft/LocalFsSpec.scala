package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileContext, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingLww

/** The `file:` filesystem `LocalSession` registers: both Hadoop APIs resolve
  * to it, writing through it launches no process, and what it writes and
  * reports is what Hadoop's shell-backed `RawLocalFileSystem` would. */
class LocalFsSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def conf = spark.sessionState.newHadoopConf()
  private val local = URI.create("file:///")

  /** The command lines of the OS processes started while `body` runs, read
    * back from an in-process JFR recording of `jdk.ProcessStart`. Spark's
    * executor-metrics poller runs `getconf PAGESIZE` once per JVM, at the
    * first heartbeat, which may fall inside `body`: a process started from
    * its `ProcfsMetricsGetter` is left out. */
  private def processesOf(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val file = Files.createTempFile("graft_procs", ".jfr")
    try {
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala
        .filterNot(_.getStackTrace.getFrames.asScala.exists(
          _.getMethod.getType.getName.endsWith(".ProcfsMetricsGetter")))
        .map(_.getString("command")).toSeq
    } finally { rec.close(); Files.delete(file) }
  }

  private def mode(p: String): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p)))

  test("the session's file: FileSystem and FileContext are graft's " +
    "(a file: filesystem cached before the session would keep Hadoop's)") {
    assert(FileSystem.get(local, conf).getClass == classOf[NioLocalFs])
    assert(FileSystem.getLocal(conf).getRaw.getClass == classOf[NioRawLocalFs])
    assert(FileContext.getFileContext(local, conf).getDefaultFileSystem.getClass ==
      classOf[NioLocalAfs])
  }

  test("a partitioned parquet write and a two-batch LWW sink run start no " +
    "OS process") {
    implicit val sqlCtx = spark.sqlContext
    Scratch.scoped(spark) { dir =>
      val source = MemoryStream[Triple]
      def run(): Unit = StreamingLww.mergeIntoStorePartitioned(source.toDS(),
        s"$dir/store", s"$dir/ckpt", Seq("<b>", "<c>")).awaitTermination()
      val procs = processesOf {
        Seq((1L, "a"), (2L, "b")).toDF("id", "k")
          .write.partitionBy("k").parquet(s"$dir/parts")
        source.addData(Triple("<a>", "<p>", "v1", 100L),
          Triple("<c>", "<q>", "x", 50L))
        run()
        source.addData(Triple("<c>", "<q>", "y", 80L))
        run()
      }
      assert(Files.exists(Paths.get(s"$dir/parts/._SUCCESS.crc")),
        "checksums must stay on")
      assert(procs.isEmpty, s"${procs.size} processes: ${procs.distinct.take(5)}")
    }
  }

  test("created files and directories read back 0644 and 0755 under umask " +
    "022; explicit modes read back as set; a sticky bit still takes effect") {
    Scratch.scoped(spark) { dir =>
      Seq((1L, "a")).toDF("id", "k").write.partitionBy("k").parquet(s"$dir/t")
      val part = Files.list(Paths.get(s"$dir/t/k=a")).iterator.asScala
        .map(_.toString).filter(_.endsWith(".parquet")).toSeq
      assert(part.nonEmpty)
      (part ++ Seq(s"$dir/t/_SUCCESS", s"$dir/t/._SUCCESS.crc"))
        .foreach(f => assert(mode(f) == "rw-r--r--", f))
      Seq(s"$dir/t", s"$dir/t/k=a").foreach(d => assert(mode(d) == "rwxr-xr-x", d))

      val fs = FileSystem.get(local, conf)
      val f = new Path(s"$dir/t/_SUCCESS")
      for ((octal, want) <- Seq("600" -> "rw-------", "700" -> "rwx------",
          "755" -> "rwxr-xr-x")) {
        fs.setPermission(f, new FsPermission(octal))
        assert(mode(f.toString) == want)
      }
      val sticky = new Path(s"$dir/sticky")
      fs.mkdirs(sticky)
      fs.setPermission(sticky, new FsPermission("1777"))
      val unixMode = Files.getAttribute(Paths.get(sticky.toString), "unix:mode")
      assert((unixMode.asInstanceOf[Int] & Integer.parseInt("7777", 8)) ==
        Integer.parseInt("1777", 8))
    }
  }

  test("getFileLinkStatus matches Hadoop's on a symlink, a dangling " +
    "symlink, a file and a directory") {
    Scratch.scoped(spark) { dir =>
      val d = Paths.get(dir)
      Files.write(d.resolve("file"), "abc".getBytes("UTF-8"))
      Files.createDirectory(d.resolve("dir"))
      Files.createSymbolicLink(d.resolve("link"), d.resolve("file"))
      Files.createSymbolicLink(d.resolve("dirlink"), d.resolve("dir"))
      Files.createSymbolicLink(d.resolve("dangling"), d.resolve("missing"))
      val ours = new NioRawLocalFs
      val hadoop = new RawLocalFileSystem
      Seq(ours, hadoop).foreach(_.initialize(local, conf))
      for (name <- Seq("link", "dirlink", "dangling", "file", "dir");
           p <- Seq(new Path(s"$dir/$name"), new Path(s"file:$dir/$name"))) {
        // a scheme-qualified dangling link reads as a missing file in both
        def seen(fs: FileSystem) = scala.util.Try(fs.getFileLinkStatus(p))
          .map(s => (s.isSymlink, if (s.isSymlink) Some(s.getSymlink) else None,
            s.getLen, s.isDirectory))
          .toEither.left.map(_.getClass)
        assert(seen(ours) == seen(hadoop), p)
      }
      // the unqualified forms above did read as links
      assert(ours.getFileLinkStatus(new Path(s"$dir/dangling")).isSymlink)
    }
  }
}
