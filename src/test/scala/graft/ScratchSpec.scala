package graft

import java.io.File
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.scalatest.funsuite.AnyFunSuite

/** A non-local default filesystem for tests: the local disk under the
  * scheme `graftfs`, with every path stored under [[GraftTestFs.prefix]].
  * Statuses and listings carry the caller's paths, not the stored ones. */
class GraftTestFs extends RawLocalFileSystem {
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
}

class ScratchSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  /** A clone of the test session whose default filesystem is `graftfs`. */
  private def graftfsSession(): org.apache.spark.sql.SparkSession = {
    val s = spark.newSession()
    s.conf.set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    s.conf.set("fs.graftfs.impl.disable.cache", "true")
    s.conf.set("fs.defaultFS", "graftfs:///")
    s
  }

  private def entries(dir: JPath, depth: Int): Seq[JPath] = {
    val st = Files.walk(dir, depth)
    try st.iterator.asScala.toList.filter(_ != dir) finally st.close()
  }

  test("once runs a build that calls once for another key, once per key") {
    // the key shapes TripleStore.reshardedPath used to nest inside one
    // ConcurrentHashMap.computeIfAbsent, which can throw "Recursive update"
    val builds = new ConcurrentHashMap[Any, AtomicInteger]()
    def counted[T](key: Any)(v: => T): T = Scratch.once(key) {
      builds.computeIfAbsent(key, _ => new AtomicInteger).incrementAndGet()
      v
    }
    val dirs = (0 until 64).map(i => s"/ScratchSpec/nested/sf$i")
    for (_ <- 1 to 2; d <- dirs) {
      val got = counted(("ScratchSpec", d + "!reshard", 5)) {
        counted(("ScratchSpec", d, 3))(s"$d/3") + "/5"
      }
      assert(got == s"$d/3/5")
    }
    assert(builds.size == 128)
    assert(builds.values.asScala.forall(_.get == 1),
      "every key must build exactly once")
  }

  test("concurrent first calls for one key run the build once and all " +
    "get the same value") {
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futs = (1 to 8).map(_ => Future {
        start.await()
        Scratch.once(("ScratchSpec", "concurrent")) {
          builds.incrementAndGet()
          Thread.sleep(200)
          new Object
        }
      })
      start.countDown()
      val got = Await.result(Future.sequence(futs), 1.minute)
      assert(builds.get == 1)
      assert(got.forall(_ eq got.head), "threads got different values")
    } finally { pool.shutdown(); pool.awaitTermination(1, TimeUnit.MINUTES) }
  }

  test("a build that throws is not cached and runs again on the next call") {
    val builds = new AtomicInteger()
    def call(): Int = Scratch.once(("ScratchSpec", "throws")) {
      if (builds.incrementAndGet() == 1) throw new IllegalStateException("boom")
      42
    }
    assert(intercept[IllegalStateException](call()).getMessage == "boom")
    assert(call() == 42)
    assert(call() == 42)
    assert(builds.get == 2)
  }

  test("scoped deletes its directory when the body throws") {
    var dir: String = null
    intercept[IllegalStateException] {
      Scratch.scoped(spark) { d =>
        dir = d
        Files.writeString(new File(d, "part").toPath, "x")
        throw new IllegalStateException("body failed")
      }
    }
    assert(dir != null && dir.startsWith(Scratch.root.toString + "/"),
      s"$dir is not under the scratch root ${Scratch.root}")
    assert(!new File(dir).exists(), s"$dir survived a failed body")
  }

  test("neardupPairs' staged shape stages and deletes through a non-local " +
    "default filesystem") {
    import org.apache.spark.sql.functions._
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(concat_ws("|", col("doc_a"), col("doc_b"), col("jaccard")))
        .collect().map(_.getString(0)).toSeq
    val cached = rows(operators.Docs.neardupPairs(spark, sf))
    val prefix = GraftTestFs.prefix
    val remote = graftfsSession()
    remote.conf.set("spark.graft.shingleStageBytes", "0")
    try {
      val staged = rows(operators.Docs.neardupPairs(remote, s"file:$sf"))
      assert(staged == cached,
        "staged and cached shapes must emit identical ordered pair rows")
      // what may stay is the per-process scratch root the staging dir was
      // made in (deleted at exit), empty, and the directories above it
      val left = entries(prefix, Int.MaxValue)
      assert(left.nonEmpty, "the staged shape wrote nothing to graftfs")
      val roots = left.filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("graft_scratch_"))
      val kept = roots.flatMap(r =>
        Iterator.iterate(r)(_.getParent).takeWhile(_ != prefix)).toSet
      val emptyRoots = roots.forall(entries(_, 1).isEmpty)
      assert(emptyRoots && (left.toSet -- kept).isEmpty,
        s"staging left behind under the graftfs prefix:\n${left.mkString("\n")}")
    } finally {
      streaming.StreamingLww.deleteRecursively(prefix.toFile)
    }
  }

  test("the java.nio media fixture refuses a non-local default filesystem " +
    "instead of serving an empty scratch directory") {
    try {
      val e = intercept[IllegalArgumentException](functions.Multimodal
        .q82MediaFiles(graftfsSession(), s"file:$sf").count())
      assert(e.getMessage.contains("graftfs"), e.getMessage)
    } finally {
      streaming.StreamingLww.deleteRecursively(GraftTestFs.prefix.toFile)
    }
  }
}
