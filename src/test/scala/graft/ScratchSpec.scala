package graft

import java.io.File
import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.scalatest.funsuite.AnyFunSuite

class ScratchSpec extends AnyFunSuite with TempDirs {

  private val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

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

  test("no operator leaves a pinned block behind beyond what its result " +
    "reads") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import operators.{BloomIndex, Docs, Graph, Vectors}
    import streaming.StreamingLww
    import spark.implicits._
    val sc = spark.sparkContext
    // the RDDs the result's own plan reads, subqueries included: the only
    // blocks an operator may leave pinned
    def backing(df: DataFrame): Set[Int] =
      df.queryExecution.withCachedData.collectWithSubqueries {
        case l: LogicalRDD => Seq(l.rdd.id)
        case m: InMemoryRelation =>
          if (m.cacheBuilder.isCachedColumnBuffersLoaded)
            Seq(m.cacheBuilder.cachedColumnBuffers.id)
          else Nil
      }.flatten.toSet
    def hashed(ids: Seq[Long]): DataFrame = ids.map(i => (i, s"doc ${i % 45}"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), sha2(col("text"), 256).as("content_hash"))
    // a chain forces several contraction rounds when the local finish is off
    val edges = (Seq(("<b>", "<a>"), ("<c>", "<b>"), ("<d>", "<c>"),
      ("<e>", "<d>"), ("<f>", "<e>"), ("<p>", "<q>"))).toDF("src", "dst")
    val cases: Seq[(String, () => DataFrame)] = Seq(
      "Docs.neardupPairs" -> (() => Docs.neardupPairs(spark, sf)),
      "Docs.q53CorpusToBatches" -> (() => Docs.q53CorpusToBatches(spark, sf)),
      "Vectors.cosineNearDupPairs" -> (() => Vectors.cosineNearDupPairs(
        TripleStore.table(spark, sf, "embeddings"), Vectors.NearDupThreshold,
        numBands = 2, planesPerBand = 16, maxBucketSize = 1 << 20)),
      "Vectors.lshTopk" -> (() => Vectors.lshTopk(spark, sf, 10)),
      // a k no other spec builds, so the memoized index is built here
      "Vectors.ivfIndexPath" -> { () =>
        spark.read.parquet(Vectors.ivfIndexPath(spark, sf, k = 16) + "/lists")
      },
      "Vectors.q71AnnRecall" -> (() => Vectors.q71AnnRecall(spark, sf)),
      "BloomIndex.admit + append" -> { () =>
        val idx = tmp("graft_pin_bloom") + "/i"
        val corpus = hashed(0L until 40L)
        BloomIndex.build(corpus.select("content_hash"), idx)
        val admitted = BloomIndex.admit(spark, idx, hashed(30L until 60L), corpus)
        BloomIndex.append(spark, idx, admitted.select("content_hash"))
        admitted
      },
      "Graph.pageRank" -> (() => Graph.pageRank(edges, iters = 3)),
      "Graph.ccStar (local finish off)" -> (() =>
        Graph.ccStar(edges, localFinishEdges = 0)),
      "StreamingLww.mergeIntoStorePartitioned, two batches" -> { () =>
        implicit val sqlCtx = spark.sqlContext
        val dir = tmp("graft_pin_sink")
        val source = MemoryStream[Triple]
        for (b <- Seq(
            Seq(Triple("<a>", "<p>", "v1", 100L), Triple("<c>", "<q>", "x", 50L)),
            Seq(Triple("<c>", "<q>", "y", 80L), Triple("<d>", "<r>", "z", 60L)))) {
          source.addData(b: _*)
          StreamingLww.mergeIntoStorePartitioned(source.toDS(), s"$dir/store",
            s"$dir/ckpt", Seq("<b>", "<c>")).awaitTermination()
        }
        spark.read.parquet(s"$dir/store")
      })
    val leaks = cases.flatMap { case (name, run) =>
      val before = sc.getPersistentRDDs.keySet.toSet
      val result = run()
      result.collect()
      val left = sc.getPersistentRDDs.keySet.toSet -- before -- backing(result)
      if (left.isEmpty) None
      else Some(s"$name left ${left.size} RDD(s) pinned: " +
        left.toSeq.sorted.mkString(", "))
    }
    assert(leaks.isEmpty, leaks.mkString("\n"))
  }

  test("neardupPairs' staged shape stages and deletes through a non-local " +
    "default filesystem") {
    import org.apache.spark.sql.functions._
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(concat_ws("|", col("doc_a"), col("doc_b"), col("jaccard")))
        .collect().map(_.getString(0)).toSeq
    val cached = rows(operators.Docs.neardupPairs(spark, sf))
    val prefix = GraftTestFs.prefix
    val remote = GraftTestFs.session(spark)
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
      FileUtils.deleteQuietly(prefix.toFile)
    }
  }

  test("q82's media fixture is written through a non-local default " +
    "filesystem and serves the local session's rows") {
    def rows(s: org.apache.spark.sql.SparkSession, dir: String) =
      functions.Multimodal.q82MediaFiles(s, dir).collect().map(_.toString)
        .toSeq
    val local = rows(spark, sf)
    try {
      assert(rows(GraftTestFs.session(spark), s"file:$sf") == local,
        "q82 on graftfs diverged from the local session's rows")
    } finally {
      FileUtils.deleteQuietly(GraftTestFs.prefix.toFile)
    }
  }

  test("the streaming gate replays run on a non-local default filesystem, " +
    "return the local session's rows and write nothing to the local disk") {
    val replays = Seq("q70_stream_dedup", "q74_stream_sessions",
      "q79_stream_merge_part", "q80_stream_ttl", "q83_stream_restart")
    def rows(s: org.apache.spark.sql.SparkSession, dir: String, q: String) =
      SparkEntry.queries(q)(s, dir).collect().map(_.toString).toSeq
    val local = replays.map(q => q -> rows(spark, sf, q))
    val scratch = new File(Scratch.root.toUri.getPath)
    def onLocalDisk(): Set[String] =
      if (!scratch.exists()) Set.empty
      else entries(scratch.toPath, Int.MaxValue).map(_.toString).toSet
    val before = onLocalDisk()
    try {
      val remote = GraftTestFs.session(spark)
      for ((q, want) <- local)
        assert(rows(remote, s"file:$sf", q) == want,
          s"$q on graftfs diverged from the local session's rows")
      val added = onLocalDisk() -- before
      assert(added.isEmpty,
        "graftfs replays wrote to the local scratch root:\n" +
          added.toSeq.sorted.mkString("\n"))
    } finally {
      FileUtils.deleteQuietly(GraftTestFs.prefix.toFile)
    }
  }
}
