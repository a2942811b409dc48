package graft

import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

import graft.operators.Lww
import graft.streaming.StreamingLww

/** SURVEY §5's batch-equivalence oracle for Q11: streaming LWW state after
  * consuming all updates must equal the batch kernel on the same rows, with
  * rows arriving out of order and across micro-batches (the reference's
  * async per-node update buffering, `MongoDBConnector.py:23,76`). */
class StreamingLwwSpec extends AnyFunSuite with TempDirs {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val batch1 = Seq(
    Triple("<a>", "<p>", "v1", 100L),
    Triple("<b>", "<p>", "v1", 100L),
    Triple("<a>", "<p>", "v2", 300L))
  private val batch2 = Seq(
    Triple("<a>", "<p>", "LATE", 200L),   // late arrival: must lose to v2
    Triple("<b>", "<p>", "v2", 400L),
    Triple("<c>", "<q>", "new", 50L))

  test("stream state == batch LWW winners on the same rows") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Triple]
    val q = StreamingLww.winners(source.toDS())
      .writeStream.format("memory").queryName("lww_stream")
      .outputMode(OutputMode.Update()).start()
    try {
      source.addData(batch1: _*); q.processAllAvailable()
      source.addData(batch2: _*); q.processAllAvailable()
    } finally q.stop()

    // The update-mode memory sink retains superseded emissions; final state
    // per key is its latest winner, i.e. the per-key LWW max of what was
    // emitted (reapplying LWW to its own output is exactly idempotence).
    val streamed = spark.table("lww_stream").as[Triple].collect()
      .groupBy(t => (t.subject, t.predicate))
      .map(_._2.maxBy(t => (t.ts_ms, t.`object`))).toSet

    // Batch twin: empty base upserted with every row seen by the stream.
    val batch = Lww.upsert(
        Seq.empty[Triple].toDF("subject", "predicate", "object", "ts_ms"),
        (batch1 ++ batch2).toDF("subject", "predicate", "object", "ts_ms"))
      .as[Triple].collect().toSet

    assert(streamed == batch)
    assert(streamed == Set(
      Triple("<a>", "<p>", "v2", 300L),
      Triple("<b>", "<p>", "v2", 400L),
      Triple("<c>", "<q>", "new", 50L)))
  }

  test("an equal-ts tie arriving across micro-batches resolves in " +
    "UTF8String order, agreeing with the batch kernel (astral vs BMP)") {
    // "ﬀ" then "😀" at the same ts: Scala's (Long, String) maxBy — UTF-16
    // code-unit order — keeps "ﬀ"; the batch kernel's max_by struct order
    // (UTF-8 binary) picks "😀". The streaming state must match batch.
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Triple]
    val q = StreamingLww.winners(source.toDS())
      .writeStream.format("memory").queryName("lww_tie_stream")
      .outputMode(OutputMode.Update()).start()
    try {
      source.addData(Triple("<t>", "<p>", "ﬀ", 500L))
      q.processAllAvailable()
      source.addData(Triple("<t>", "<p>", "😀", 500L))
      q.processAllAvailable()
    } finally q.stop()
    val lastState = spark.table("lww_tie_stream").as[Triple].collect()
      .reduce((a, b) => // LWW over its own emissions — idempotence
        if (Lww.newerWins(a.`object`, a.ts_ms, b.`object`, b.ts_ms)) b
        else a)
    assert(lastState == Triple("<t>", "<p>", "😀", 500L))
    val batchTwin = Lww.upsert(
        Seq.empty[Triple].toDF("subject", "predicate", "object", "ts_ms"),
        Seq(Triple("<t>", "<p>", "ﬀ", 500L),
          Triple("<t>", "<p>", "😀", 500L))
          .toDF("subject", "predicate", "object", "ts_ms"))
      .as[Triple].collect().toSet
    assert(batchTwin == Set(Triple("<t>", "<p>", "😀", 500L)))
  }

  test("partitioned merge sink: converges to batch LWW and leaves " +
    "untouched shards' files byte-for-byte alone") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tmp("graft_part_sink")
    val storePath = s"$dir/store"
    val ckpt = s"$dir/ckpt"
    // boundaries give 3 shards: (-inf,<b>) / [<b>,<c>) / [<c>,inf)
    val boundaries = Seq("<b>", "<c>")
    val b1 = Seq(
      Triple("<a>", "<p>", "v1", 100L),   // shard 0
      Triple("<c>", "<q>", "x", 50L))     // shard 2
    val b2 = Seq(
      Triple("<c>", "<q>", "y", 80L),     // shard 2 only
      Triple("<c>", "<r>", "z", 60L))

    val source = MemoryStream[Triple]
    source.addData(b1: _*)
    StreamingLww.mergeIntoStorePartitioned(
      source.toDS(), storePath, ckpt, boundaries).awaitTermination()

    def shardFiles(shard: Int): Map[String, Long] = {
      val d = new java.io.File(storePath, s"shard=$shard")
      if (!d.exists()) Map.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val shard0After1 = shardFiles(0)
    assert(shard0After1.nonEmpty, "batch 1 must have written shard 0")

    source.addData(b2: _*)
    StreamingLww.mergeIntoStorePartitioned(
      source.toDS(), storePath, ckpt, boundaries).awaitTermination()

    // shard 0 was not touched by batch 2: same files, same mtimes
    assert(shardFiles(0) == shard0After1,
      s"untouched shard rewritten: $shard0After1 vs ${shardFiles(0)}")
    // shard 2 WAS touched
    assert(shardFiles(2).nonEmpty)

    val store = spark.read.parquet(storePath)
      .select("subject", "predicate", "object", "ts_ms")
      .as[Triple].collect().toSet
    val batch = Lww.upsert(
        Seq.empty[Triple].toDF("subject", "predicate", "object", "ts_ms"),
        (b1 ++ b2).toDF("subject", "predicate", "object", "ts_ms"))
      .as[Triple].collect().toSet
    assert(store == batch)
    assert(store.contains(Triple("<c>", "<q>", "y", 80L))) // LWW within shard
  }

  test("partitioned merge sink reads each micro-batch once: a batch into " +
    "an existing store runs 3 Spark jobs") {
    implicit val sqlCtx = spark.sqlContext
    Scratch.scoped(spark) { dir =>
      val boundaries = Seq("<b>", "<c>")
      val source = MemoryStream[Triple]
      def run(): Unit = StreamingLww.mergeIntoStorePartitioned(source.toDS(),
        s"$dir/store", s"$dir/ckpt", boundaries).awaitTermination()
      source.addData(Triple("<a>", "<p>", "v1", 100L),
        Triple("<c>", "<q>", "x", 50L))
      run()
      source.addData(Triple("<a>", "<p>", "v2", 300L),
        Triple("<c>", "<q>", "y", 80L))
      val (_, work) = graft.obs.Work.of(spark)(run())
      // the batch's rows are read once: a second read would count twice
      assert(work.progress.map(_.numInputRows) == Seq(2L))
      // the batch's staged write, then the merge's shuffle and its write;
      // a pinned batch, a touched-shard collect or a footer-reading
      // schema inference would each add jobs
      assert(work.jobs == 3, s"one micro-batch ran ${work.jobs} jobs")
    }
  }

  test("partitioned sink: a redelivered batch id leaves the shards it " +
    "already merged byte-untouched") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tmp("graft_part_redeliver")
    val storePath = s"$dir/store"
    val ckpt = s"$dir/ckpt"
    val source = MemoryStream[Triple]
    source.addData(Triple("<a>", "<p>", "v1", 100L),
      Triple("<c>", "<q>", "x", 50L))
    def run(): StreamingQuery = {
      val q = StreamingLww.mergeIntoStorePartitioned(source.toDS(),
        storePath, ckpt, Seq("<b>", "<c>"))
      q.awaitTermination()
      q
    }
    run()
    def files(): Set[(String, Long, Long)] = FileUtils
      .listFiles(new java.io.File(storePath), null, true).asScala
      .map(f => (f.getPath, f.length, f.lastModified)).toSet
    val before = files()
    // a crash after the shard swap but before the commit log entry: the
    // restarted query re-runs batch 0 under the same query id
    Seq("0", ".0.crc").foreach(f =>
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(ckpt, "commits", f)))
    val rerun = run()
    assert(rerun.recentProgress.map(p => (p.batchId, p.numInputRows))
      .contains((0L, 2L)), "batch 0 was not redelivered")
    assert(files() == before, "a redelivered batch rewrote its shards")
  }

  /** The partitioned sink's crash-recovery case on session `s`: after a
    * first batch, `strand` leaves shard 2 at `<store>.old` as a crash
    * between the per-shard moves would; the next batch touches only shard
    * 0 and must restore it anyway. `oldExists` probes `<store>.old`. */
  private def partitionedCrashRecovery(s: SparkSession, storePath: String,
      ckpt: String)(strand: => Unit)(oldExists: => Boolean): Unit = {
    implicit val sqlCtx = s.sqlContext
    val boundaries = Seq("<b>", "<c>")
    val source = MemoryStream[Triple]
    source.addData(
      Triple("<a>", "<p>", "v1", 100L), // shard 0
      Triple("<c>", "<q>", "x", 50L))   // shard 2
    StreamingLww.mergeIntoStorePartitioned(
      source.toDS(), storePath, ckpt, boundaries).awaitTermination()
    strand
    // next batch touches only shard 0 — shard 2 must be restored anyway
    source.addData(Triple("<a>", "<p>", "v2", 300L))
    StreamingLww.mergeIntoStorePartitioned(
      source.toDS(), storePath, ckpt, boundaries).awaitTermination()
    val store = s.read.parquet(storePath)
      .select("subject", "predicate", "object", "ts_ms")
      .as[Triple].collect().toSet
    assert(store == Set(
      Triple("<a>", "<p>", "v2", 300L),
      Triple("<c>", "<q>", "x", 50L)),
      "stranded shard 2 was not restored by the recovery preamble")
    assert(!oldExists, ".old not cleaned up")
  }

  test("partitioned sink crash recovery: a shard stranded at '.old' " +
    "mid-swap is restored before the next batch merges") {
    val dir = tmp("graft_part_crash")
    val storePath = s"$dir/store"
    val ckpt = s"$dir/ckpt"
    val old = java.nio.file.Paths.get(storePath + ".old")
    partitionedCrashRecovery(spark, storePath, ckpt) {
      // simulate dying between the per-shard moves: shard 2's live directory
      // gone, its prior state stranded under the sibling .old directory
      java.nio.file.Files.createDirectories(old)
      java.nio.file.Files.move(
        java.nio.file.Paths.get(storePath, "shard=2"), old.resolve("shard=2"))
    }(java.nio.file.Files.exists(old))
  }

  test("partitioned sink: a redelivered batch after a partial commit " +
    "skips the shard already swapped in and merges the one stranded at " +
    "'.old'") {
    val dir = tmp("graft_part_partial")
    val store = s"$dir/store"
    val path = java.nio.file.Paths.get(_: String)
    val shard = Some(graft.plans.RangeBucket.shardId(col("subject"),
      Seq("<b>", "<c>")))
    def merge(rows: Seq[Triple], batchId: Long): Unit =
      graft.streaming.StoreSwap.merge(rows.toDF(), store, batchId, "ckptA",
        shard)(Lww.merge)
    val b0 = Seq(Triple("<a>", "<p>", "v1", 100L), // shard 0
      Triple("<c>", "<q>", "x", 50L))              // shard 2
    val b1 = Seq(Triple("<a>", "<p>", "v2", 300L),
      Triple("<c>", "<q>", "y", 80L))
    merge(b0, 0L)
    val batch0 = s"$dir/batch0"
    FileUtils.copyDirectory(new java.io.File(store), new java.io.File(batch0))
    merge(b1, 1L)
    // rebuild what dying between batch 1's shard commits leaves: shard 0
    // swapped in with batch 1's marker; shard 2's live directory gone, its
    // batch-0 state at .old and its batch-1 state still staged in .next
    java.nio.file.Files.createDirectories(path(store + ".old"))
    java.nio.file.Files.createDirectories(path(store + ".next"))
    java.nio.file.Files.move(path(s"$store/shard=2"),
      path(s"$store.next/shard=2"))
    java.nio.file.Files.move(path(s"$batch0/shard=2"),
      path(s"$store.old/shard=2"))
    def files(shard: String): Set[(String, Long, Long)] = FileUtils
      .listFiles(new java.io.File(store, shard), null, true).asScala
      .map(f => (f.getName, f.length, f.lastModified)).toSet
    val shard0 = files("shard=0")
    merge(b1, 1L)
    assert(files("shard=0") == shard0,
      "the redelivered batch rewrote the shard it had already committed")
    val got = spark.read.parquet(store)
      .select("subject", "predicate", "object", "ts_ms")
      .as[Triple].collect().toSet
    val batch = Lww.upsert(
        Seq.empty[Triple].toDF("subject", "predicate", "object", "ts_ms"),
        (b0 ++ b1).toDF("subject", "predicate", "object", "ts_ms"))
      .as[Triple].collect().toSet
    assert(got == batch)
    Seq(".old", ".next").foreach(x => assert(
      !java.nio.file.Files.exists(path(store + x)), s"$x not cleaned up"))
  }

  test("partitioned sink crash recovery on a non-local default filesystem: " +
    "a shard stranded at '.old' through the Hadoop FileSystem is restored") {
    val s = GraftTestFs.session(spark)
    val fs = FileSystem.get(s.sessionState.newHadoopConf())
    val dir = s"${sys.props("java.io.tmpdir")}/graft_part_crash_" +
      System.nanoTime()
    val storePath = s"$dir/store"
    val old = new Path(storePath + ".old")
    try {
      partitionedCrashRecovery(s, storePath, s"$dir/ckpt") {
        fs.mkdirs(old)
        assert(fs.rename(new Path(storePath, "shard=2"),
          new Path(old, "shard=2")))
      }(fs.exists(old))
      assert(!new java.io.File(dir).exists(),
        s"the sink wrote $dir to the local disk")
    } finally {
      FileUtils.deleteQuietly(GraftTestFs.prefix.toFile)
      FileUtils.deleteQuietly(new java.io.File(dir)); ()
    }
  }

  test("partitioned sink: stale staging and backup dirs from a crash " +
    "during the WRITE phase are cleared, not merged") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tmp("graft_part_stale")
    val storePath = s"$dir/store"
    val ckpt = s"$dir/ckpt"
    val boundaries = Seq("<b>", "<c>")
    // simulate a crash mid-staging before ANY batch succeeded: garbage in
    // .next, plus a stray .old with a shard the store also (correctly)
    // lacks no counterpart for — the preamble must restore the stranded
    // shard and delete the garbage staging
    val next = java.nio.file.Paths.get(storePath + ".next", "shard=0")
    java.nio.file.Files.createDirectories(next)
    java.nio.file.Files.writeString(next.resolve("junk.parquet"), "not parquet")
    val source = MemoryStream[Triple]
    source.addData(Triple("<a>", "<p>", "v1", 100L))
    StreamingLww.mergeIntoStorePartitioned(
      source.toDS(), storePath, ckpt, boundaries).awaitTermination()
    // the junk staging must not have been swapped into the store
    val store = spark.read.parquet(storePath)
      .select("subject", "predicate", "object", "ts_ms")
      .as[Triple].collect().toSet
    assert(store == Set(Triple("<a>", "<p>", "v1", 100L)))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(storePath + ".next")), "stale .next not cleared")
  }

  test("checkpoint loss: the full history replays against the " +
    "already-merged partitioned store idempotently, and the restarted " +
    "stream continues to batch-LWW convergence") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tmp("graft_part_replay")
    val storePath = s"$dir/store"
    val ckpt = s"$dir/ckpt"
    val boundaries = Seq("<b>", "<c>")
    val source = MemoryStream[Triple]
    source.addData(batch1: _*)
    StreamingLww.mergeIntoStorePartitioned(
      source.toDS(), storePath, ckpt, boundaries).awaitTermination()
    source.addData(batch2: _*)
    StreamingLww.mergeIntoStorePartitioned(
      source.toDS(), storePath, ckpt, boundaries).awaitTermination()
    val after2 = spark.read.parquet(storePath)
      .select("subject", "predicate", "object", "ts_ms")
      .as[Triple].collect().toSet
    // simulate a crash that loses the ENTIRE checkpoint after the store
    // swaps were applied (the worst write-ahead gap): a brand-new query
    // with a FRESH checkpoint replays the source's whole retained history
    // against the already-merged store — strict-`>` LWW must make every
    // replayed row a no-op
    val ckptB = s"$dir/ckpt_replay"
    StreamingLww.mergeIntoStorePartitioned(
      source.toDS(), storePath, ckptB, boundaries).awaitTermination()
    val afterReplay = spark.read.parquet(storePath)
      .select("subject", "predicate", "object", "ts_ms")
      .as[Triple].collect().toSet
    assert(afterReplay == after2,
      "replaying already-applied batches changed the store (not idempotent)")
    // and the restarted lineage keeps converging: one more update
    source.addData(Triple("<c>", "<q>", "newest", 500L))
    StreamingLww.mergeIntoStorePartitioned(
      source.toDS(), storePath, ckptB, boundaries).awaitTermination()
    val store = spark.read.parquet(storePath)
      .select("subject", "predicate", "object", "ts_ms")
      .as[Triple].collect().toSet
    val batch = Lww.upsert(
        Seq.empty[Triple].toDF("subject", "predicate", "object", "ts_ms"),
        (batch1 ++ batch2 :+ Triple("<c>", "<q>", "newest", 500L))
          .toDF("subject", "predicate", "object", "ts_ms"))
      .as[Triple].collect().toSet
    assert(store == batch)
  }

  test("jsonl file source: a malformed line fails the batch loudly " +
    "(FAILFAST), never silently nulling keys into the store") {
    val in = java.nio.file.Paths.get(tmp("graft_file_bad"), "in")
    java.nio.file.Files.createDirectories(in)
    java.nio.file.Files.writeString(in.resolve("bad.json"),
      """{"subject":"<a>","predicate":"<p>","object":"v","ts_ms":1}""" +
        "\nnot json at all\n")
    val q = StreamingLww.jsonlSource(spark, in.toString, StreamingLww.TripleSchema)
      .writeStream.format("memory").queryName("failfast_stream").start()
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q.processAllAvailable() finally q.stop()
    }
    // the failure must be the parser's corrupt-record abort, not incidental
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(ex).exists(c =>
      c.getClass.getName.contains("MalformedRecord") ||
        String.valueOf(c.getMessage).toLowerCase.contains("malformed")),
      s"unexpected failure chain: ${causes(ex).map(_.getClass.getName)}")
  }

  test("jsonl file source: files dropped into a directory stream through " +
    "the partitioned merge sink to batch-LWW convergence") {
    val dir = java.nio.file.Paths.get(tmp("graft_file_src"))
    val in = dir.resolve("in"); java.nio.file.Files.createDirectories(in)
    val storePath = dir.resolve("store").toString
    val ckpt = dir.resolve("ckpt").toString
    val boundaries = Seq("<b>", "<c>")
    def drop(name: String, rows: Seq[Triple]): Unit = {
      val body = rows.map(t =>
        s"""{"subject":"${t.subject}","predicate":"${t.predicate}",""" +
        s""""object":"${t.`object`}","ts_ms":${t.ts_ms}}""").mkString("\n")
      // write-then-move so the source never lists a half-written file
      val staged = dir.resolve(name)
      java.nio.file.Files.writeString(staged, body)
      java.nio.file.Files.move(staged, in.resolve(name)); ()
    }
    drop("b1.json", batch1)
    StreamingLww.mergeIntoStorePartitioned(
      StreamingLww.jsonlSource(spark, in.toString, StreamingLww.TripleSchema)
        .as[Triple], storePath, ckpt,
      boundaries).awaitTermination()
    drop("b2.json", batch2)
    StreamingLww.mergeIntoStorePartitioned(
      StreamingLww.jsonlSource(spark, in.toString, StreamingLww.TripleSchema)
        .as[Triple], storePath, ckpt,
      boundaries).awaitTermination()
    val store = spark.read.parquet(storePath)
      .select("subject", "predicate", "object", "ts_ms")
      .as[Triple].collect().toSet
    val batch = Lww.upsert(
        Seq.empty[Triple].toDF("subject", "predicate", "object", "ts_ms"),
        (batch1 ++ batch2).toDF("subject", "predicate", "object", "ts_ms"))
      .as[Triple].collect().toSet
    assert(store == batch)
  }

  test("winnersWithTtl: state evicts after ttl, stale late arrivals are " +
    "dropped, and an admissible arrival re-hydrates — consistent with " +
    "batch LWW on admitted rows") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Triple]
    val q = StreamingLww.winnersWithTtl(source.toDS(),
        watermarkDelay = "0 seconds", ttlMs = 1000L)
      .writeStream.format("memory").queryName("ttl_stream")
      .outputMode(OutputMode.Update()).start()
    try {
      // watermark after this batch: 1000
      source.addData(Triple("<a>", "<p>", "v1", 1000L),
        Triple("<b>", "<p>", "b1", 1000L))
      q.processAllAvailable()
      // advances watermark to 5000: <a>'s timeout (1000+1000) fires next
      source.addData(Triple("<b>", "<p>", "b2", 5000L))
      q.processAllAvailable()
      // stale arrival for the evicted key, older than the watermark:
      // dropped by Spark before the state function — cannot resurrect <a>
      source.addData(Triple("<a>", "<p>", "STALE", 500L))
      q.processAllAvailable()
      // admissible arrival re-hydrates <a> from scratch; necessarily newer
      // than the evicted winner (eviction ⇒ 2000 < watermark ≤ 6000)
      source.addData(Triple("<a>", "<p>", "v2", 6000L))
      q.processAllAvailable()
      // the state operator must actually have removed a row (the eviction),
      // not just behaved equivalently
      val removed = q.recentProgress
        .flatMap(_.stateOperators.map(_.numRowsRemoved)).sum
      assert(removed >= 1, s"no state row was evicted (removed=$removed)")
    } finally q.stop()

    val emitted = spark.table("ttl_stream").as[Triple].collect()
    assert(!emitted.exists(_.`object` == "STALE"),
      "a dropped-late stale row was emitted")
    val finalPerKey = emitted
      .groupBy(t => (t.subject, t.predicate))
      .map(_._2.maxBy(t => (t.ts_ms, t.`object`))).toSet
    // batch twin over the ADMITTED rows (everything except the late STALE);
    // including STALE changes nothing — it loses the LWW anyway
    assert(finalPerKey == Set(
      Triple("<a>", "<p>", "v2", 6000L),
      Triple("<b>", "<p>", "b2", 5000L)))
  }

  test("q83's replay merges to exactly the q3 batch LWW relation") {
    // q83 streams the remote changelog as JSONL files into the
    // partition-wise sink, in two query incarnations over one checkpoint;
    // chunked strict-`>` LWW merging equals the one-shot batch merge
    val sf = "/root/testdata/sf0.001"
    val streamed = graft.streaming.StreamingGate.q83StreamRestart(spark, sf)
      .collect().map(_.toString).toSeq
    val batch = Lww.merge(
        graft.TripleStore.triples(spark, sf),
        graft.TripleStore.remoteChangelog(spark, sf))
      .orderBy("subject", "predicate")
      .collect().map(_.toString).toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }
}
