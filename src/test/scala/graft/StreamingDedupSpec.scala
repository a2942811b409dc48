package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingDedup

/** Ingest-time exact dedup: first copy per content hash survives, in-horizon
  * duplicates drop, state evicts with the watermark, and the out-of-horizon
  * re-emission bound is pinned (not hidden). */
class StreamingDedupSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  /** (doc_id, text, event-time millis) → the streaming input frame. */
  private def frame(src: MemoryStream[(Long, String, Long)]) =
    StreamingDedup.firstSeen(
      src.toDS().toDF("doc_id", "text", "ts_ms")
        .withColumn("ts", timestamp_millis(col("ts_ms"))),
      "10 seconds")

  test("first copy per content hash survives; in-horizon duplicates drop " +
    "across micro-batches; state evicts with the watermark; an " +
    "out-of-horizon copy re-emits (the documented bounded-state contract)") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Long, String, Long)]
    val q = frame(source)
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: two copies of "alpha" in ONE batch + a singleton
      source.addData((0L, "alpha", 1_000L), (1L, "alpha", 2_000L),
        (2L, "beta", 1_500L))
      q.processAllAvailable()
      // batch 2: a later in-horizon copy of "alpha" (dropped), a new doc,
      // and a copy of "beta" (dropped)
      source.addData((3L, "alpha", 4_000L), (4L, "gamma", 5_000L),
        (5L, "beta", 6_000L))
      q.processAllAvailable()
      val kept = spark.table("dedup_stream")
        .select("doc_id", "text").as[(Long, String)].collect().toSet
      assert(kept === Set((0L, "alpha"), (2L, "beta"), (4L, "gamma")),
        "exactly the first-arriving copy per hash")

      // batch 3: jump event time far past horizon → old hash state evicts
      source.addData((6L, "delta", 60_000L))
      q.processAllAvailable()
      // batch 4: "alpha" again, beyond the horizon of its first copy — the
      // state that would have dropped it is gone, so it re-emits
      source.addData((7L, "alpha", 61_000L))
      q.processAllAvailable()
      val evicted = q.recentProgress
        .flatMap(_.stateOperators.map(_.numRowsRemoved)).sum
      assert(evicted > 0, "watermark must evict expired hash state")
      val again = spark.table("dedup_stream")
        .filter(col("doc_id") === 7L).count()
      assert(again === 1L, "out-of-horizon copy re-emits by design")
    } finally q.stop()
  }

  test("with all rows inside one horizon, streaming output == batch " +
    "first-per-hash on the same data") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (0L, "doc x", 1_000L), (1L, "doc y", 2_000L), (2L, "doc x", 3_000L),
      (3L, "doc z", 3_500L), (4L, "doc y", 4_000L), (5L, "doc x", 5_000L))
    val source = MemoryStream[(Long, String, Long)]
    val q = frame(source)
      .writeStream.format("memory").queryName("dedup_stream_eq")
      .outputMode(OutputMode.Append()).start()
    try {
      rows.grouped(2).foreach { g =>
        source.addData(g: _*); q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = spark.table("dedup_stream_eq")
      .select("doc_id").as[Long].collect().toSet
    // batch twin: first arrival per text — arrival order here is doc_id
    // order, so min(doc_id) per distinct text
    val batch = rows.toDF("doc_id", "text", "ts_ms")
      .groupBy("text").agg(min("doc_id").as("doc_id"))
      .select("doc_id").as[Long].collect().toSet
    assert(streamed === batch)
    assert(streamed === Set(0L, 1L, 3L))
  }

  test("dedup store: micro-batched (min, sum) merges over a real " +
    "readStream equal batch q18 exactly, regardless of chopping; " +
    "replaying an applied batch is a no-op") {
    val sf = "/root/testdata/sf0.001"
    val gate = graft.streaming.StreamingGate.q70StreamDedup(spark, sf)
      .select("content_hash", "rep_doc_id", "n_copies")
      .as[(String, Long, Long)].collect().toSeq
    val batch = graft.operators.Docs.q18ExactDedup(spark, sf)
      .select("content_hash", "rep_doc_id", "n_copies")
      .as[(String, Long, Long)].collect().toSeq
    assert(gate == batch,
      "streamed dedup store diverged from the batch q18 relation")

    // replay guard: applying the highest-seen batch id again must not
    // double n_copies (sum is not idempotent; the _applied_upto marker is
    // what makes the checkpoint replay safe)
    val store = java.nio.file.Files
      .createTempDirectory("graft_dedup_replay").toString + "/store"
    val docs = Seq((1L, "same"), (2L, "same"), (3L, "other"))
      .toDF("doc_id", "text")
    graft.streaming.StreamingDedup.applyDedupBatch(docs, store, batchId = 0L, streamId = "ckptA")
    val once = spark.read.parquet(store)
      .select("content_hash", "rep_doc_id", "n_copies")
      .as[(String, Long, Long)].collect().toSet
    graft.streaming.StreamingDedup.applyDedupBatch(docs, store, batchId = 0L, streamId = "ckptA")
    val twice = spark.read.parquet(store)
      .select("content_hash", "rep_doc_id", "n_copies")
      .as[(String, Long, Long)].collect().toSet
    assert(once == twice, "replay of an applied batch changed the store")
    assert(once.map(_._3).sum == 3L, s"copy counts wrong: $once")
    // and a genuinely NEW batch still merges
    graft.streaming.StreamingDedup.applyDedupBatch(
      Seq((9L, "same")).toDF("doc_id", "text"), store, batchId = 1L,
      streamId = "ckptA")
    val after = spark.read.parquet(store)
      .as[(String, Long, Long)].collect().toSet
    assert(after.map(_._3).sum == 4L, s"new batch failed to merge: $after")
    // a DIFFERENT stream (fresh checkpoint, batch ids restart at 0) must
    // NOT be suppressed by stream A's marker — its data is genuinely new
    graft.streaming.StreamingDedup.applyDedupBatch(
      Seq((10L, "same")).toDF("doc_id", "text"), store, batchId = 0L,
      streamId = "ckptB")
    val gen2 = spark.read.parquet(store)
      .select("n_copies").as[Long].collect().sum
    assert(gen2 == 5L,
      "a new stream's first batch was wrongly treated as a replay")
  }

  test("a batch merged into an existing store reads it with the store's " +
    "schema: no footer-reading inference job") {
    Scratch.scoped(spark) { dir =>
      val store = s"$dir/store"
      StreamingDedup.applyDedupBatch(
        Seq((1L, "a")).toDF("doc_id", "text"), store, 0L, "ckptA")
      val (_, work) = graft.obs.Work.of(spark)(StreamingDedup.applyDedupBatch(
        Seq((2L, "a"), (3L, "b")).toDF("doc_id", "text"), store, 1L, "ckptA"))
      // a bare read of the store adds a footer-reading schema-inference job
      assert(work.jobs == 3, s"one batch ran ${work.jobs} jobs")
    }
  }

  test("replay-guard scope survives checkpoint recreation: the scope is the " +
    "query's PERSISTED id (not the path), so a new stream at the same " +
    "checkpoint path is not suppressed") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_dedup_scope")
    val store = root.toString + "/store"
    val ckpt = root.toString + "/ckpt"
    val s1 = MemoryStream[(Long, String)]
    s1.addData((1L, "x"), (2L, "x"))
    val q1 = StreamingDedup.mergeIntoDedupStore(
      s1.toDS().toDF("doc_id", "text"), store, ckpt)
    q1.awaitTermination()
    // the guard's scope is exactly the id Spark persisted in the
    // checkpoint's metadata file, and the store marker carries it
    assert(StreamingDedup.streamScope(ckpt) == q1.id.toString)
    val marker = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(store).resolve("_applied_upto")), "UTF-8")
    assert(marker.startsWith(q1.id.toString + "\n"), s"marker: $marker")
    assert(spark.read.parquet(store)
      .select("n_copies").as[Long].collect().sum == 2L)
    // delete + recreate the checkpoint at the SAME path: batch ids restart
    // at 0, Spark mints a fresh query id — the new stream's first batch is
    // genuinely new data and must merge, not vanish as a "replay" (the
    // failure mode of a path-scoped marker)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    val s2 = MemoryStream[(Long, String)]
    s2.addData((3L, "x"))
    val q2 = StreamingDedup.mergeIntoDedupStore(
      s2.toDS().toDF("doc_id", "text"), store, ckpt)
    q2.awaitTermination()
    assert(q2.id != q1.id, "fresh checkpoint must mint a fresh query id")
    assert(spark.read.parquet(store)
      .select("n_copies").as[Long].collect().sum == 3L,
      "fresh-checkpoint stream's first batch was swallowed as a replay")
    // no metadata file → scope falls back to the path string
    assert(StreamingDedup.streamScope(root.toString + "/nope")
      == root.toString + "/nope")
  }

  test("malformed _applied_upto marker degrades to nothing-suppressed, " +
    "not a permanently-failing stream") {
    val store = java.nio.file.Files
      .createTempDirectory("graft_dedup_badmarker").toString + "/store"
    StreamingDedup.applyDedupBatch(
      Seq((1L, "a")).toDF("doc_id", "text"), store, 0L, "ckptA")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(store).resolve("_applied_upto"),
      "ckptA\nnot-a-number".getBytes("UTF-8"))
    // previously a NumberFormatException that failed every future batch;
    // the torn marker now reads as foreign — batch 0 re-applies (the
    // documented degraded mode: a double count beats a dead stream)
    StreamingDedup.applyDedupBatch(
      Seq((2L, "a")).toDF("doc_id", "text"), store, 0L, "ckptA")
    assert(spark.read.parquet(store)
      .select("n_copies").as[Long].collect().sum == 2L)
  }

  test("dedup store crash recovery: a store stranded at '.old' mid-swap is " +
    "restored — with its replay marker — before the next batch merges") {
    val store = java.nio.file.Files
      .createTempDirectory("graft_dedup_crash").toString + "/store"
    graft.streaming.StreamingDedup.applyDedupBatch(
      Seq((1L, "a"), (2L, "a")).toDF("doc_id", "text"), store, batchId = 0L,
      streamId = "ckptA")
    // simulate dying between the two swap moves: base gone, .old present
    java.nio.file.Files.move(java.nio.file.Paths.get(store),
      java.nio.file.Paths.get(store + ".old"))
    graft.streaming.StreamingDedup.applyDedupBatch(
      Seq((3L, "a"), (4L, "b")).toDF("doc_id", "text"), store, batchId = 1L,
      streamId = "ckptA")
    val got = spark.read.parquet(store)
      .select("content_hash", "rep_doc_id", "n_copies")
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val hash = (s: String) => java.security.MessageDigest
      .getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    // batch 0's counts survived the crash AND batch 1 merged on top
    assert(got == Map(hash("a") -> (1L, 3L), hash("b") -> (4L, 1L)), got)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(store + ".old")), ".old not cleaned up")
    // the restored marker still suppresses a replay of batch 1
    graft.streaming.StreamingDedup.applyDedupBatch(
      Seq((5L, "a")).toDF("doc_id", "text"), store, batchId = 1L,
      streamId = "ckptA")
    val counts = spark.read.parquet(store)
      .select("n_copies").as[Long].collect().sum
    assert(counts == 4L, "replay after recovery double-counted")
  }
}
