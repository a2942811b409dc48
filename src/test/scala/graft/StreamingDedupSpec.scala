package graft

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{StoreSwap, StreamingDedup}

/** Ingest-time exact dedup store: micro-batched merges equal the batch q18
  * relation, the replay guard is scoped to the stream, and a crash mid-swap
  * is recovered. */
class StreamingDedupSpec extends AnyFunSuite with TempDirs {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("dedup store: micro-batched (min, sum) merges over a real " +
    "readStream equal batch q18 exactly, regardless of chopping; " +
    "replaying an applied batch is a no-op") {
    val gate = graft.streaming.StreamingGate.q70StreamDedup(spark, sf)
      .select("content_hash", "rep_doc_id", "n_copies")
      .as[(String, Long, Long)].collect().toSeq
    val batch = graft.operators.Docs.q18ExactDedup(spark, sf)
      .select("content_hash", "rep_doc_id", "n_copies")
      .as[(String, Long, Long)].collect().toSeq
    assert(gate == batch,
      "streamed dedup store diverged from the batch q18 relation")

    // replay guard: applying the highest-seen batch id again must not
    // double n_copies (sum is not idempotent; the shards' _applied_upto
    // markers are what make the checkpoint replay safe)
    val store = tmp("graft_dedup_replay") + "/store"
    // a null text hashes to a null key, which the store keeps in shard 0
    val docs = Seq((1L, "same"), (2L, "same"), (3L, "other"), (4L, null))
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
    assert(once.toSeq.map(_._3).sum == 4L, s"copy counts wrong: $once")
    assert(once.contains((null, 4L, 1L)), s"null-text row lost: $once")
    assert(shardMarkers(store).map(_.getParent.getFileName.toString) ==
      Seq("shard=0"), "the dedup store is not the one shard shard=0")
    // and a genuinely NEW batch still merges
    graft.streaming.StreamingDedup.applyDedupBatch(
      Seq((9L, "same")).toDF("doc_id", "text"), store, batchId = 1L,
      streamId = "ckptA")
    val after = spark.read.parquet(store)
      .select("content_hash", "rep_doc_id", "n_copies")
      .as[(String, Long, Long)].collect().toSet
    assert(after.toSeq.map(_._3).sum == 5L, s"new batch failed to merge: $after")
    // a DIFFERENT stream (fresh checkpoint, batch ids restart at 0) must
    // NOT be suppressed by stream A's marker — its data is genuinely new
    graft.streaming.StreamingDedup.applyDedupBatch(
      Seq((10L, "same")).toDF("doc_id", "text"), store, batchId = 0L,
      streamId = "ckptB")
    val gen2 = spark.read.parquet(store)
      .select("n_copies").as[Long].collect().sum
    assert(gen2 == 6L,
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
      // the merge's shuffle and its write: a staged copy of the batch or a
      // bare read of the store (a footer-reading schema-inference job)
      // would each add a job
      assert(work.jobs == 2, s"one batch ran ${work.jobs} jobs")
    }
  }

  test("replay-guard scope survives checkpoint recreation: the scope is the " +
    "query's PERSISTED id (not the path), so a new stream at the same " +
    "checkpoint path is not suppressed") {
    implicit val sqlCtx = spark.sqlContext
    val root = tmp("graft_dedup_scope")
    val store = root + "/store"
    val ckpt = root + "/ckpt"
    val s1 = MemoryStream[(Long, String)]
    s1.addData((1L, "x"), (2L, "x"))
    val q1 = StreamingDedup.mergeIntoDedupStore(
      s1.toDS().toDF("doc_id", "text"), store, ckpt)
    q1.awaitTermination()
    // the guard's scope is exactly the id Spark persisted in the
    // checkpoint's metadata file, and every shard's marker carries it
    assert(StoreSwap.streamScope(ckpt) == q1.id.toString)
    val markers = shardMarkers(store)
    assert(markers.nonEmpty, "no shard carries a marker")
    markers.foreach { m =>
      val marker = new String(java.nio.file.Files.readAllBytes(m), "UTF-8")
      assert(marker.startsWith(q1.id.toString + "\n"), s"$m: $marker")
    }
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
    assert(StoreSwap.streamScope(root + "/nope") == root + "/nope")
  }

  test("malformed _applied_upto marker degrades to nothing-suppressed, " +
    "not a permanently-failing stream") {
    val store = tmp("graft_dedup_badmarker") + "/store"
    StreamingDedup.applyDedupBatch(
      Seq((1L, "a")).toDF("doc_id", "text"), store, 0L, "ckptA")
    shardMarkers(store).foreach(java.nio.file.Files.write(_,
      "ckptA\nnot-a-number".getBytes("UTF-8")))
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
    val root = tmp("graft_dedup_crash")
    val store = root + "/store"
    val path = java.nio.file.Paths.get(_: String)
    val hash = (s: String) => java.security.MessageDigest
      .getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    StreamingDedup.applyDedupBatch(
      Seq((1L, "lo"), (2L, "hi")).toDF("doc_id", "text"), store,
      batchId = 0L, streamId = "ckptA")
    val batch0 = root + "/batch0"
    FileUtils.copyDirectory(new java.io.File(store), new java.io.File(batch0))
    val batch1 = Seq((3L, "lo"), (4L, "hi"), (5L, "hi")).toDF("doc_id", "text")
    StreamingDedup.applyDedupBatch(batch1, store, batchId = 1L,
      streamId = "ckptA")
    // rebuild what dying between batch 1's two renames leaves: the live
    // shard=0 gone, its batch-0 state (marker included) at .old and its
    // batch-1 state still staged in .next
    java.nio.file.Files.createDirectories(path(store + ".old"))
    java.nio.file.Files.createDirectories(path(store + ".next"))
    java.nio.file.Files.move(path(s"$store/shard=0"),
      path(s"$store.next/shard=0"))
    java.nio.file.Files.move(path(s"$batch0/shard=0"),
      path(s"$store.old/shard=0"))
    // the checkpoint redelivers batch 1: shard 0 is restored with its
    // batch-0 marker, so batch 1 merges exactly once
    StreamingDedup.applyDedupBatch(batch1, store, batchId = 1L,
      streamId = "ckptA")
    def got(): Map[String, (Long, Long)] = spark.read.parquet(store)
      .select("content_hash", "rep_doc_id", "n_copies")
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got() == Map(hash("lo") -> (1L, 2L), hash("hi") -> (2L, 3L)), got())
    Seq(".old", ".next").foreach(x => assert(
      !java.nio.file.Files.exists(path(store + x)), s"$x not cleaned up"))
    // the shard's marker now suppresses a further replay of batch 1
    StreamingDedup.applyDedupBatch(
      Seq((6L, "lo"), (7L, "hi")).toDF("doc_id", "text"), store,
      batchId = 1L, streamId = "ckptA")
    assert(got() == Map(hash("lo") -> (1L, 2L), hash("hi") -> (2L, 3L)),
      "replay after recovery double-counted")
  }

  test("q70's cold replay: exact job and stage counts, rows equal to " +
    "batch q18") {
    // a copy of the corpus is a fresh Scratch.once key, so the replay runs
    // here instead of being read back from an earlier case's memo
    val dir = tmp("graft_q70_cold") + "/sf"
    FileUtils.copyDirectory(new java.io.File(sf), new java.io.File(dir))
    val (gate, work) = graft.obs.Work.of(spark)(
      graft.streaming.StreamingGate.q70StreamDedup(spark, dir)
        .as[(String, Long, Long)].collect().toSeq)
    assert((work.jobs, work.stages) == (14, 20),
      s"q70's cold replay ran ${work.jobs} jobs and ${work.stages} stages")
    val batch = graft.operators.Docs.q18ExactDedup(spark, dir)
      .select("content_hash", "rep_doc_id", "n_copies")
      .as[(String, Long, Long)].collect().toSeq
    assert(gate.nonEmpty && gate == batch,
      "q70's store diverged from the batch q18 relation")
  }

  /** The `_applied_upto` marker of every shard of `store`. */
  private def shardMarkers(store: String): Seq[java.nio.file.Path] =
    Option(new java.io.File(store).listFiles).toSeq.flatten
      .filter(_.getName.startsWith("shard=")).sortBy(_.getName)
      .map(_.toPath.resolve("_applied_upto"))
}
