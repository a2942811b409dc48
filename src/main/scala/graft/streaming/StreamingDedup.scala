package graft.streaming

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{ChecksumException, Path}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Ingest-time exact deduplication — the streaming twin of the batch
  * content-hash dedup ([[graft.operators.Docs.q18ExactDedup]]). A 100 TB
  * corpus is not assembled in one batch job: it arrives as a crawl stream,
  * and dropping duplicates AT INGEST is far cheaper than storing them and
  * re-deduplicating the accumulated corpus each time.
  *
  * The rows are genuinely different records — different doc_id, different
  * arrival — that carry the same CONTENT (sha-256 of the text): the
  * lowest doc_id is kept as the representative and the copies are counted.
  */
object StreamingDedup {

  /** Streaming crawl → persistent DEDUP STORE: each micro-batch aggregates
    * to (content_hash → min doc_id, copy count) and merges into a parquet
    * store with (min, sum) — the streaming twin of the batch q18 relation
    * and the ingest form of q52's daily-crawl increment. Both merge
    * operators are associative AND commutative, so the final store is
    * independent of how the crawl was chopped into batches or which order
    * they arrived: store ≡ [[graft.operators.Docs.q18ExactDedup]] over the
    * union of everything ingested (the equivalence StreamingDedupSpec pins
    * and gate q70 proves against q18's oracle).
    *
    * This keeps NO streaming state — the store IS the state, so nothing is
    * watermark-evicted and copies arbitrarily far apart still merge. The
    * cost is a store rewrite per batch; at 100 TB the
    * refinement is [[StreamingLww.mergeIntoStorePartitioned]]'s shape —
    * hash-range-partition the store (q52's bucketed layout) and rewrite
    * only touched shards.
    *
    * The swap is [[StoreSwap]]'s whole-store `commit`.
    * One extra guard the LWW sink does not need: `sum(n_copies)` is NOT
    * idempotent (LWW's strict-`>` merge is), so the store carries an
    * `_applied_upto` marker (underscore-prefixed: invisible to the parquet
    * reader) recording the last merged batch id, swapped WITH the data —
    * a checkpoint replay of an already-applied batch is a no-op instead
    * of a double count. The marker is scoped to the STREAM's identity —
    * the query id Structured Streaming persists in the checkpoint's
    * `metadata` file:
    * batch ids restart at 0 per checkpoint, so a bare id would make a NEW
    * query attached to an existing store (the next crawl generation)
    * silently discard its first batches as "replays" — a different stream
    * resets the guard instead, and only a same-checkpoint redelivery is
    * suppressed. The persisted id (not the checkpoint PATH) is the scope
    * because a checkpoint deleted and recreated at the same path is a new
    * stream with restarted batch ids: Spark mints a fresh query id in the
    * new `metadata`, while the path string would alias the two streams and
    * swallow the new one's first batches. */
  def mergeIntoDedupStore(docs: DataFrame, storePath: String,
      checkpointPath: String): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // resolved per batch, not at wiring time: the metadata file exists
        // only once the query has started
        applyDedupBatch(batch, storePath, batchId, streamScope(checkpointPath))
      }
      .start()

  /** The stream identity the replay guard is scoped to: the query id from
    * the checkpoint's `metadata` file (JSON `{"id":"<uuid>"}`) — stable
    * across restarts of the same checkpoint, fresh when the checkpoint is
    * recreated. Falls back to the path if the file is missing/unreadable/
    * unparseable (pre-start resolution or a hand-built test dir). Read
    * through the Hadoop `FileSystem` API, NOT `java.nio` — production
    * checkpoints live on HDFS/object stores where a local-FS read would
    * silently report "missing" and degrade every stream to the path-aliased
    * scope this id exists to avoid. */
  private[graft] def streamScope(checkpointPath: String): String =
    try {
      val meta = new org.apache.hadoop.fs.Path(checkpointPath, "metadata")
      val conf = org.apache.spark.sql.SparkSession.getActiveSession
        .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
        .map(_.sessionState.newHadoopConf())
        .getOrElse(new org.apache.hadoop.conf.Configuration())
      val fs = meta.getFileSystem(conf)
      if (fs.exists(meta)) {
        val in = fs.open(meta)
        val txt =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        """"id"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(txt)
          .map(_.group(1)).getOrElse(checkpointPath)
      } else checkpointPath
    } catch { case scala.util.control.NonFatal(_) => checkpointPath }

  /** The dedup store's columns, as every merge writes them. */
  private val StoreSchema = "content_hash STRING, rep_doc_id LONG, n_copies LONG"

  /** One micro-batch's merge, exposed for direct replay testing.
    * `streamId` is the replay-guard scope — in production the owning
    * query's PERSISTED ID resolved by [[streamScope]] (never the checkpoint
    * path: a deleted-and-recreated checkpoint at the same path is a new
    * stream whose restarted batch ids a path scope would swallow). */
  private[graft] def applyDedupBatch(batch: DataFrame, storePath: String,
      batchId: Long, streamId: String): Unit = {
    val spark = batch.sparkSession
    val swap = new StoreSwap(spark, storePath)
    swap.recover()
    // marker format: "<streamId>\n<batchId>". A marker from a DIFFERENT
    // stream never suppresses: its batch-id sequence is unrelated. A
    // MALFORMED marker (torn write, manual edit, a checksum that no longer
    // matches) degrades the same way — treat it as foreign (-1, nothing
    // suppressed) rather than throwing, which would permanently fail the
    // stream on every restart.
    val markerFile = new Path(storePath, "_applied_upto")
    val applied =
      if (swap.fs.exists(markerFile)) {
        val in = swap.fs.open(markerFile)
        val lines =
          try new String(in.readAllBytes(), StandardCharsets.UTF_8)
            .split("\n", 2)
          catch { case _: ChecksumException => Array.empty[String] }
          finally in.close()
        if (lines.length == 2 && lines(0) == streamId)
          scala.util.Try(lines(1).trim.toLong).getOrElse(-1L)
        else -1L
      } else -1L
    if (batchId <= applied)
      // suppression must be OBSERVABLE: if the guard ever misfires (e.g. a
      // scope collision), a silent no-op reads as data loss with no trace
      System.err.println(s"[graft.StreamingDedup] batch $batchId <= applied " +
        s"$applied for stream $streamId: replay suppressed at $storePath")
    else {
      val agg = batch
        .withColumn("content_hash", sha2(col("text"), 256))
        .groupBy("content_hash")
        .agg(min(col("doc_id")).as("rep_doc_id"),
          count(lit(1)).as("n_copies"))
      val merged =
        if (swap.exists)
          // the store's fixed schema spares a footer-reading job per batch
          spark.read.schema(StoreSchema).parquet(storePath).unionByName(agg)
            .groupBy("content_hash")
            .agg(min(col("rep_doc_id")).as("rep_doc_id"),
              sum(col("n_copies")).as("n_copies"))
        else agg
      merged.write.mode(SaveMode.Overwrite).parquet(swap.staging)
      val out = swap.fs.create(new Path(swap.staging, markerFile.getName))
      try out.write(s"$streamId\n$batchId".getBytes(StandardCharsets.UTF_8))
      finally out.close()
      swap.commit()
    }
  }
}
