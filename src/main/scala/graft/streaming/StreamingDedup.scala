package graft.streaming

import org.apache.spark.sql.DataFrame
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

  /** Streaming crawl → persistent DEDUP STORE: each micro-batch merges its
    * `(content_hash, rep_doc_id, n_copies)` rows into a parquet store with
    * (min, sum) — the streaming twin of the batch q18 relation and the
    * ingest form of q52's daily-crawl increment. Both merge operators are
    * associative AND commutative, so the final store is independent of how
    * the crawl was chopped into batches or which order they arrived:
    * store ≡ [[graft.operators.Docs.q18ExactDedup]] over the union of
    * everything ingested (the equivalence StreamingDedupSpec pins and gate
    * q70 proves against q18's oracle).
    *
    * This keeps NO streaming state — the store IS the state, so nothing is
    * watermark-evicted and copies arbitrarily far apart still merge. Each
    * batch goes through [[StoreSwap.merge]] into the one shard `shard=0`:
    * content hashes have no locality, so a hash-sharded store would have
    * every shard rewritten by any batch of more than a few documents, and
    * the merge reads the batch straight from its source, with no staging
    * copy. `sum` is not idempotent, so the shard's replay marker is what
    * keeps a checkpoint redelivery of an applied batch from double
    * counting; its scope is the query id Structured Streaming persists in
    * the checkpoint ([[StoreSwap.streamScope]]). */
  def mergeIntoDedupStore(docs: DataFrame, storePath: String,
      checkpointPath: String): StreamingQuery = {
    // read at the first batch, not at wiring time: the metadata file
    // exists only once the query has started
    lazy val streamId = StoreSwap.streamScope(checkpointPath)
    docs.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyDedupBatch(batch, storePath, batchId, streamId)
      }
      .start()
  }

  /** The dedup store's columns; reading with them spares a footer-reading
    * schema job. */
  private[graft] val StoreSchema =
    "content_hash STRING, rep_doc_id LONG, n_copies LONG"

  /** One micro-batch's merge, exposed for direct replay testing:
    * `streamId` scopes the replay markers ([[StoreSwap.streamScope]] in
    * production). Each document enters the merge as its own store row,
    * `(hash, doc_id, 1)`: the merge's (min, sum) folds a batch's copies
    * together with the store's in its one shuffle. */
  private[graft] def applyDedupBatch(batch: DataFrame, storePath: String,
      batchId: Long, streamId: String): Unit =
    StoreSwap.merge(
      batch.select(sha2(col("text"), 256).as("content_hash"),
        col("doc_id").as("rep_doc_id"), lit(1L).as("n_copies")),
      storePath, batchId, streamId, shard = None) {
      (store, b) =>
        store.unionByName(b).groupBy("content_hash")
          .agg(min(col("rep_doc_id")).as("rep_doc_id"),
            sum(col("n_copies")).as("n_copies"))
    }
}
