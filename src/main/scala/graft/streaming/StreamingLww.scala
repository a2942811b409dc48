package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.Triple
import graft.operators.Lww

/** Q11: the reference's asynchronous LWW exchange as Structured Streaming.
  *
  * In the reference, updates arrive per node, buffer in
  * `updateModifications` (`MongoDBConnector.py:23,76`), ship lazily, and
  * apply with a timestamp comparison so stale arrivals lose
  * (`MongoDBConnector.py:150-153`) — i.e. late-data-tolerant LWW upsert
  * state. Here the updates stream feeds `mapGroupsWithState` keyed by the
  * logical key `(subject, predicate)`; the per-key state is the current
  * winner and the update function is the same `(ts_ms, object)` max as the
  * batch kernel, so stream state ≡ batch [[graft.operators.Lww]] on the same
  * rows (asserted in StreamingLwwSpec — SURVEY §5's batch-equivalence
  * oracle).
  *
  * Scale note: per-key state is ONE row (not a buffer of inputs), and the
  * 100 TB story remains batch LWW compaction (SURVEY §7.3) — streaming state
  * is for the live tail, with watermark-driven eviction when keys are
  * time-bounded.
  */
object StreamingLww {

  /** File-shaped streaming source over JSONL (the reference's wire format:
    * its master relays rows as JSON over HTTP, `MasterServer.py:327`;
    * [[graft.TripleStore.writeJsonl]] is the batch twin): files dropped
    * into `path` become micro-batches, so any process that can write a
    * file can feed the engine — no broker required. `schema` is a DDL
    * string (a streaming read must never sample 100 TB to infer its
    * columns; [[TripleSchema]] for triples); one file per micro-batch, so a
    * backlog replays as file-sized batches and per-batch sink I/O stays
    * predictable. The LWW operators take `.as[Triple]` of it; the q70 and
    * q74 replays read their own columns through it. */
  def jsonlSource(spark: org.apache.spark.sql.SparkSession, path: String,
      schema: String): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1)
      // malformed lines fail the batch loudly — PERMISSIVE would null them
      // silently and poison the store under null keys
      .option("mode", "FAILFAST")
      .json(path)

  /** [[graft.Triple]]'s columns, as [[jsonlSource]] reads them. */
  val TripleSchema = "subject STRING, predicate STRING, object STRING, ts_ms BIGINT"

  /** Emit the current winner of every key touched in each micro-batch
    * (update output mode). */
  def winners(updates: Dataset[Triple]): Dataset[Triple] = {
    import updates.sparkSession.implicits._
    updates
      .groupByKey(t => (t.subject, t.predicate))
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (_: (String, String), rows: Iterator[Triple],
         state: GroupState[Triple]) =>
          // Lww.newerWins, not maxBy on (Long, String): Scala's String
          // ordering is UTF-16 and diverges from the batch kernel's
          // UTF8String tie order on astral-vs-BMP objects
          val w = (state.getOption.iterator ++ rows).reduce((a, b) =>
            if (Lww.newerWins(a.`object`, a.ts_ms, b.`object`, b.ts_ms)) b
            else a)
          state.update(w)
          w
      }
  }

  /** Stable range-shard of a subject against sorted boundary cut points:
    * shard k holds subjects in [boundaries(k-1), boundaries(k)) — the Spark
    * twin of the reference's declared `SHARDING` dict (`MasterServer.py:59-63`),
    * used as a PARTITION column so shard membership is a directory, not a
    * routing table. Routed through the native [[graft.plans.RangeBucket]]
    * binary search — O(log n) per row, so a 1,024-shard store costs ~10
    * compares instead of a 1,024-branch codegen'd case tree. */
  private def shardCol(boundaries: Seq[String]): Column =
    graft.plans.RangeBucket.shardId(col("subject"), boundaries)

  /** The streaming LWW sink, the reference's merge-orchestration loop
    * (`MasterServer.py:384-432`) as a `foreachBatch` sink. The default
    * trigger processes batches as they arrive; pass
    * `Trigger.ProcessingTime("5 seconds")` for the reference's 5 s
    * anti-entropy cadence (`MasterServer.py:233`).
    *
    * Each micro-batch goes through [[StoreSwap.merge]] with [[Lww.merge]],
    * sharded on the subject's range shard: it rewrites only the shards its
    * keys touch, so per-batch I/O is O(touched shards), not O(store). The
    * strict-`>` merge (`MongoDBConnector.py:150-153`) is idempotent, so a
    * replay against either side of a crash converges; the shard markers
    * only spare a redelivered batch its I/O. (Dynamic partition overwrite
    * of the live path would instead delete-then-rename in place: a crash
    * between the two permanently loses the shard.) */
  def mergeIntoStorePartitioned(updates: Dataset[Triple], storePath: String,
      checkpointPath: String, boundaries: Seq[String],
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    // read at the first batch, once the query has written its metadata,
    // and reused for the query's later batches
    lazy val streamId = StoreSwap.streamScope(checkpointPath)
    updates.writeStream
      .outputMode("update")
      .trigger(trigger)
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: Dataset[Triple], batchId: Long) =>
        StoreSwap.merge(batch.toDF(), storePath, batchId, streamId,
          Some(shardCol(boundaries)))(Lww.merge)
      }
      .start()
  }

  /** [[winners]] with watermark-driven state eviction (SURVEY §2.2's
    * `GroupStateTimeout` ask): per-key state is dropped once the event-time
    * watermark passes the winner's timestamp + `ttlMs`, so state size
    * tracks the live key set instead of every key ever seen (§7.3's 10.2M-
    * key risk in the reference's own corpus).
    *
    * Eviction policy (tested in StreamingLwwSpec):
    *   - live keys: identical to [[winners]] — stale arrivals lose;
    *   - arrivals OLDER than the watermark are dropped by Spark before the
    *     state function (standard late-data semantics), so a stale row can
    *     never resurrect an evicted key with an old value;
    *   - an admissible arrival for an evicted key re-hydrates state from
    *     scratch. Eviction implies winner_ts + ttl < watermark, and
    *     admission implies the new row is not older than the watermark, so
    *     the re-hydrated winner is strictly newer than the evicted one —
    *     the per-key emission sequence stays consistent with batch LWW over
    *     the admitted rows. */
  def winnersWithTtl(updates: Dataset[Triple], watermarkDelay: String,
      ttlMs: Long): Dataset[Triple] = {
    import updates.sparkSession.implicits._
    updates
      // the watermark column must flow INTO the stateful operator (Spark's
      // unsupported-operation checker rejects an event-time timeout whose
      // watermark was projected away)
      .withColumn("event_ts", timestamp_millis(col("ts_ms")))
      .withWatermark("event_ts", watermarkDelay)
      .as[(String, String, String, Long, java.sql.Timestamp)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.EventTimeTimeout) {
        (_: (String, String),
         rows: Iterator[(String, String, String, Long, java.sql.Timestamp)],
         state: GroupState[Triple]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val w = (state.getOption.iterator ++
                rows.map(r => Triple(r._1, r._2, r._3, r._4)))
              .reduce((a, b) => // UTF8String tie order — see winners()
                if (Lww.newerWins(a.`object`, a.ts_ms,
                  b.`object`, b.ts_ms)) b
                else a)
            state.update(w)
            // must stay ahead of the watermark or Spark rejects it; a
            // winner already within ttl of the watermark evicts next batch
            state.setTimeoutTimestamp(
              math.max(w.ts_ms + ttlMs, state.getCurrentWatermarkMs() + 1))
            Iterator.single(w)
          }
      }
  }
}
