package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.{Scratch, Triple}
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

  /** File-shaped streaming source over the reference's JSONL wire format
    * (its master relays rows as JSON over HTTP, `MasterServer.py:327`;
    * [[graft.TripleStore.writeJsonl]] is the batch twin): files dropped
    * into `path` become micro-batches, so any process that can write a
    * file can feed the engine — no broker required. Explicit schema (a
    * streaming read must never sample 100 TB to infer four columns);
    * `maxFilesPerTrigger` bounds a micro-batch when a backlog accumulates,
    * keeping per-batch sink I/O predictable. Compose with [[winners]] /
    * [[winnersWithTtl]] / [[mergeIntoStorePartitioned]]. */
  def jsonlSource(spark: org.apache.spark.sql.SparkSession, path: String,
      maxFilesPerTrigger: Int = 64): Dataset[Triple] = {
    import spark.implicits._
    spark.readStream
      .schema("subject STRING, predicate STRING, object STRING, ts_ms BIGINT")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      // malformed lines fail the batch loudly (same invariant as the batch
      // twin TripleStore.fromJsonl) — PERMISSIVE would null them silently
      // and poison the store under null keys
      .option("mode", "FAILFAST")
      .json(path)
      .as[Triple]
  }

  /** Ingestion hygiene for at-least-once sources (redelivered files,
    * replayed batches): suppress EXACT duplicate rows — all four columns
    * equal — within the watermark window, so downstream per-batch work
    * (merges, counts, billing) isn't inflated by redelivery. State is one
    * fingerprint per distinct row, evicted once the watermark passes.
    *
    * CONTRACT — this trades late-data tolerance for bounded state: any row
    * (duplicate or DISTINCT) whose event time falls behind the watermark is
    * dropped by Spark's standard late-data filter before the operator.
    * Use it only when the source's event-time disorder is bounded by
    * `watermarkDelay`; for unboundedly-late sources feed the LWW kernel
    * directly — its strict-`>` merge is already idempotent under
    * redelivery, so dedup is a cost optimization you can skip, never a
    * correctness requirement. (Asserted in StreamingLwwSpec: an in-window
    * redelivery is suppressed, an in-window distinct row passes, and a
    * behind-watermark distinct row is dropped.) */
  def dedupWithinWatermark(updates: Dataset[Triple],
      watermarkDelay: String): Dataset[Triple] = {
    import updates.sparkSession.implicits._
    updates
      .withColumn("event_ts", timestamp_millis(col("ts_ms")))
      .withWatermark("event_ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(
        "subject", "predicate", "object", "ts_ms")
      .drop("event_ts")
      .as[Triple]
  }

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

  /** Streaming changelog → persistent store: each micro-batch LWW-merges
    * into the parquet store via `foreachBatch` (the reference's
    * merge-orchestration loop, `MasterServer.py:384-432`, as a sink). The
    * default trigger processes batches as they arrive; pass
    * `Trigger.ProcessingTime("5 seconds")` for the reference's 5 s
    * anti-entropy cadence (`MasterServer.py:233`).
    *
    * The store swap is [[StoreSwap]]'s write-new-then-rename (never read
    * and overwrite the same files in one job). This whole-store rewrite is
    * the SMALL-store sink (one swap, single directory); the scale path is
    * [[mergeIntoStorePartitioned]], which prunes the read and the rewrite
    * to the shards each batch touches.
    */
  def mergeIntoStore(updates: Dataset[Triple], storePath: String,
      checkpointPath: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val spark = updates.sparkSession
    updates.writeStream
      .outputMode("update")
      .trigger(trigger)
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: Dataset[Triple], _: Long) =>
        val swap = new StoreSwap(batch.sparkSession, storePath)
        swap.recover()
        val base =
          if (swap.exists) spark.read.parquet(storePath)
          else batch.limit(0).toDF()
        // merge (strict->) not upsert: a stale arrival must lose to the
        // store's newer row (MongoDBConnector.py:150-153), and batch
        // retries (same rows redelivered) are then no-ops — idempotent.
        Lww.merge(base, batch.toDF())
          .write.mode(SaveMode.Overwrite).parquet(swap.staging)
        swap.commit()
      }
      .start()
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

  /** The scale-safe streaming sink: the store is a shard-PARTITIONED parquet
    * layout (`storePath/shard=k/`), and each micro-batch LWW-merges into
    * ONLY the shards its keys touch — read pruned to those partition
    * directories, merged output staged and swapped in per touched shard by
    * [[StoreSwap]]. Each move is one `FileSystem.rename` on the store's
    * filesystem, atomic where that rename is (HDFS, local disk); a rename
    * that returns `false` fails the batch. A crash in ANY window leaves
    * each shard wholly old or wholly new — never deleted — and the
    * checkpointed batch replays against either state idempotently because
    * the merge is strict-`>` LWW (`MongoDBConnector.py:150-153`). (Dynamic
    * partition overwrite of the live path would instead delete-then-rename
    * in place: a crash between the two permanently loses the shard.)
    *
    * Per-batch I/O is O(affected shards), not O(store): at 100 TB with a
    * 5 s cadence (`MasterServer.py:233`) a batch touching one shard of a
    * 1,024-shard store moves ~0.1% of the data instead of all of it (the
    * bounded-merge shape proven in `ScaleBench`). A production deployment
    * would layer a MERGE-capable table format for file-level atomicity,
    * same structure. */
  def mergeIntoStorePartitioned(updates: Dataset[Triple], storePath: String,
      checkpointPath: String, boundaries: Seq[String],
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val spark = updates.sparkSession
    import spark.implicits._
    updates.writeStream
      .outputMode("update")
      .trigger(trigger)
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: Dataset[Triple], _: Long) =>
        val swap = new StoreSwap(batch.sparkSession, storePath)
        swap.recover()
        // pinned for the batch: released once its shards are committed
        Scratch.pinned(Scratch.pin(
            batch.toDF().withColumn("shard", shardCol(boundaries)))) { b =>
          // bounded driver-side collect: at most |boundaries|+1 shard ids
          val touched = b.select("shard").distinct().as[Int].collect().toSeq
          if (touched.nonEmpty) {
            val base =
              if (swap.hasShards)
                spark.read.parquet(storePath)
                  .filter(col("shard").isin(touched: _*))
              else b.limit(0)
            Lww.merge(base, b)
              .withColumn("shard", shardCol(boundaries))
              .write.mode(SaveMode.Overwrite)
              .partitionBy("shard")
              .parquet(swap.staging)
            swap.commitShards(touched.map(k => s"shard=$k"))
          }
        }
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

  /** Q11 tumbling 1-minute windows with a watermark over an event stream
    * (`ts` must be TimestampType). The watermark bounds state: windows older
    * than it are finalized and evicted, the Spark analog of the reference's
    * 5 s health/merge cadence bounding staleness (`MasterServer.py:233`). */
  def tumblingCounts(events: DataFrame, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 minute"), col("event_type"))
      // stableRound, NOT the builtin: keeps the stream in bit-lockstep
      // with batch q11Tumbling (its spec equates the two on shared input)
      .agg(count(lit(1)).as("cnt"),
        graft.functions.StableRound.stableRound(sum(col("value")), 2)
          .as("sum_value"))
}
