package graft.streaming

import org.apache.hadoop.fs.Path
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
    * streaming read must never sample 100 TB to infer four columns); one
    * file per micro-batch, so a backlog replays as file-sized batches and
    * per-batch sink I/O stays predictable. Compose with [[winners]] /
    * [[winnersWithTtl]] / [[mergeIntoStorePartitioned]]. */
  def jsonlSource(spark: org.apache.spark.sql.SparkSession,
      path: String): Dataset[Triple] = {
    import spark.implicits._
    spark.readStream
      .schema("subject STRING, predicate STRING, object STRING, ts_ms BIGINT")
      .option("maxFilesPerTrigger", 1)
      // malformed lines fail the batch loudly — PERMISSIVE would null them
      // silently and poison the store under null keys
      .option("mode", "FAILFAST")
      .json(path)
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
    * The store is a shard-PARTITIONED parquet
    * layout (`storePath/shard=k/`), and each micro-batch LWW-merges into
    * ONLY the shards its keys touch — read pruned to those partition
    * directories, merged output staged and swapped in per touched shard by
    * [[StoreSwap]]. The batch is read once and pins no executor blocks: it
    * is written partitioned by shard to a [[Scratch.scoped]] directory,
    * whose `shard=k` names are the touched shards. Each move is one `FileSystem.rename` on the store's
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
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    updates.writeStream
      .outputMode("update")
      .trigger(trigger)
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: Dataset[Triple], _: Long) =>
        val bs = batch.sparkSession
        val swap = new StoreSwap(bs, storePath)
        swap.recover()
        // the batch is read ONCE, into scratch shard directories: their
        // names are the touched shards and the merge reads them back (a
        // second action on `batch` would re-read the source and count its
        // rows twice in the query's numInputRows)
        Scratch.scoped(bs) { dir =>
          val staged = new Path(dir, "batch")
          val rows = batch.toDF().withColumn("shard", shardCol(boundaries))
          rows.write.partitionBy("shard").parquet(staged.toString)
          val touched = staged.getFileSystem(bs.sessionState.newHadoopConf())
            .listStatus(staged).map(_.getPath.getName)
            .filter(_.startsWith("shard=")).toSeq
          if (touched.nonEmpty) {
            // the store's layout is the staged batch's: reading both with
            // that schema spares a footer-reading job per read
            def read(path: String): DataFrame =
              bs.read.schema(rows.schema).parquet(path)
            val b = read(staged.toString)
            val base =
              if (swap.hasShards)
                read(storePath).filter(col("shard")
                  .isin(touched.map(_.stripPrefix("shard=").toInt): _*))
              else b.limit(0)
            Lww.merge(base, b)
              .withColumn("shard", shardCol(boundaries))
              .write.mode(SaveMode.Overwrite)
              .partitionBy("shard")
              .parquet(swap.staging)
            swap.commitShards(touched)
          }
        }
      }
      .start()

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
