package graft.tools

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.{LocalSession, Scratch, TripleStore}
import graft.obs.Work
import graft.operators.Relational
import graft.streaming.SessionReplay

/** Streaming sessionization at the reference's row scale — the third
  * streaming operator's same-scale rehearsal (LWW sinks have ScaleBench's
  * stream sections, dedup has DedupScaleBench; sessions had only sf0.1).
  *
  * The sf events table is replicated `reps`× with per-rep user-id offsets
  * (distinct user populations, SAME time domain), exported as `NumSlices`
  * time-range JSONL files and replayed through the REAL
  * [[StreamingSessions.sessionize]] query (`maxFilesPerTrigger=1`, file
  * mtimes ascending — q74's replay shape at 100× the rows). What 100 TB
  * needs and local[32] can't show at gate scale:
  *
  *   - THROUGHPUT: events/s through `flatMapGroupsWithState` with a real
  *     file source, state store, and parquet sink in the loop.
  *   - BOUNDED STATE: the state store must hold only each user's
  *     not-yet-closable tail — the per-batch `numRowsTotal` peak from the
  *     replay's progress events should sit far below the event count, because
  *     closed sessions leave state at emission (the scaladoc claim,
  *     measured). A leak (state ~ events) is the failure mode this
  *     rehearsal exists to catch.
  *
  * Prints one JSON line. Usage:
  *   sbt "runMain graft.tools.SessionScaleBench [reps]"
  */
object SessionScaleBench {

  private val NumSlices = 10

  def main(args: Array[String]): Unit = {
    val reps = if (args.nonEmpty) args(0).toInt else 100
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession.create()
    import spark.implicits._

    val gap = Relational.SessionGapMs
    val raw = TripleStore.table(spark, sfDir, "events")
    val ev = raw.select(col("user_id"), col("event_id"),
      Relational.eventTsMs(raw).as("ts_ms"), col("value"))
    // distinct user population per rep (offsets far above real ids), same
    // time domain — so the watermark closes every rep's sessions in step
    // materialized ONCE: each of the per-slice exports below would
    // otherwise recompute the full crossJoin from scratch (~11 redundant
    // materializations inflating export_sec)
    val big = ev.crossJoin(spark.range(reps).select(col("id").as("rep")))
      .select((col("user_id") + col("rep") * 10000000L).as("user_id"),
        (col("event_id") + col("rep") * 1000000000L).as("event_id"),
        col("ts_ms"), col("value"))
      .transform(Scratch.pin(_))
    val nEvents = big.count()
    val (loTs, hiTs) = ev.agg(min(col("ts_ms")), max(col("ts_ms")))
      .as[(Long, Long)].head()
    val span = hiTs - loTs + 1

    // deleted at exit with the scratch root: at reps=1000 the slice JSONL
    // + store + checkpoint under this dir total ~15 GB
    val base = Scratch.path(spark, "graft_sess_scale")
    val (src, storePath, ckpt) = (s"$base/in", s"$base/store", s"$base/ckpt")
    // the gate's replay protocol (graft.streaming.SessionReplay), with the
    // export going through Spark at this row count: one COALESCED JSONL
    // file per time slice, so no intra-slice file ordering can strand
    // early events behind the watermark
    val placer = new SessionReplay.Placer(spark, src)
    val (_, tExport) = Harness.timed {
      (0 until NumSlices).foreach { i =>
        val (lo, hi) =
          (loTs + span * i / NumSlices, loTs + span * (i + 1) / NumSlices)
        val tmp = s"$base/slice$i"
        big.filter(col("ts_ms") >= lo && col("ts_ms") < hi)
          .coalesce(1).write.json(tmp)
        val part = placer.fs.listStatus(new Path(tmp)).map(_.getPath)
          .filter(_.getName.matches("part-.*\\.json"))
        require(part.length == 1, s"expected 1 part file in $tmp")
        placer.place(part.head, f"slice$i%02d.json")
      }
      SessionReplay.placeSentinels(placer, hiTs, gap)
    }

    // the replay's progress events carry each batch's state-store size;
    // Work.of drains the bus, so the last batch's event is counted too
    val ((_, tStream), work) = Work.of(spark)(Harness.timed(
      SessionReplay.run(spark, src, gap, watermarkDelay = "10 minutes",
        storePath, ckpt)))
    val states = work.progress.flatMap(_.stateOperators)
    val maxState = states.map(_.numRowsTotal).maxOption.getOrElse(0L)
    val maxStateMem = states.map(_.memoryUsedBytes).maxOption.getOrElse(0L)

    val closed = spark.read.parquet(storePath)
      .filter(!(col("user_id") <=> lit(SessionReplay.SentinelUser)))
    val nSessions = closed.count()
    val nUsers = closed.select("user_id").distinct().count()
    Harness.emit("metric" -> "session_scale", "events" -> nEvents,
      "reps" -> reps, "slices" -> NumSlices, "export_sec" -> tExport,
      "stream_sec" -> tStream, "events_per_sec" -> nEvents / tStream,
      "sessions" -> nSessions, "users" -> nUsers,
      "max_state_rows" -> maxState, "max_state_bytes" -> maxStateMem,
      "batches" -> work.progress.size,
      "state_keys_to_users" -> maxState.toDouble / math.max(1L, nUsers))
    spark.stop()
  }
}
