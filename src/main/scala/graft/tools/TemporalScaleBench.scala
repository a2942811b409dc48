package graft.tools

import org.apache.spark.sql.functions._

import graft.{LocalSession, Scratch, TripleStore}
import graft.obs.Work
import graft.operators.{Relational, Temporal}

/** Temporal joins at 10M events — the last pillar without a same-scale
  * rehearsal. The sf0.1 events table replicated with per-rep user offsets
  * (disjoint populations, q45/q46's exact shapes at 100× the rows):
  *
  *   - RANGE join: events → 24 h purchase windows. The scale claim is the
  *     REPLICATION BOUND — with bucketWidth ≥ window length each interval
  *     lands in ≤ 2 time buckets, so the exchanged interval volume is
  *     ≤ 2·|intervals| regardless of span (measured as the run's
  *     shuffle-write records), and the join is an equi-join Catalyst can
  *     hash — never a BroadcastNestedLoopJoin.
  *   - AS-OF join: non-purchases → newest ≤24 h-old purchase. ONE hash
  *     exchange of the tagged union (no join node at all) — the
  *     shuffle-record count must be ≤ |probe| + |build| + ε.
  *
  * Prints one JSON line. Usage:
  *   sbt "runMain graft.tools.TemporalScaleBench [reps]"
  */
object TemporalScaleBench {

  def main(args: Array[String]): Unit = {
    val reps = if (args.nonEmpty) args(0).toInt else 100
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession.create()

    // (rows, seconds, shuffle records written) of one noop-sink run
    def run(df: org.apache.spark.sql.DataFrame): (Long, Double, Long) = {
      val ((rows, secs), work) = Work.of(spark)(Harness.timed(Harness.sink(df)))
      (rows, secs, work.shuffleRecords)
    }

    val windowMs = 24L * 3600 * 1000
    val raw = TripleStore.table(spark, sfDir, "events")
    val e0 = raw.select(col("user_id"), col("event_id"), col("event_type"),
      col("value"), Relational.eventTsMs(raw).as("ts_ms"))
    val e = e0.crossJoin(spark.range(reps).select(col("id").as("rep")))
      .select((col("user_id") + col("rep") * 10000000L).as("user_id"),
        (col("event_id") + col("rep") * 1000000000L).as("event_id"),
        col("event_type"), col("value"), col("ts_ms"))
      .transform(Scratch.pin(_))
    val nEvents = e.count()
    val wins = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("win_id"),
        col("ts_ms").as("w_start"), (col("ts_ms") + windowMs).as("w_end"))
      .transform(Scratch.pin(_))
    val nWins = wins.count()

    // range join: full q45 shape (join + per-window aggregate)
    val rangeDf = Temporal.rangeJoin(
        e.select("user_id", "event_id", "value", "ts_ms"),
        wins, Seq("user_id"), "ts_ms", "w_start", "w_end", windowMs)
      .groupBy("user_id", "win_id")
      .agg(count(lit(1)).as("n_events"),
        graft.functions.StableRound.stableRound(sum(col("value")), 2)
          .as("sum_value"))
    val (nRange, tRange, rangeShuffled) = run(rangeDf)

    // as-of join: full q46 shape
    val probeDf = e.filter(col("event_type") =!= "purchase")
      .select("user_id", "event_id", "event_type", "ts_ms")
    val buildDf = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_ms"),
        col("event_id").as("purchase_id"),
        graft.functions.StableRound.stableRound(col("value"), 2)
          .as("purchase_value"))
    val asofDf = Temporal.asofJoin(probeDf, buildDf, Seq("user_id"),
      "ts_ms", "ts_ms", "event_id", "purchase_id",
      Seq("purchase_id", "purchase_value"), Some(windowMs))
    val (nAsof, tAsof, asofShuffled) = run(asofDf)

    Harness.emit("metric" -> "temporal_scale", "events" -> nEvents,
      "intervals" -> nWins, "range_sec" -> tRange, "range_rows" -> nRange,
      "range_shuffle_records" -> rangeShuffled,
      "range_bound_2x_intervals_plus_events" -> (2 * nWins + nEvents),
      "asof_sec" -> tAsof, "asof_rows" -> nAsof,
      "asof_shuffle_records" -> asofShuffled)
    spark.stop()
  }
}
