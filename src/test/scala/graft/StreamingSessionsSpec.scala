package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Relational
import graft.streaming.{ClosedSession, SessionEvent, StreamingSessions}

/** Streaming gap-sessionization: batch equivalence on real driver data,
  * disorder handling (a late-but-admissible event must FUSE two apparent
  * sessions), and the split fold itself. */
class StreamingSessionsSpec extends AnyFunSuite with TempDirs {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val GapMs = 30L * 60 * 1000
  private val SentinelUser = -1L

  private def row(user: Long, eid: Long, tsMs: Long, value: Double)
      : (Option[Long], Long, Timestamp, Option[Double]) =
    (Some(user), eid, new Timestamp(tsMs), Some(value))

  test("split folds a sorted buffer into gap-delimited sessions") {
    val e = Seq(SessionEvent(0L, 0L, Some(1.0)),
      SessionEvent(10L, 1L, Some(1.0)),
      SessionEvent(10L + GapMs, 2L, Some(1.0)),  // still within gap of 10
      SessionEvent(11L + 2 * GapMs, 3L, Some(1.0))) // > gap after previous
    val s = StreamingSessions.split(e, GapMs)
    assert(s.map(_.map(_.event_id)) == Seq(Seq(0L, 1L, 2L), Seq(3L)))
    assert(StreamingSessions.split(Seq.empty, GapMs).isEmpty)
  }

  test("split property: sessions partition the sorted buffer, in-session " +
    "gaps <= gap, between-session gaps > gap") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val genEvents: Gen[List[SessionEvent]] = Gen.listOf(for {
      ts <- Gen.choose(0L, 40L * GapMs)
      id <- Gen.choose(0L, 1000L)
      } yield SessionEvent(ts, id, Some(1.0)))
    val prop = Prop.forAll(genEvents) { evs0 =>
      val evs = evs0.sortBy(e => (e.ts_ms, e.event_id))
      val ss = StreamingSessions.split(evs, GapMs)
      val partitions = ss.flatten == evs
      val nonEmpty = ss.forall(_.nonEmpty)
      val inGaps = ss.forall(s =>
        s.zip(s.tail).forall { case (a, b) => b.ts_ms - a.ts_ms <= GapMs })
      val betweenGaps = ss.zip(ss.drop(1)).forall { case (a, b) =>
        b.head.ts_ms - a.last.ts_ms > GapMs }
      partitions && nonEmpty && inGaps && betweenGaps
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("model check: batch sessionize == naive per-user gap fold on random " +
    "data (dense times force boundary gaps, equal-ts ties, 1-row sessions)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val gap = 3L
    // times 0..11 on two users with duplicate timestamps: the (ts, event_id)
    // total order, gap-exactly-equal boundaries (gap <= 3 keeps the
    // session), and singleton sessions all occur routinely
    val genEvents = Gen.listOfN(9, for {
      u <- Gen.oneOf(1L, 2L); t <- Gen.choose(0L, 11L)
      v <- Gen.choose(0, 50).map(_ / 4.0)
    } yield (u, t, v)).map(_.zipWithIndex.map { case ((u, t, v), i) =>
      (u, i.toLong, v, t) })
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12),
      Prop.forAll(genEvents) { es =>
        val got = Relational.sessionize(
            es.toDF("user_id", "event_id", "value", "ts_ms"), gap)
          .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
        val want = es.groupBy(_._1).flatMap { case (u, rows) =>
          val sorted = rows.sortBy(r => (r._4, r._2)) // (ts, event_id) order
          val sessions = sorted.tail.foldLeft(List(List(sorted.head))) {
            (acc, r) =>
              if (r._4 - acc.head.head._4 <= gap) (r :: acc.head) :: acc.tail
              else List(r) :: acc
          }.reverse.map(_.reverse)
          sessions.zipWithIndex.map { case (s, i) =>
            (u, i + 1L, s.head._4, s.last._4, s.size.toLong,
              BigDecimal(s.map(_._3).sum)
                .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
          }
        }.toSet
        got == want
      })
    assert(res.passed, res.status.toString)
  }

  test("model check: streaming == in-process split fold for RANDOM event " +
    "sets under RANDOM chopping and arrival order (nothing inadmissibly " +
    "late under a full-span watermark delay, so equivalence must hold for " +
    "ANY replay schedule — the q74 oracle-validity argument, randomized)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    implicit val sqlCtx = spark.sqlContext
    val genCase: Gen[(List[(Option[Long], Long, Long, Option[Double])], Int, Long)] =
      for {
        n <- Gen.choose(5, 18)
        evs <- Gen.listOfN(n, for {
          u <- Gen.oneOf(Some(1L), Some(2L), Option.empty[Long])
          t <- Gen.choose(0L, 15L * GapMs)     // dense enough for ties/gaps
          v <- Gen.frequency(
            (1, Gen.const(Option.empty[Double])),
            (3, Gen.choose(0, 50).map(x => Option(x / 4.0))))
        } yield (u, t, v))
        nBatches <- Gen.choose(1, 4)
        seed <- Gen.choose(0L, Long.MaxValue)
      } yield (evs.zipWithIndex.map { case ((u, t, vv), i) =>
        (u, i.toLong, t, vv) }, nBatches, seed)
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(6),
      Prop.forAll(genCase) { case (evs, nBatches, seed) =>
        evs.isEmpty || {
          // expected: per-key split fold (the spec's own pinned kernel)
          val want = evs.groupBy(_._1).flatMap { case (u, rows) =>
            val buf = rows.map(r => SessionEvent(r._3, r._2, r._4))
              .sortBy(e => (e.ts_ms, e.event_id))
            StreamingSessions.split(buf, GapMs).map { s =>
              val vs = s.flatMap(_.value)
              ClosedSession(u, s.head.ts_ms, s.last.ts_ms, s.size.toLong,
                if (vs.isEmpty) None else Some(vs.sum))
            }
          }.toSet
          // actual: a real streaming query over a random chop + shuffle;
          // full-span watermark delay => no admissible-lateness drops
          val rnd = new scala.util.Random(seed)
          val shuffled = rnd.shuffle(evs)
          val name = s"sess_model_${math.abs(seed)}"
          val source =
            MemoryStream[(Option[Long], Long, Timestamp, Option[Double])]
          val q = StreamingSessions.sessionize(
              source.toDF().toDF("user_id", "event_id", "ts", "value"),
              GapMs, watermarkDelay = s"${40L * GapMs / 1000} seconds")
            .writeStream.format("memory").queryName(name).start()
          try {
            shuffled.grouped(math.max(1, shuffled.size / nBatches))
              .foreach { batch =>
                source.addData(batch.map(r =>
                  (r._1, r._2, new Timestamp(r._3), r._4)))
                q.processAllAvailable()
              }
            val maxTs = evs.map(_._3).max
            source.addData(row(SentinelUser, 0L, maxTs + 50 * GapMs, 0.0))
            q.processAllAvailable()
            source.addData(row(SentinelUser, 1L, maxTs + 51 * GapMs, 0.0))
            q.processAllAvailable()
          } finally q.stop()
          val got = spark.table(name).as[ClosedSession].collect()
            .filter(!_.user_id.contains(SentinelUser)).toSet
          spark.catalog.dropTempView(name)
          got == want
        }
      })
    assert(res.passed, res.status.toString)
  }

  test("streaming sessions == batch q39 on the driver's events table") {
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    // surface ts as a real ms-floored timestamp whatever the parquet
    // generation carries (ns longs under nanosAsLong, or us timestamps)
    val raw = spark.read.parquet(s"$sf/events.parquet")
    val ev = raw
      .select(col("user_id"), col("event_id"),
        timestamp_millis(Relational.eventTsMs(raw)).as("ts"), col("value"))
    val rows = ev.as[(Option[Long], Long, Timestamp, Option[Double])]
      .collect()
    val maxTs = rows.map(_._3.getTime).max

    val source = MemoryStream[(Option[Long], Long, Timestamp, Option[Double])]
    val q = StreamingSessions.sessionize(
        source.toDF().toDF("user_id", "event_id", "ts", "value"),
        GapMs, watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("sessions_stream").start()
    try {
      // two batches split at the median TIMESTAMP (a parity split would
      // strand half the events weeks behind the watermark), each batch
      // deterministically shuffled so arrival order ≠ event-time order;
      // sessions straddling the cut ride the state across the boundary
      val mid = rows.map(_._3.getTime).sorted.apply(rows.length / 2)
      val (a, b) = rows.partition(_._3.getTime < mid)
      val rnd = new scala.util.Random(7)
      source.addData(rnd.shuffle(a.toIndexedSeq)); q.processAllAvailable()
      source.addData(rnd.shuffle(b.toIndexedSeq)); q.processAllAvailable()
      // sentinel advances the watermark far past every end + gap; second
      // one triggers the pending event-time timeouts
      source.addData(row(SentinelUser, 0L, maxTs + 10 * GapMs, 0.0))
      q.processAllAvailable()
      source.addData(row(SentinelUser, 1L, maxTs + 11 * GapMs, 0.0))
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("sessions_stream").as[ClosedSession].collect()
      .filter(!_.user_id.contains(SentinelUser))
      .map(s => (s.user_id, s.session_start) -> s).toMap
    val batch = Relational.q39Sessionize(spark, sf)
      .select("user_id", "session_start", "session_end", "n_events",
        "sum_value")
      .as[(Option[Long], Long, Long, Long, Option[Double])].collect()
    assert(batch.nonEmpty && streamed.nonEmpty)
    assert(streamed.size == batch.length,
      s"session count: stream=${streamed.size} batch=${batch.length}")
    batch.foreach { case (u, start, end, n, sum) =>
      val s = streamed.getOrElse((u, start),
        fail(s"batch session ($u, $start) missing from stream"))
      assert(s.session_end == end && s.n_events == n)
      // the fold order is PINNED (r15): stream and batch sum the same
      // addends in the same (ts_ms, event_id) order from 0.0, and the
      // 2-decimal round is the bit-stable floor form (StableRound), so
      // after applying it to the stream's raw sum the values must be
      // IDENTICAL bits — not merely within a wobble tolerance
      (s.sum_value.map(round2), sum) match {
        case (None, None) =>
        case (Some(a), Some(b)) =>
          assert(a == b, s"sum mismatch for ($u, $start): $a vs $b")
        case (a, b) => fail(s"sum definedness mismatch ($u, $start): $a vs $b")
      }
    }
  }

  /** The production 2-decimal round, applied driver-side to the stream's
    * raw sum before comparing against batch. MUST stay the exact formula
    * [[graft.functions.StableRound]] uses (the first version of this
    * helper re-implemented it as `new java.math.BigDecimal(d)` — the
    * exact-binary-expansion constructor, a THIRD rounding semantics that
    * matches neither Spark's builtin nor the stable form at boundaries). */
  private def round2(d: Double): Double =
    graft.functions.StableRound.stableRoundScala(d, 2)

  test("session sum fold order is pinned: a fold-order-SENSITIVE fixture " +
    "(1.0 + 1e16 - 1e16, where any other fold order yields 1.0, not 0.0) " +
    "sums identically in batch and in a disordered stream") {
    implicit val sqlCtx = spark.sqlContext
    val base = 1000L * GapMs
    val rows = Seq(
      (Option(1L), 1L, new Timestamp(base), Option(1.0)),
      (Option(1L), 2L, new Timestamp(base + 1000), Option(1e16)),
      (Option(1L), 3L, new Timestamp(base + 2000), Option(-1e16)))
    // ts-order fold: (1.0 + 1e16) absorbs the 1.0, then -1e16 -> 0.0;
    // reversed (arrival) order would fold to 1.0 — a full unit apart, so
    // an engine that stops honoring the pinned order fails LOUDLY here,
    // not within an ulp of a rounding boundary
    val batch = Relational.sessionize(
      rows.toDF("user_id", "event_id", "ts", "value")
        .select(col("user_id"), col("event_id"),
          unix_millis(col("ts")).as("ts_ms"), col("value")),
      GapMs).select("sum_value").as[Option[Double]].collect().toSeq
    assert(batch == Seq(Some(0.0)),
      s"batch fold is not the pinned ts-order sequential fold: $batch")
    val source = MemoryStream[(Option[Long], Long, Timestamp, Option[Double])]
    val q = StreamingSessions.sessionize(
        source.toDF().toDF("user_id", "event_id", "ts", "value"),
        GapMs, watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("sessions_foldpin").start()
    try {
      source.addData(rows.reverse) // arrival order ≠ event-time order
      q.processAllAvailable()
      source.addData(row(SentinelUser, 0L, base + 100 * GapMs, 0.0))
      q.processAllAvailable()
      source.addData(row(SentinelUser, 1L, base + 101 * GapMs, 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("sessions_foldpin").as[ClosedSession].collect()
      .filter(!_.user_id.contains(SentinelUser)).toSeq
    assert(streamed.map(_.sum_value) == Seq(Some(0.0)),
      s"stream state buffer did not fold in pinned ts order: $streamed")
  }

  test("session state survives a checkpoint restart: an open session " +
    "extends across a stopped-and-restarted query") {
    val root = tmp("graft_sess_restart")
    val (srcDir, ckpt, outDir) = (s"$root/src", s"$root/ckpt", s"$root/out")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    val base = 1000L * GapMs
    def writeFile(name: String, rows: Seq[(Long, Long, Long, Double)]): Unit = {
      val f = java.nio.file.Paths.get(srcDir, name)
      val lines = rows.map { case (u, e, ts, v) =>
        s"""{"user_id":$u,"event_id":$e,"ts_ms":$ts,"value":$v}"""
      }
      java.nio.file.Files.write(f, String.join("\n", lines: _*).getBytes)
      ()
    }
    def startQuery() = StreamingSessions.sessionize(
        spark.readStream
          .schema("user_id LONG, event_id LONG, ts_ms LONG, value DOUBLE")
          .option("maxFilesPerTrigger", 1)
          .json(srcDir)
          .withColumn("ts", timestamp_millis(col("ts_ms"))),
        GapMs, watermarkDelay = "10 minutes")
      .toDF()
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckpt)
      .start()
    // first life: an OPEN session for user 1 (two events, half a gap apart)
    writeFile("f1.json",
      Seq((1L, 0L, base, 1.0), (1L, 1L, base + GapMs / 2, 1.0)))
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    // second life, SAME checkpoint: an extension of that session (within
    // gap of its last event), then two sentinel files to advance the
    // watermark and fire the timeout. Each file is consumed before the next
    // is written: FileStreamSource orders pending files by ms-granularity
    // mtime with NO path tie-break, so pre-writing all three could process
    // a sentinel first and drop the extension as late (flake)
    val q2 = startQuery()
    try {
      writeFile("f2.json", Seq((1L, 2L, base + GapMs, 1.0)))
      q2.processAllAvailable()
      writeFile("f3.json", Seq((SentinelUser, 0L, base + 20 * GapMs, 0.0)))
      q2.processAllAvailable()
      writeFile("f4.json", Seq((SentinelUser, 1L, base + 21 * GapMs, 0.0)))
      q2.processAllAvailable()
    } finally q2.stop()
    val out = spark.read.parquet(outDir).as[ClosedSession].collect()
      .filter(_.user_id.contains(1L))
    // state loss would surface as TWO sessions (or n_events < 3); the
    // restored open session must absorb the post-restart extension
    assert(out.toSeq == Seq(
      ClosedSession(Some(1L), base, base + GapMs, 3L, Some(3.0))),
      s"expected one continued session, got ${out.toSeq}")
  }

  test("NULL user_id and NULL value ride the stream exactly like batch " +
    "q39: a null user forms its own session group, null values vanish " +
    "from the sum, an all-null session sums to NULL") {
    implicit val sqlCtx = spark.sqlContext
    val base = 50L * GapMs
    val source = MemoryStream[(Option[Long], Long, Timestamp, Option[Double])]
    val q = StreamingSessions.sessionize(
        source.toDF().toDF("user_id", "event_id", "ts", "value"),
        GapMs, watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("null_stream").start()
    try {
      source.addData(
        (None, 0L, new Timestamp(base), Some(2.0)),
        (None, 1L, new Timestamp(base + 10), None), // sum ignores the null
        (Some(9L), 2L, new Timestamp(base), None))  // all-null session
      q.processAllAvailable()
      source.addData(row(SentinelUser, 0L, base + 20 * GapMs, 0.0))
      q.processAllAvailable()
      source.addData(row(SentinelUser, 1L, base + 21 * GapMs, 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("null_stream").as[ClosedSession].collect()
      .filter(!_.user_id.contains(SentinelUser)).sortBy(_.user_id)
    assert(out.toSeq == Seq(
      ClosedSession(None, base, base + 10, 2L, Some(2.0)),
      ClosedSession(Some(9L), base, base, 1L, None)),
      s"null semantics diverged: ${out.toSeq}")
  }

  test("a late-but-admissible event fuses two apparent sessions (emission " +
    "waits for the watermark, not the raw gap)") {
    implicit val sqlCtx = spark.sqlContext
    val base = 100L * GapMs
    val source = MemoryStream[(Option[Long], Long, Timestamp, Option[Double])]
    val q = StreamingSessions.sessionize(
        source.toDF().toDF("user_id", "event_id", "ts", "value"),
        GapMs, watermarkDelay = "2 hours")
      .writeStream.format("memory").queryName("fuse_stream").start()
    try {
      // two events 2 gaps apart — looks like two sessions...
      source.addData(row(7L, 0L, base, 1.0), row(7L, 2L, base + 2 * GapMs, 1.0))
      q.processAllAvailable()
      // ...until the bridge lands inside the gap, within the watermark
      source.addData(row(7L, 1L, base + GapMs, 1.0))
      q.processAllAvailable()
      source.addData(row(SentinelUser, 0L, base + 20 * GapMs, 0.0))
      q.processAllAvailable()
      source.addData(row(SentinelUser, 1L, base + 21 * GapMs, 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("fuse_stream").as[ClosedSession].collect()
      .filter(_.user_id.contains(7L))
    assert(out.toSeq == Seq(
      ClosedSession(Some(7L), base, base + 2 * GapMs, 3L, Some(3.0))),
      s"expected ONE fused session, got ${out.toSeq}")
  }
}
