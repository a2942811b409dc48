package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.Scratch
import graft.TripleStore
import graft.operators.Relational

/** The streaming gate entries: each exports a corpus table in a wire
  * format, replays it through an ACTUAL `readStream` query
  * (`maxFilesPerTrigger=1`, so every sink really runs micro-batch by
  * micro-batch) and returns the resulting store for the gate's hash
  * compare against a DuckDB oracle:
  *   - q70: exact-dedup store ([[StreamingDedup.mergeIntoDedupStore]]);
  *   - q74: gap sessionization ([[StreamingSessions.sessionize]]);
  *   - q79 and q83: one LWW replay ([[lwwReplay]]) into the partition-wise
  *     sink, across two query incarnations over one checkpoint;
  *   - q80: TTL state eviction ([[StreamingLww.winnersWithTtl]]).
  *
  * Each replay runs once per JVM and corpus ([[replayOnce]]); repeated
  * calls re-read its store only.
  */
object StreamingGate {

  /** Number of wire files the batch relation is split into = number of
    * micro-batches each replay runs (maxFilesPerTrigger = 1). */
  private val NumBatches = 4

  /** State-store/shuffle partition count for the GATE replays: every gate
    * corpus is ≤100k rows, but a stateful micro-batch pays a task +
    * state-store open/commit per shuffle partition per batch — at 32
    * session partitions × ~6 micro-batches × 5 streaming entries × 4
    * corpora, that fixed cost dominates a gate replay (q74+q80 ≈ 82 s).
    * Eight partitions keep the replay genuinely distributed (the batch-boundary
    * and late-data semantics the entries pin are partition-count-
    * independent — LWW/sessionize state is per-key, fold orders are
    * pinned within key) while cutting the fixed cost ~4×. Gate harness
    * choice only: the 100M rehearsals (SessionScaleBench) run the
    * session's full parallelism. */
  private val ReplayShufflePartitions = 8

  /** The shared once-per-JVM replay scaffold every gate row uses: stage a
    * scratch (in, store, ckpt) trio, run the export + streaming query to
    * completion, memoize the merged store path per (entry, sf dir) through
    * [[Scratch.once]] (concurrent first calls block on ONE replay). Only
    * the export and the sink vary between the entries; `run` receives the
    * REPLAY session and must plan every replay job on it.
    *
    * The replay session is a new session given a copy of the caller's
    * SQLConf (the default filesystem included, so the replay writes where
    * the caller reads) and the shuffle-partition clamp above, set on the
    * copy only, so a query planned concurrently on the caller's session
    * never sees it. The memoized store is plain parquet, read back on the
    * caller's session. */
  private def replayOnce(spark: SparkSession, dir: String, prefix: String)(
      run: (SparkSession, String, String, String) => Unit): String =
    Scratch.once((prefix, dir)) {
      val base = Scratch.path(spark, prefix)
      val storePath = s"$base/store"
      val rs = spark.newSession()
      spark.sessionState.conf.getAllConfs.foreach { case (k, v) =>
        rs.sessionState.conf.setConfString(k, v)
      }
      rs.conf.set("spark.sql.shuffle.partitions",
        ReplayShufflePartitions.toString)
      run(rs, s"$base/in", storePath, s"$base/ckpt")
      require(fsOf(rs, storePath).exists(new Path(storePath)),
        s"$prefix replay left no store")
      storePath
    }

  /** The Hadoop filesystem `path` resolves to in `spark`'s conf. */
  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  /** Q70: the exact-dedup pillar driven through an ACTUAL streaming query —
    * q83's replay pattern applied to [[StreamingDedup.mergeIntoDedupStore]]. The
    * documents table is exported as JSONL (doc_id, text), split into
    * [[NumBatches]] files, and replayed through `readStream`
    * (`maxFilesPerTrigger=1`, so the dedup-store merge really runs
    * incrementally); the final store is compared against q18's oracle —
    * valid for ANY chopping/arrival order because the store merge is
    * (min, sum): associative and commutative (StreamingDedupSpec pins the
    * equivalence in-process, including checkpoint-replay no-ops). */
  def q70StreamDedup(spark: SparkSession, dir: String): DataFrame = {
    val store = replayOnce(spark, dir, "graft_stream_dedup") {
      (rs, src, storePath, ckpt) =>
        TripleStore.table(rs, dir, "documents")
          .select("doc_id", "text")
          .repartition(NumBatches)
          .write.json(src)
        StreamingDedup.mergeIntoDedupStore(
            StreamingLww.jsonlSource(rs, src, "doc_id LONG, text STRING"),
            storePath, ckpt)
          .awaitTermination()
    }
    spark.read.schema(StreamingDedup.StoreSchema).parquet(store)
      .select("content_hash", "rep_doc_id", "n_copies")
      .orderBy("content_hash")
  }

  /** The LWW replay's shard cut points over the triple store's subject
    * domain (`<cust_…>` < `<nation_…>` < `<order_…>` in UTF-8 order):
    * customers and nations land in shards 0/1, which the remote changelog —
    * always `<order_…>` subjects ([[TripleStore.remoteChangelog]]) — can
    * NEVER touch, so the replay has shards that must come out
    * byte-identical. */
  private val PartBoundaries =
    Seq("<nation_", "<order_", "<order_3", "<order_6")

  /** The remote changelog's JSONL replay into
    * [[StreamingLww.mergeIntoStorePartitioned]], run once per JVM and
    * corpus for both q79 and q83. The seed is the local store, COMPACTED
    * (a materialized store holds at most one row per logical key, and the
    * sink never rewrites an untouched shard, so a duplicated seed key
    * would survive to the final read) and laid out shard-partitioned on
    * [[PartBoundaries]]. The wire export is staged outside the watched
    * source dir and released in two phases over ONE checkpoint: the first
    * query incarnation runs to termination (`Trigger.AvailableNow` stops
    * like a killed query: offsets committed, shards swapped, query object
    * gone), then the rest lands and a second incarnation starts from the
    * checkpoint. The merged relation equals q3's one-shot merge: the
    * comparator is associative and commutative (LwwSpec's CRDT laws, and
    * compacting a side first never changes a later merge's winner).
    *
    * Both entries' claims are asserted in the run, since the strict-`>`
    * merge is idempotent and the final hash alone cannot show them:
    *   - q79 (per-batch I/O pruned to the touched shards): the cust/nation
    *     shards' files are byte-untouched (name, size and md5 equal),
    *     while at least one order shard was rewritten;
    *   - q83 (restart resumes, never replays): each incarnation's
    *     `numInputRows` total equals EXACTLY its phase's wire line count
    *     (O13's recovery semantics: a recovered node is fed exactly the
    *     updates it missed, `MasterServer.py:186-205`). */
  private def lwwReplay(spark: SparkSession, dir: String): DataFrame = {
    val store = replayOnce(spark, dir, "graft_stream_lww") {
      (rs, src, storePath, ckpt) =>
        import rs.implicits._
        TripleStore.triples(rs, dir)
          .transform(graft.operators.Lww.compact)
          .withColumn("shard",
            graft.plans.RangeBucket.shardId(col("subject"), PartBoundaries))
          .write.partitionBy("shard").parquet(storePath)
        val fs = fsOf(rs, storePath)
        def listing(): Map[String, Set[(String, Long, String)]] = {
          def md5(f: Path): String = {
            val in = fs.open(f)
            try org.apache.commons.codec.digest.DigestUtils.md5Hex(in)
            finally in.close()
          }
          fs.listStatus(new Path(storePath)).filter(_.isDirectory)
            .map(_.getPath).filter(_.getName.startsWith("shard="))
            .map(d => d.getName -> fs.listStatus(d)
              .map(f => (f.getPath.getName, f.getLen, md5(f.getPath))).toSet)
            .toMap
        }
        val before = listing()
        // the staging dir sits under the same replay base, so it is
        // released with it
        val stage = s"$src.stage"
        TripleStore.writeJsonl(
          TripleStore.remoteChangelog(rs, dir).repartition(NumBatches),
          stage)
        val parts = fs.listStatus(new Path(stage)).map(_.getPath)
          .filter(_.getName.startsWith("part-")).sortBy(_.getName).toSeq
        require(parts.length >= 2,
          s"LWW replay needs >= 2 wire files to split, got ${parts.length}")
        fs.mkdirs(new Path(src))
        def release(files: Seq[Path]): Long = files.map { f =>
          val dst = new Path(src, f.getName)
          require(fs.rename(f, dst), s"LWW replay could not release $f")
          val s = scala.io.Source.fromInputStream(fs.open(dst), "UTF-8")
          try s.getLines().count(_.nonEmpty).toLong finally s.close()
        }.sum
        def runIncarnation(files: Seq[Path], label: String): Unit = {
          val expectRows = release(files)
          require(expectRows > 0, s"q83 $label phase carried no rows")
          val q = StreamingLww.mergeIntoStorePartitioned(
            StreamingLww.jsonlSource(rs, src, StreamingLww.TripleSchema)
              .as[graft.Triple],
            storePath, ckpt, PartBoundaries, Trigger.AvailableNow())
          q.awaitTermination()
          val got = q.recentProgress.toSeq.map(_.numInputRows).sum
          require(got == expectRows,
            s"q83 $label incarnation processed $got input rows, expected " +
              s"exactly $expectRows — the checkpoint did not scope it to " +
              "its own phase of the wire")
        }
        val (phase1, phase2) = parts.splitAt(parts.length / 2)
        runIncarnation(phase1, "first")
        runIncarnation(phase2, "second (restarted)")
        val after = listing()
        val untouched = before.keySet.filter(k => after.get(k) == before.get(k))
        require((after.keySet -- untouched).nonEmpty,
          "q79 replay rewrote no shard — the merge never ran")
        require(untouched.nonEmpty,
          "q79 replay rewrote EVERY shard — per-batch I/O was not pruned " +
            s"to the touched shards (before=${before.keySet.toSeq.sorted})")
    }
    spark.read.parquet(store)
      .select("subject", "predicate", "object", "ts_ms")
      .orderBy("subject", "predicate")
  }

  /** Q79: the partition-wise streaming sink in the gate, through
    * [[lwwReplay]]; same relation and oracle as q3 (the store layout is
    * physical, not semantic). */
  def q79StreamMergePart(spark: SparkSession, dir: String): DataFrame =
    lwwReplay(spark, dir)

  /** Q83: streaming checkpoint-RESTART recovery in the gate, through
    * [[lwwReplay]]'s two query incarnations over one checkpoint; same
    * relation and oracle as q3. */
  def q83StreamRestart(spark: SparkSession, dir: String): DataFrame =
    lwwReplay(spark, dir)

  /** q80's watermark-driver sentinel key: a subject outside every corpus
    * domain (derived subjects are `<order_…>`), filtered from the result.
    * Its two far-future rows advance the watermark past every real key's
    * TTL timeout (first sentinel batch) and then give the engine a batch
    * in which the resulting evictions fire (second) — SessionReplay's
    * two-sentinel handshake applied to the LWW TTL operator. */
  private[streaming] val TtlSentinelSubject = "<__wm_sentinel__>"

  /** Q80: TTL state eviction ([[StreamingLww.winnersWithTtl]]) through an
    * ACTUAL streaming query — the last streaming capability whose
    * distributed execution was spec-only. The changelog (updates ∪ remote)
    * is split into four time-range JSONL files (mtime-pinned, q74's
    * replay protocol), with a deterministic subset of keys HELD BACK two
    * batches so the replay exercises late-but-admissible arrivals AND
    * behind-watermark drops (the upper/lower half of each slice land on
    * opposite sides of the next batch's watermark by construction); the
    * emitted winner log — one row per (key, batch with admitted data),
    * tagged with its micro-batch id — is the gate relation.
    *
    * ORACLE VALIDITY (why TTL eviction is hash-invisible and the oracle
    * is the plain cumulative argmax): eviction requires
    * `winner_ts + ttl < watermark`, and any subsequently ADMITTED row
    * carries `ts ≥ watermark`, so a re-hydrated winner is strictly newer
    * than everything the evicted state held — the per-batch emission for
    * a key is ALWAYS the (ts_ms, object-UTF-8) argmax over all its
    * admitted rows so far, evicted or not (the winnersWithTtl scaladoc
    * law, here load-bearing for the oracle). The oracle therefore only
    * models Spark's ADMISSION semantics exactly: the watermark FILTERING
    * batch N is derived from the event-time maxima of batches ≤ N-2
    * minus the delay (the offset-log lag, MEASURED against this engine
    * and pinned by this very gate: batch N's filter uses the watermark
    * recorded at batch construction, one batch behind the stats fold —
    * the lag-1 model left 50 held-back rows admitted that it predicted
    * dropped), floored at the 0 initial watermark — which also drops the
    * adversarial corpus's negative pre-1970 timestamps, as Spark does;
    * rows strictly older than the watermark drop. Because of that
    * two-batch lag the held-back subset is shifted TWO batches (a
    * one-batch shift can never land behind the watermark), which puts
    * each held slice's lower range behind the filter and its upper range
    * inside it — both the late-drop and late-admissible paths execute.
    * The delay is pinned ≡ 500 (mod 1000) while every corpus timestamp
    * is ≡ 0 (mod 1000), so a row can never tie the watermark and the
    * kept-iff-not-strictly-older boundary cannot flip the hash.
    * Eviction itself is asserted IN the gate run from the state-store
    * metrics: peak state > 1 key, total `numRowsRemoved` > 0, and the
    * final batches leave exactly the one sentinel key. */
  def q80StreamTtl(spark: SparkSession, dir: String): DataFrame = {
    val store = replayOnce(spark, dir, "graft_stream_ttl") {
      (rs, src, storePath, ckpt) =>
        import rs.implicits._
        // gate-scale export (q74's documented driver-built pattern): the
        // changelog rows, batched by event-time slice + held-back rule
        val rows = TripleStore.updates(rs, dir)
          .unionByName(TripleStore.remoteChangelog(rs, dir))
          .as[graft.Triple].collect().toSeq
        val mn = rows.map(_.ts_ms).min
        val span = rows.map(_.ts_ms).max - mn + 1
        val d = span / 32 - (span / 32 % 1000) + 500
        val ttl = span / 4
        // n mod 5 depends only on n's last decimal digit (10 ≡ 0 mod 5),
        // so the rule reads ONE character of the first digit run: no
        // numeric parse to overflow past int64 in either engine, and a
        // digitless subject defaults to 0 here exactly as the oracle's
        // COALESCE(TRY_CAST(...), 0) does.
        def digitsMod5(s: String): Long =
          "[0-9]+".r.findFirstIn(s).map(r => (r.last - '0').toLong % 5)
            .getOrElse(0L)
        def batchOf(t: graft.Triple): Long = {
          val s = math.min(3L, (t.ts_ms - mn) * 4 / span)
          if (digitsMod5(t.subject) == 0 && s < 2) s + 2 else s
        }
        def js(s: String): String = "\"" + s.flatMap {
          case '"'  => "\\\""
          case '\\' => "\\\\"
          case c if c < ' ' => f"\\u${c.toInt}%04x"
          case c => c.toString
        } + "\""
        def line(t: graft.Triple): String =
          s"""{"subject":${js(t.subject)},"predicate":${js(t.predicate)},""" +
            s""""object":${js(t.`object`)},"ts_ms":${t.ts_ms}}"""
        val placer = new SessionReplay.Placer(rs, src)
        (0L to 3L).foreach { i =>
          placer.placeLines(f"part$i%02d.json",
            rows.filter(batchOf(_) == i).map(line))
        }
        val sent0 = rows.map(_.ts_ms).max + ttl + d + span
        placer.placeLines("sentinel0.json", Seq(line(
          graft.Triple(TtlSentinelSubject, "<p>", "s0", sent0))))
        placer.placeLines("sentinel1.json", Seq(line(
          graft.Triple(TtlSentinelSubject, "<p>", "s1", sent0 + span))))
        // ONE store write (q74's fewer-jobs discipline applied to the
        // SINK): a parquet commit per micro-batch would run 7 write jobs
        // of KB-scale output, the committer a fixed share of each
        // ~0.5–0.9 s addBatch. Batches collect into a driver buffer
        // (gate-scale, bounded — the documented harness-collect class)
        // tagged with their batch id; the store is written once after
        // termination, with the same per-batch emission content.
        val buf =
          new java.util.concurrent.ConcurrentLinkedQueue[(Long, graft.Triple)]()
        val q = StreamingLww.winnersWithTtl(
            StreamingLww.jsonlSource(rs, src, StreamingLww.TripleSchema)
              .as[graft.Triple],
            s"$d milliseconds", ttl)
          .writeStream
          .outputMode("update")
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", ckpt)
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[graft.Triple],
              id: Long) =>
            batch.collect().foreach(t => buf.add((id, t)))
            ()
          }
          .start()
        q.awaitTermination()
        import scala.jdk.CollectionConverters._
        buf.asScala.toSeq
          .map { case (id, t) =>
            (id, t.subject, t.predicate, t.`object`, t.ts_ms) }
          .toDF("batch_id", "subject", "predicate", "object", "ts_ms")
          .write.parquet(storePath)
        // the eviction claim, asserted from the run's own state metrics
        val states = q.recentProgress.toSeq.flatMap(_.stateOperators.headOption)
        require(states.nonEmpty, "q80 replay reported no state metrics")
        require(states.map(_.numRowsTotal).max > 1,
          "q80 replay never built multi-key state")
        require(states.map(_.numRowsRemoved).sum > 0,
          "q80 replay evicted nothing — the TTL path did not execute")
        require(states.last.numRowsTotal == 1,
          s"final state should hold exactly the sentinel key, got " +
            s"${states.last.numRowsTotal} — eviction incomplete")
    }
    spark.read.parquet(store)
      .filter(col("subject") =!= TtlSentinelSubject)
      .select(col("batch_id"), col("subject"), col("predicate"),
        col("object"), col("ts_ms"))
      .orderBy("batch_id", "subject", "predicate")
  }

  /** DuckDB oracle for q80: the batching/admission model stated in SQL —
    * slice + held-back-two batch assignment, per-batch prefix-max
    * watermark with the MEASURED two-batch offset-log lag
    * (`bmax.batch < bi - 1`: batch N filters with stats through N-2),
    * 0-floored, strict-older drop, then the cumulative (ts, object)
    * argmax per (key, batch-with-admitted-data). Integer arithmetic uses
    * `//` (DuckDB's `/` on BIGINT returns DOUBLE). */
  val q80Sql: String =
    s"""WITH ${TripleStore.UpdatesCte}, ${TripleStore.RemoteCte},
       |src AS (SELECT subject, predicate, object, ts_ms FROM updates
       |        UNION ALL SELECT subject, predicate, object, ts_ms FROM remote),
       |conf AS (
       |  SELECT mn, span, (span // 32) - ((span // 32) % 1000) + 500 AS d
       |  FROM (SELECT min(ts_ms) AS mn, max(ts_ms) - min(ts_ms) + 1 AS span
       |        FROM src)),
       |b AS (
       |  SELECT *, CASE WHEN COALESCE(TRY_CAST(
       |                         right(regexp_extract(subject, '([0-9]+)', 1),
       |                               1) AS BIGINT), 0) % 5 = 0 AND slice < 2
       |                 THEN slice + 2 ELSE slice END AS batch
       |  FROM (SELECT s.*, LEAST(3, (s.ts_ms - c.mn) * 4 // c.span) AS slice
       |        FROM src s, conf c)),
       |bmax AS (SELECT batch, max(ts_ms) AS bm FROM b GROUP BY 1),
       |wm AS (
       |  SELECT t.bi AS batch,
       |         COALESCE(GREATEST(0,
       |           (SELECT max(bm) FROM bmax WHERE bmax.batch < t.bi - 1)
       |             - (SELECT d FROM conf)), 0) AS w
       |  FROM (VALUES (0), (1), (2), (3)) t(bi)),
       |adm AS (SELECT b.* FROM b JOIN wm USING (batch)
       |        WHERE NOT (b.ts_ms < wm.w)),
       |kb AS (SELECT DISTINCT subject, predicate, batch FROM adm),
       |cum AS (
       |  SELECT k.batch, k.subject, k.predicate, a.object, a.ts_ms,
       |         row_number() OVER (PARTITION BY k.subject, k.predicate, k.batch
       |                            ORDER BY a.ts_ms DESC, a.object DESC) AS rn
       |  FROM kb k JOIN adm a ON a.subject = k.subject
       |                      AND a.predicate = k.predicate
       |                      AND a.batch <= k.batch)
       |SELECT CAST(batch AS BIGINT) AS batch_id, subject, predicate, object,
       |       ts_ms
       |FROM cum WHERE rn = 1
       |ORDER BY batch_id, subject, predicate""".stripMargin

  private val SentinelUser = SessionReplay.SentinelUser

  /** Q74: gap-sessionization driven through an ACTUAL streaming query — the
    * q70/q83 replay pattern applied to
    * [[StreamingSessions.sessionize]], oracled by batch q39's SQL (valid
    * because once the watermark passes a session's `end + gap` its emission
    * is final and deterministic, so the complete closed-session table ≡ the
    * batch sessionization; StreamingSessionsSpec pins the equivalence
    * in-process, including mid-session batch boundaries and late-event
    * fusing).
    *
    * The events table is exported as [[NumBatches]] JSONL files split BY
    * TIME RANGE and replayed in event-time order (file mtimes pinned
    * ascending — FileStreamSource orders pending files by mtime), so each
    * micro-batch genuinely advances the watermark and sessions close
    * incrementally across batches instead of all at once at the sentinel:
    * the state the store carries between batches is the not-yet-closable
    * tail, exactly the 100 TB operating shape. Within a file, arrival
    * order is whatever the export wrote — disorder the buffer absorbs.
    *
    * The streamed [[ClosedSession]] identity is `(user_id, session_start)`;
    * the batch twin's ordinal `session_id` is re-derived afterwards as a
    * per-user `row_number` over `session_start` (sessions of one user are
    * disjoint intervals, so the order is total and the mapping exact). */
  def q74StreamSessions(spark: SparkSession, dir: String): DataFrame = {
    val store = replayOnce(spark, dir, "graft_stream_sessions") {
      (rs, src, storePath, ckpt) =>
        import rs.implicits._
        val gap = Relational.SessionGapMs
        val raw = TripleStore.table(rs, dir, "events")
        val ev = raw.select(col("user_id"), col("event_id"),
          Relational.eventTsMs(raw).as("ts_ms"), col("value"))
        // ONE export job, sliced driver-side: per-slice collects plus a
        // min/max agg would run five Spark jobs over the same gate-scale
        // table (~7 s of a ~16 s replay).
        // ts decodes as Option: the generator contract is
        // "no NULL event ts", but a violating corpus must surface as this
        // named error, not as an opaque encoder NPE from a non-optional
        // Long field
        val all = ev.as[(Option[Long], Long, Option[Long], Option[Double])]
          .collect()
          .map { case (u, e, ts, v) =>
            require(ts.isDefined, s"q74 replay: NULL ts_ms in events " +
              s"(event_id=$e) — the corpus violates the no-NULL-ts contract")
            (u, e, ts.get, v)
          }
        val loTs = all.iterator.map(_._3).min
        val hiTs = all.iterator.map(_._3).max
        val span = hiTs - loTs + 1
        val placer = new SessionReplay.Placer(rs, src)
        (0 until NumBatches).foreach { i =>
          val (lo, hi) = (loTs + span * i / NumBatches,
            loTs + span * (i + 1) / NumBatches)
          // one driver-built JSONL file per time slice; the slices are small
          // by construction (a gate replay, not the store) and the file
          // boundary IS the micro-batch boundary under maxFilesPerTrigger=1.
          // user_id/value serialize as JSON null when absent (batch q39
          // keeps both: NULL users group, NULL values vanish from sum);
          // NaN/Infinity ride as bare tokens (Spark's JSON reader accepts
          // them by default — allowNonNumericNumbers)
          placer.placeLines(f"part$i%02d.json",
            all.iterator.filter(r => r._3 >= lo && r._3 < hi)
              .map { case (u, e, ts, v) =>
                s"""{"user_id":${u.map(_.toString).getOrElse("null")},""" +
                  s""""event_id":$e,"ts_ms":$ts,""" +
                  s""""value":${v.map(_.toString).getOrElse("null")}}"""
              }.toSeq)
        }
        SessionReplay.placeSentinels(placer, hiTs, gap)
        SessionReplay.run(rs, src, gap, watermarkDelay = "10 minutes",
          storePath, ckpt)
    }
    val w = Window.partitionBy("user_id").orderBy("session_start")
    spark.read.parquet(store)
      // null-SAFE inequality: a NULL-user session is a real q39 group and
      // `=!=` would silently drop it (NULL comparison → filtered)
      .filter(!(col("user_id") <=> lit(SentinelUser)))
      .withColumn("session_id", row_number().over(w).cast("long"))
      .select(col("user_id"), col("session_id"), col("session_start"),
        col("session_end"), col("n_events"),
        // the session-sum fold order is PINNED across all three engines:
        // stream state buffer,
        // batch kernel and DuckDB oracle each fold the non-null values
        // sequentially in (ts_ms, event_id) order from 0.0, so the
        // pre-round value is the same BITS everywhere. The round itself
        // must then be bit-stable too — the builtin round(x, 2) diverges
        // between engines at .xx5 shortest-repr boundaries (StableRound's
        // scaladoc) — so all three apply the same floor-form round
        // (StreamingSessionsSpec asserts bit-exactness on a fixture whose
        // fold orders genuinely differ).
        graft.functions.StableRound.stableRound(col("sum_value"), 2)
          .as("sum_value"))
      .orderBy("user_id", "session_id")
  }
}
