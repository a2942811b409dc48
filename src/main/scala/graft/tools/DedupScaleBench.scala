package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{LocalSession, Scratch}
import graft.obs.Work
import graft.operators.BloomIndex

/** Incremental-dedup shapes at the reference's row count (VERDICT r12 #4):
  * the r11 20×-corpus stress covered the near-dup chain (q19→q60); this
  * one-off main extends the same discipline to the INCREMENTAL shapes —
  * q52's anti-join and q61's bloom route — at a 10M-hash corpus with a
  * 100k batch, i.e. the daily-crawl cardinality where the corpus can no
  * longer broadcast and the two plans genuinely diverge:
  *
  *   - q52 shape (anti-join): both sides hash-partition on content_hash —
  *     the corpus's hash column crosses the exchange (~64 B/row → ~GB at
  *     10M rows). Correct, spill-safe, but the corpus pays per batch.
  *   - q61 shape (bloom route): corpus touched by map-side scans only; the
  *     only corpus-derived exchange is the bloom merge (KBs). The claim
  *     under test is exactly that — at REAL cardinality the corpus-side
  *     shuffle disappears and the exchange volume is batch-bounded.
  *
  * The kernels mirror graft.operators.Docs.q52IncrementalDedup /
  * q61BloomDedup with the bloom sized to corpus cardinality (the gate
  * sizes it to the documents table); synthetic hashes, deterministic split:
  * 10% of the batch duplicates corpus rows, 1% duplicates within-batch.
  * Both plans must agree exactly (count + order-independent checksum)
  * before any number is reported. Prints one JSON line per plan with wall
  * seconds and shuffle/broadcast volumes from task metrics, then a summary.
  *
  * Usage: sbt "runMain graft.tools.DedupScaleBench
  *        [corpusRows] [batchRows] [nShards] [hashChars] [steadyAppends]"
  * `steadyAppends` > 0 adds the steady-state rung (r20): that many crawl
  * generations through the real admit→append cycle on the sharded index,
  * then GC/telemetry/digest checks on the final admit.
  */
object DedupScaleBench {

  def main(args: Array[String]): Unit = {
    val corpusRows = if (args.length > 0) args(0).toLong else 10000000L
    val batchRows = if (args.length > 1) args(1).toLong else 100000L
    // args(3) (r19, the 1B rung): content-hash WIDTH in hex chars. 64
    // (full sha2 — the default, byte-identical to every earlier rung) at
    // <=100M rows; 32 (128-bit keys, the MD5/fingerprint regime) at 1B,
    // where full-width hex keys alone are ~43 GB of parquet and the
    // anti-join's corpus shuffle another ~40 GB — past the sandbox disk.
    // The claim under test (per-shard blob bytes, fetch counts) is
    // key-width-INDEPENDENT: the bloom hashes xxhash64(key) whatever the
    // key's width; only the anti-join comparison plan pays for wide keys,
    // which is exactly the contrast the bench exists to show.
    val hashChars = if (args.length > 3) args(3).toInt else 64
    val spark = LocalSession.create()

    // deterministic synthetic hashes; materialized to parquet so both
    // plans read identical bytes and the corpus is a SCAN, not a range.
    // Fixed paths, unlike the indexes below: reusing these fixtures across
    // runs is the point of the manifest
    val tmp = sys.props("java.io.tmpdir")
    val corpusPath = s"$tmp/graft_dedupscale_corpus"
    val batchPath = s"$tmp/graft_dedupscale_batch"
    // reuse a complete prior corpus of the same cardinality (the 1B
    // corpus is ~35 GB / ~10 min to regenerate; the generator is
    // deterministic so identical rows come back either way).
    // Reuse keys on an explicit MANIFEST, not inferred properties
    // (ADVICE r19): row count + first-row hash width would silently
    // accept a fixture written by an OLDER generator formula (or a
    // partial overwrite that happens to match) and skew the bench's
    // agreement/size measurements. The manifest stamps the generator
    // version and every parameter the rows are a function of, is written
    // AFTER the parquet commit, and must match EXACTLY — bump GenVersion
    // whenever a formula changes.
    val GenVersion = "dedupscale-gen-v2-r19"
    def manifestOf(kind: String, rows: Long): String =
      s"$GenVersion kind=$kind rows=$rows hashChars=$hashChars " +
        s"corpusRows=$corpusRows"
    def manifestPath(dir: String) =
      java.nio.file.Paths.get(dir, "_graft_manifest")
    // the manifest SUPPLEMENTS the data check, it does not replace it
    // (r20 review): a tmp cleaner can prune individual old part files
    // while the small manifest survives — reuse requires the manifest to
    // match AND the parquet to still hold the declared row count
    def manifestOk(dir: String, want: String, rows: Long): Boolean =
      try {
        new String(java.nio.file.Files.readAllBytes(manifestPath(dir)),
          java.nio.charset.StandardCharsets.UTF_8) == want &&
          spark.read.parquet(dir).count() == rows
      } catch { case _: Throwable => false }
    def stamp(dir: String, m: String): Unit = {
      java.nio.file.Files.write(manifestPath(dir),
        m.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      ()
    }
    val corpusManifest = manifestOf("corpus", corpusRows)
    if (!manifestOk(corpusPath, corpusManifest, corpusRows)) {
      spark.range(corpusRows)
        .select(col("id").as("doc_id"),
          substring(sha2(concat(lit("corpus_"), col("id")), 256), 1, hashChars)
            .as("content_hash"))
        .write.mode("overwrite").parquet(corpusPath)
      stamp(corpusPath, corpusManifest)
    }
    // batch ids continue past the corpus; hash domain: 10% corpus dups
    // (id % 10 == 0 reuses a corpus hash), 1% within-batch dups (id % 100
    // == 1 collapses to a shared new hash), the rest genuinely new.
    // the batch's ids AND its corpus-dup hashes are functions of
    // corpusRows, which the manifest carries for both fixtures.
    val batchManifest = manifestOf("batch", batchRows)
    if (!manifestOk(batchPath, batchManifest, batchRows)) {
      spark.range(batchRows)
        .select((col("id") + corpusRows).as("doc_id"),
          substring(
            when(col("id") % 10 === 0,
              sha2(concat(lit("corpus_"), col("id") % corpusRows), 256))
              .when(col("id") % 100 === 1,
                sha2(concat(lit("batchdup_"), col("id") % 7), 256))
              .otherwise(sha2(concat(lit("batch_"), col("id")), 256)),
            1, hashChars).as("content_hash"))
        .write.mode("overwrite").parquet(batchPath)
      stamp(batchPath, batchManifest)
    }
    val corpus = spark.read.parquet(corpusPath)
    val batch = spark.read.parquet(batchPath)

    def admit(plan: DataFrame): DataFrame = plan
      .groupBy("content_hash")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_in_batch"))
      .select("doc_id", "content_hash", "n_in_batch")

    // q52 shape: shuffled anti-join (corpus far over any broadcast bound)
    def antiJoinPlan(): DataFrame =
      admit(batch.join(corpus, Seq("content_hash"), "left_anti"))

    // q61 shape, bloom sized to corpusRows (~10 bits/key, fp ~1%).
    // buildParts caps the bloom build's map-side parallelism (coalesce, no
    // shuffle): the partial-bloom merge ships buildParts × numBits/8 bytes,
    // so fewer build partitions trade scan parallelism for exchange volume
    // — the tradeoff this bench exists to measure.
    def bloomPlan(buildParts: Option[Int]): DataFrame = {
      val buildSide = buildParts.map(corpus.coalesce).getOrElse(corpus)
      val bloom = buildSide
        .select(call_function("bloom_build", xxhash64(col("content_hash")),
          lit(corpusRows), lit(corpusRows * 10)).as("bf"))
        .scalar()
      val probed = batch.withColumn("maybe_dup",
        coalesce(call_function("bloom_might_contain", bloom,
          xxhash64(col("content_hash"))), lit(false)))
      val clean = probed.filter(!col("maybe_dup")).drop("maybe_dup")
      val pos = probed.filter(col("maybe_dup")).drop("maybe_dup")
      val hits = corpus
        .join(broadcast(pos.select("content_hash").distinct()),
          Seq("content_hash"), "left_semi")
        .select("content_hash").distinct()
      admit(clean.unionByName(
        pos.join(broadcast(hits), Seq("content_hash"), "left_anti")))
    }

    def run(name: String, mk: () => DataFrame): (Long, Long) = {
      // at the 1B rung consecutive plans' shuffle files must not
      // coexist on disk (the corpus alone is tens of GB; Spark frees
      // shuffle files via the GC-driven ContextCleaner, so an explicit
      // collection between plans is what makes the peak usage one
      // plan's, not the sum's). The sleep gives the cleaner's thread time
      // to delete the files; it waits on no listener event.
      System.gc()
      Thread.sleep(1500)
      val ((d, secs), work) =
        Work.of(spark)(Harness.timed(Harness.digest(mk())))
      Harness.emit("plan" -> name, "secs" -> secs,
        "shuffle_bytes" -> work.shuffleBytes,
        "shuffle_records" -> work.shuffleRecords,
        "admitted" -> d._1, "digest" -> d._2)
      d
    }

    Harness.emit("dedup_scale" -> "start", "corpus_rows" -> corpusRows,
      "batch_rows" -> batchRows)
    val dAnti = run("q52_anti_join", () => antiJoinPlan())
    // SINGLE-BLOB plans retire past ~256 MB of filter (r19, the 1B rung):
    // a one-filter bloom_build holds the WHOLE numBits/8 bytes in every
    // partial-aggregation task buffer and ships one such partial per map
    // task into the merge — ~40 GB of heap and ~250 GB of exchange at
    // 1B keys / 10 bits. That retirement IS the r16 finding this bench
    // measured (the sharded index exists because of it); at the 1B rung
    // the single-blob shapes are skipped loudly instead of OOMing, and
    // the agreement gate runs over the plans that ran.
    val singleBlobOk = corpusRows * 10 / 8 <= (256L << 20)
    val inlineDigests = if (singleBlobOk) {
      val dBloom = run("q61_bloom_route", () => bloomPlan(None))
      val dBloom4 = run("q61_bloom_build4", () => bloomPlan(Some(4)))
      Seq(dBloom, dBloom4)
    } else {
      Seq("q61_bloom_route", "q61_bloom_build4").foreach(p => Harness.emit(
        "plan" -> p, "skipped" -> "single-blob filter > 256 MB — the r16-retired shape"))
      Seq.empty
    }
    // q76 shape: the bloom as STORED state — build once OUTSIDE the timed
    // admit (the amortized steady-state), admit probes the artifact. The
    // gate geometry is corpus-sized here: ~10 bits/key like the inline
    // variants, so the routing fp rate is comparable.
    val storedDigests = if (singleBlobOk) {
      val idxPath = Scratch.path(spark, "graft_dedupscale_index")
      val (_, tBuildIdx) = Harness.timed(BloomIndex.buildSized(
        corpus.select("content_hash"), idxPath, corpusRows, corpusRows * 10))
      Harness.emit("plan" -> "q76_index_build_once", "secs" -> tBuildIdx)
      Seq(run("q76_stored_bloom_admit", () =>
        BloomIndex.admit(spark, idxPath, batch, corpus)
          .select("doc_id", "content_hash", "n_in_batch")))
    } else {
      Harness.emit("plan" -> "q76_stored_bloom_admit",
        "skipped" -> "single-blob filter > 256 MB — N-sharded is the scale path")
      Seq.empty
    }
    // r16 SHARDED mode: the same admit relation through an N-way index
    // (byte-equality of results enforced below with every other plan), and
    // the 1T-survival claim measured: per-shard blob size must stay FLAT
    // when corpus and shard count scale TOGETHER (quarter corpus at N/4
    // shards ≈ full corpus at N shards) — the driver-side single-blob OR
    // this mode retires grew linearly instead.
    val nShards = if (args.length > 2) args(2).toLong else 8L
    val shardedPath = Scratch.path(spark, "graft_dedupscale_index_sh")
    val (_, tSh) = Harness.timed(BloomIndex.buildSized(
      corpus.select("content_hash"), shardedPath, corpusRows, corpusRows * 10,
      nShards))
    Harness.emit("plan" -> "q76_sharded_build_once", "n_shards" -> nShards,
      "secs" -> tSh)
    // per-task blob residency + fetch telemetry (r19, VERDICT #6): local
    // mode shares one JVM, so the cache counters see every task. The
    // admit's fetch count must stay <= probe tasks x shards (each task
    // pays each probed shard once; the cache dedups within-task reuse),
    // and resident bytes must hold at most one generation of blobs.
    BloomIndex.ShardBlobCache.clear()
    val loads0 = BloomIndex.ShardBlobCache.loads.get()
    val dSharded = run(s"q76_sharded_admit_n$nShards", () =>
      BloomIndex.admit(spark, shardedPath, batch, corpus)
        .select("doc_id", "content_hash", "n_in_batch"))
    def cacheTelemetry(plan: String, loadsBefore: Long): Unit = Harness.emit(
      "plan" -> plan, "n_shards" -> nShards,
      "fetches" -> (BloomIndex.ShardBlobCache.loads.get() - loadsBefore),
      "entries" -> BloomIndex.ShardBlobCache.entryCount(),
      "resident_bytes" -> BloomIndex.ShardBlobCache.residentBytes())
    cacheTelemetry("shard_cache_telemetry", loads0)
    // reads the LATEST version dir (a rebuild into a reused root now
    // lands in the next free slot, not a fixed v0)
    def maxBlobBytes(path: String): Long = {
      val v = new java.io.File(path).listFiles()
        .map(_.getName).filter(_.matches("v\\d+")).map(_.drop(1).toLong).max
      spark.read.parquet(s"$path/v$v")
        .agg(max(length(col("bloom"))).cast("long")).head().getLong(0)
    }
    // the smaller build keeps corpus/shard PROPORTIONS exact for any
    // nShards (a floor-divided shard count with an unadjusted corpus
    // would make per-shard geometry differ BY DESIGN — e.g. nShards=6:
    // full 10/6 bits/shard vs quarter 10/1)
    val qShards = math.max(1L, nShards / 4)
    val qRows = corpusRows * qShards / nShards
    val quarterPath = Scratch.path(spark, "graft_dedupscale_index_shq")
    BloomIndex.buildSized(
      corpus.filter(col("doc_id") < qRows).select("content_hash"),
      quarterPath, qRows, qRows * 10, qShards)
    val (bFull, bQuarter) = (maxBlobBytes(shardedPath), maxBlobBytes(quarterPath))
    // INFORMATIONAL (r17, ADVICE): a serialized bloom's size is a pure
    // function of its (expected, numBits) parameters — BloomIndexSpec
    // asserts the formula — so equality here restates the chosen
    // geometry, it cannot detect a data-dependent regression. Reported
    // because the absolute per-shard byte size IS the 1T story (what one
    // append task holds), not as a pass/fail signal.
    Harness.emit("plan" -> "shard_blob_bytes", "informational" -> true,
      "n_shards" -> nShards, "small_rows" -> qRows, "small_shards" -> qShards,
      "per_shard_bytes_full" -> bFull, "per_shard_bytes_quarter" -> bQuarter)
    // the DATA-DEPENDENT shard-health claim: xxhash64-pmod routing spreads
    // real keys evenly, so per-shard key counts must be tight around the
    // mean (a skewed or broken shard function would concentrate keys —
    // and blob FILL, hence fp rate — in few shards). Only gated when the
    // per-shard expectation is large enough for the bound to be
    // statistically safe (>=100k keys/shard: 3 sigma is ~1%).
    val bal = spark.read.parquet(corpusPath)
      .groupBy(pmod(xxhash64(col("content_hash")), lit(nShards)).as("shard"))
      .agg(count(lit(1)).as("n"))
      .agg(max("n").cast("long"), min("n").cast("long"),
        avg("n").cast("double"))
      .head()
    val (balMax, balMin, balMean) =
      (bal.getLong(0), bal.getLong(1), bal.getDouble(2))
    val balGated = corpusRows / nShards >= 100000L
    val balanced = !balGated ||
      (balMax <= balMean * 1.2 && balMin >= balMean * 0.8)
    Harness.emit("plan" -> "shard_key_balance", "n_shards" -> nShards,
      "max_keys" -> balMax, "min_keys" -> balMin, "mean_keys" -> balMean.toLong,
      "gated" -> balGated, "balanced" -> balanced)
    // --- steady-state (multi-generation) mode: r20, VERDICT r19 #5 -------
    // The 1B rung measured a FRESH v0 index; a real daily-crawl index is
    // v0 + K appends with the 3-snapshot GC. This mode drives K crawl
    // generations through the REAL admit→append cycle on the sharded
    // index, then measures a final admit against the K-appended index:
    // bounded blob residency across generations, fetch counts, GC leaving
    // exactly 3 snapshots, and the final digest identical to the
    // anti-join over the GROWN corpus.
    val steadyK = if (args.length > 4) args(4).toInt else 0
    var steadyOk = true
    if (steadyK > 0) {
      // generation g's batch: 10% original-corpus dups, 1% within-batch
      // dups (7 shared new hashes), and for g >= 2 a 5% slice duplicating
      // generation g-1's admitted PLAIN-NEW hashes (id ≡ 2 mod 20
      // references g-1's id+1, which is ≡ 3 mod 20 — never a dup class
      // there, so it was genuinely admitted and appended): the rows only
      // the APPENDED generations can catch. The classes are disjoint
      // (2 mod 20 is even and never ≡ 1 mod 100).
      def genBatch(g: Int): DataFrame = spark.range(batchRows)
        .select((col("id") + corpusRows + g.toLong * batchRows).as("doc_id"),
          substring(
            when(col("id") % 10 === 0,
              sha2(concat(lit("corpus_"), col("id") % corpusRows), 256))
              .when(col("id") % 100 === 1,
                sha2(concat(lit(s"batchdup${g}_"), col("id") % 7), 256))
              .when(lit(g >= 2) && col("id") % 20 === 2,
                sha2(concat(lit(s"batch${g - 1}_"), col("id") + 1), 256))
              .otherwise(sha2(concat(lit(s"batch${g}_"), col("id")), 256)),
            1, hashChars).as("content_hash"))
      var corpusAll = corpus
      (1 to steadyK).foreach { g =>
        val b = Scratch.pin(genBatch(g))
        val (admitted, secs) = Harness.timed {
          val admitted = BloomIndex.admit(spark, shardedPath, b, corpusAll)
          BloomIndex.append(spark, shardedPath, admitted.select("content_hash"))
          admitted
        }
        Harness.emit("plan" -> s"steady_gen$g", "admitted" -> admitted.count(),
          "admit_append_secs" -> secs)
        corpusAll = corpusAll
          .unionByName(admitted.select("doc_id", "content_hash"))
      }
      // GC contract: exactly the latest three snapshots remain
      val versions = Option(new java.io.File(shardedPath).listFiles())
        .getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
        .map(_.getName.drop(1).toLong).sorted.toSeq
      val wantVersions = (steadyK - 2 to steadyK).map(_.toLong)
      val gcOk = steadyK < 2 || versions == wantVersions
      Harness.emit("plan" -> "steady_gc", "versions" -> versions, "ok" -> gcOk)
      // the steady-state admit: a FRESH generation against the K-appended
      // index, with cache telemetry, digest-checked against the anti-join
      // over the grown corpus
      val probeBatch = Scratch.pin(genBatch(steadyK + 1))
      BloomIndex.ShardBlobCache.clear()
      val loadsS0 = BloomIndex.ShardBlobCache.loads.get()
      val dSteady = run(s"steady_admit_after_$steadyK", () =>
        BloomIndex.admit(spark, shardedPath, probeBatch,
          corpusAll).select("doc_id", "content_hash", "n_in_batch"))
      cacheTelemetry("steady_cache_telemetry", loadsS0)
      val dSteadyTruth = run("steady_anti_join_truth", () =>
        admit(probeBatch.join(corpusAll, Seq("content_hash"), "left_anti")))
      // r22 CONTROL (VERDICT r21 #3 "bloom compaction"): the same probe
      // batch admitted against a COMPACTED index — a fresh rebuild over
      // the grown corpus at the identical geometry — isolates whatever an
      // appended lineage costs over a from-scratch artifact. Note the
      // append path already merges every generation into ONE new version
      // (probePlan reads only `latest()`; cache telemetry above shows one
      // fetch per shard), so the two indexes differ only in construction
      // history; this leg turns that argument into a number. The r20
      // "steady admit 21.98 s vs fresh 15.1 s" comparison this item grew
      // from compared DIFFERENT batches (the steady probe batch carries an
      // extra 5% prev-generation dup class, i.e. ~50% more bloom-positive
      // rows through the exact check) against DIFFERENT corpus frames
      // (grown union vs base parquet) — this control holds both fixed.
      val compactPath = Scratch.path(spark, "graft_dedupscale_index_compact")
      val (_, tC) = Harness.timed(BloomIndex.buildSized(
        corpusAll.select("content_hash"), compactPath,
        corpusRows, corpusRows * 10, nShards))
      Harness.emit("plan" -> "steady_compact_build_once", "secs" -> tC)
      BloomIndex.ShardBlobCache.clear()
      val dCompact = run("steady_admit_compacted", () =>
        BloomIndex.admit(spark, compactPath, probeBatch,
          corpusAll).select("doc_id", "content_hash", "n_in_batch"))
      steadyOk = gcOk && dSteady == dSteadyTruth && dCompact == dSteadyTruth
      Harness.emit("plan" -> "steady_done",
        "digests_agree" -> (dSteady == dSteadyTruth),
        "compact_digest_agrees" -> (dCompact == dSteadyTruth), "gc_ok" -> gcOk)
    }
    val agree =
      (inlineDigests ++ storedDigests :+ dSharded).forall(_ == dAnti)
    Harness.emit("dedup_scale" -> "done", "plans_agree" -> agree)
    spark.stop()
    if (!agree || !balanced || !steadyOk) sys.exit(1)
  }
}
