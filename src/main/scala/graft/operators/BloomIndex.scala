package graft.operators

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Scratch
import graft.TripleStore.table

/** The STORED-bloom incremental dedup — the steady-state shape of the
  * daily-crawl admission path that DedupScaleBench (r13) showed a
  * per-batch bloom REBUILD cannot reach: rebuilding ships
  * P·numBits/8 bytes of partial blooms per batch (191 MB at 10M keys,
  * P=32 — only ~3× under the plain anti-join), while a bloom maintained
  * as STATE is built once and each batch pays only its own probe +
  * append. This module is that state: a one-row parquet artifact
  * `(bloom BINARY, expected, num_bits, n_appends)` holding the corpus
  * bloom, plus the admit/append operations around it.
  *
  * Invariant (the correctness contract): the stored bloom is a SUPERSET
  * filter of the corpus hash set — no false negatives, ever. [[build]]
  * establishes it from the corpus; [[append]] preserves it by OR-ing in
  * each admitted batch's hashes (a bloom of the same geometry, merged
  * bit-wise). Under it, [[admit]] is EXACTLY q52's NOT-EXISTS relation:
  * bloom-negative rows are definitely new (admitted with no join at
  * all); bloom-positive rows are exact-checked against the corpus via
  * the broadcast semi/anti pair, so false positives are restored, and
  * the bloom only ever routes (BloomIndexSpec pins result-invariance
  * under a deliberately poisoned bloom).
  *
  * Scale shape: admit's corpus side is map-only scans (never
  * repartitioned); the per-batch exchange is the batch itself. The index
  * is HASH-RANGE SHARDED (r16): a version holds `num_shards` rows
  * `(shard, bloom, …)`, a hash belongs to shard
  * `pmod(xxhash64(content_hash), num_shards)`, and each shard's bloom is
  * sized to its share of the keys. BOTH halves of the admission path are
  * shard-bounded end-to-end (r17):
  *
  *   - The PROBE routes the batch by shard (`repartition` on the shard
  *     column) and evaluates membership in a `mapPartitions` task that
  *     fetches ONLY its shard's blob from the pinned version layout — one
  *     footer-filtered parquet row read per (version, shard), memoized in
  *     a bounded per-JVM [[ShardBlobCache]]. No blob ever rides the plan
  *     or a task binary (the r16 CASE-over-scalar-subqueries probe
  *     collected EVERY shard's blob into the driver plan — 153 s at 100M
  *     hashes / N=32 vs 26.8 s for this shape, whose cost over the 14.2 s
  *     single-blob probe is the batch-bounded routing exchange + N bounded
  *     blob fetches, both constants in the corpus; BloomIndexSpec pins the
  *     no-literal shape, DedupScaleBench measures it). Per-task probe
  *     memory is one bounded shard blob, whatever the index size.
  *   - The append OR runs per shard ON EXECUTORS — the r15 driver-side
  *     single-blob OR was the piece that did not survive 1T hashes
  *     (1T keys × 10 bits = 1.25 TB through one JVM); sharded, each task
  *     merges one bounded pair of blobs and the per-shard size stays FLAT
  *     as corpus and shard count scale together (DedupScaleBench's shard
  *     mode measures it).
  *
  * `num_shards` is pinned at [[build]] time into the artifact; 1 (the
  * default, and the q76 gate config) reproduces the unsharded semantics
  * exactly — same bits, since a bloom's bitset is a function of the key
  * SET, not of merge order. Spark's own sketch format is used end-to-end:
  * `bloom_build` (BloomFilterAggregate) serializes the very `BloomFilter`
  * that `BloomFilter.readFrom`/`mightContainLong` consume, so the SQL
  * aggregate builds it and the JVM probes/merges it with no translation. */
object BloomIndex {

  /** Gate-scale geometry (q61's convention): ~10 bits/key at the corpus
    * cardinality the driver tables carry. */
  private[graft] val Expected = 100000L
  private[graft] val NumBits = 1L << 20

  /** A hash's shard under an `n`-way index. */
  private def shardCol(n: Long): Column =
    pmod(xxhash64(col("content_hash")), lit(n))

  /** Per-shard blooms of a hash frame: one row per NON-EMPTY shard,
    * each shard's filter sized to its share of the geometry (a key set
    * split n ways needs expected/n capacity per shard for the same
    * false-positive rate; floors keep the degenerate tiny-corpus shard
    * valid). Empty input ⇒ zero rows (groupBy emits no empty groups).
    *
    * Exchange shape (r19, the 1B rung): the default is ONE map-side
    * partial-bloom pass — each map task emits its shards' partial
    * filters into the merge exchange, i.e. up to `numBits/8` bytes PER
    * MAP TASK. That is the right shape while the whole index is
    * broadcast-small (gate geometry: KBs), but it scales with map-task
    * count × index bytes: at 1B keys / 10 bits/key (~1.25 GB of filter)
    * and ~200 map tasks it would ship ~250 GB of partials. Past a
    * 256 MB single-index payload the build therefore pre-partitions the
    * RAW hashes by shard (one exchange of ~key bytes) so each reduce
    * task builds only its own shards' filters, with no partial-blob
    * exchange at all. The built filter bytes are IDENTICAL either way:
    * a bloom bitset is the OR of its keys' bit patterns, so neither
    * partitioning nor merge order can change it. */
  private def shardedBlooms(hashes: DataFrame, expected: Long,
      numBits: Long, numShards: Long): DataFrame = {
    val keyed = hashes.select(col("content_hash"),
      shardCol(numShards).as("shard"))
    val src =
      if (numBits / 8 <= (256L << 20)) keyed
      else keyed.repartition(col("shard"))
    src.groupBy("shard")
      .agg(call_function("bloom_build", xxhash64(col("content_hash")),
        lit(math.max(1L, expected / numShards)),
        lit(math.max(64L, numBits / numShards))).as("bloom"))
  }

  /** The index is VERSIONED: every state is an immutable `v<N>` subdir
    * and readers resolve the latest at plan-construction time. No file is
    * ever replaced in place, so a session's shared file-listing cache can
    * never serve a reader a deleted part file (the in-place-rename
    * variant died exactly that way — `refreshByPath` refreshes cached
    * PLANS, not the FileStatusCache), and an admit planned just before an
    * append still reads a complete, corpus-superset snapshot. The
    * snapshot-versioning shape every production table format uses. */
  private def versionOf(name: String): Option[Long] =
    if (name.startsWith("v")) name.drop(1).toLongOption else None

  private def latest(spark: SparkSession, path: String): (String, Long) = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val vs = fs.listStatus(root).toSeq
      .flatMap(s => versionOf(s.getPath.getName).map((s.getPath.toString, _)))
    require(vs.nonEmpty, s"no bloom-index version under $path")
    vs.maxBy(_._2)
  }

  /** Build version 0 of the index from the corpus hash column: one
    * map-side partial-bloom aggregation (the only time the corpus pays a
    * full pass), `numShards` tiny rows written — every shard row is
    * PRESENT in every version (bloom NULL when the shard holds no keys
    * yet), so readers can pin "a version has exactly num_shards rows" and
    * the append join never has to invent missing shards. Gate geometry +
    * one shard by default; [[buildSized]] for other cardinalities
    * (~10 bits/key) and shard counts. */
  def build(corpusHashes: DataFrame, path: String,
      numShards: Long = 1L): Unit =
    buildSized(corpusHashes, path, Expected, NumBits, numShards)

  def buildSized(corpusHashes: DataFrame, path: String, expected: Long,
      numBits: Long, numShards: Long = 1L): Unit = {
    require(numShards >= 1, s"numShards must be >= 1: $numShards")
    // A rebuild must be CRASH-SAFE against the root's history (r20, two
    // review passes): `latest()` resolves the HIGHEST version, so a fresh
    // build cannot land in the fixed `v0` of a previously-appended root —
    // the stale v1+ snapshots would silently outrank it and readers would
    // keep serving the old corpus's blooms. And clearing those snapshots
    // BEFORE the new build commits would leave a superset-violating old
    // v0 behind a mid-build crash (bloom-negative rows skip the exact
    // check — the one silent-dup class the module forbids). So a rebuild
    // lands like an append: staged, committed into the NEXT free version
    // slot (readers flip atomically; a crash before the commit leaves the
    // old index fully intact), and only AFTER the commit are all older
    // snapshots and orphaned staging dirs GC'd — a rebuild supersedes
    // every prior version by definition. A fresh root still yields the
    // conventional v0.
    //
    // READER-SAFETY CONTRACT (ADVICE r20): unlike append — whose GC
    // retains the latest THREE snapshots so an admit that pinned its
    // version at plan construction still completes — a rebuild deletes
    // ALL older versions immediately, because it replaces the corpus:
    // serving a pre-rebuild bloom would be wrong, not merely stale. An
    // in-flight admit that pinned a pre-rebuild version fails LOUDLY
    // (FileNotFound on its next blob fetch) rather than completing
    // against the wrong corpus. Callers that need the graceful window
    // must quiesce admits around rebuilds; appends keep the pinned-reader
    // guarantee.
    val spark = corpusHashes.sparkSession
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val next: Long =
      if (!fs.exists(root)) 0L
      else fs.listStatus(root).toSeq
        .flatMap(s => versionOf(s.getPath.getName))
        .maxOption.map(_ + 1L).getOrElse(0L)
    val staging = new org.apache.hadoop.fs.Path(path, s".staging_v$next")
    spark.range(numShards).select(col("id").as("shard"))
      .join(shardedBlooms(corpusHashes, expected, numBits, numShards),
        Seq("shard"), "left_outer")
      .select(col("shard"), col("bloom"), lit(expected).as("expected"),
        lit(numBits).as("num_bits"), lit(0L).as("n_appends"),
        lit(numShards).as("num_shards"))
      // one part file (a version is tiny at gate geometry), but a 1 MB
      // parquet block so every blob row past ~1 MB closes its OWN row
      // group (r19, measured at 1B/N=256): fetchShardBlob prunes at
      // row-group level, and the default ~128 MB blocks packed ~26
      // five-MB blobs per group — every shard fetch dragged its
      // neighbors' column pages along (~33 GB read for 256 fetches,
      // ~600 s of the 1B admit). With row-group-per-blob a fetch reads
      // exactly one blob. Gate-geometry blobs are KBs, so small indexes
      // still share one row group and nothing changes there; filter
      // BYTES are identical in all cases — this is pure file layout.
      .coalesce(1).write.mode("overwrite")
      .option("parquet.block.size", 1L << 20)
      .parquet(staging.toString)
    commitSlot(fs, staging, new org.apache.hadoop.fs.Path(path, s"v$next"))
    fs.listStatus(root).toSeq
      .filter { s =>
        val n = s.getPath.getName
        versionOf(n).exists(_ < next) || n.startsWith(".staging_v")
      }
      .foreach(s => fs.delete(s.getPath, true))
  }

  /** A shard blob's cache identity: the index root, the version NUMBER,
    * the version directory's CONTENT fingerprint, and the shard. Since
    * the r20 staged-commit rebuild, every writer (append AND rebuild)
    * lands in a fresh next version slot, so the version number alone
    * distinguishes corpora on healthy roots; the fingerprint (part-file
    * names + lengths + mtimes, hashed) stays in the key as
    * defense-in-depth against any out-of-band overwrite of a version
    * directory — a stale bloom answering `false` skips the exact corpus
    * check entirely, silently admitting duplicates (the one failure class
    * the module's superset contract forbids; ADVICE r17/r20). */
  private[graft] final case class BlobKey(root: String, version: Long,
      fingerprint: String, shard: Long)

  /** Driver-side fingerprint of a version directory's data files — one
    * listing at plan construction, carried into the probe tasks as part
    * of the cache key. */
  private[graft] def versionFingerprint(
      conf: org.apache.hadoop.conf.Configuration,
      versionPath: String): String = {
    val dir = new org.apache.hadoop.fs.Path(versionPath)
    val listing = dir.getFileSystem(conf).listStatus(dir).toSeq
      .filter { s =>
        val n = s.getPath.getName; !n.startsWith("_") && !n.startsWith(".")
      }
      .sortBy(_.getPath.getName)
      .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      .mkString("|")
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(listing.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    d.take(8).map(b => f"$b%02x").mkString
  }

  /** Bounded per-JVM cache of deserialized shard blooms, keyed by
    * [[BlobKey]]. A steady-state ingest probes the same version
    * repeatedly, so each executor pays each shard's blob fetch ONCE. The
    * bound is RESIDENT BYTES, not an entry count (ADVICE r17: at
    * numShards=1 each entry is the ENTIRE index blob — 64 such entries of
    * a 125 MB blob would pin ~8 GB; weighting by the filter's bitset size
    * caps the cache at a fixed memory budget whatever the shard
    * geometry). Entries of SUPERSEDED states of the same index — older
    * versions (appends move the version number) or a different content
    * fingerprint of the same version (an in-place rebuild) — are dropped
    * EAGERLY when a newer state's blob loads, so a steady-state ingest
    * never carries more than one generation per index. Loads run OUTSIDE
    * the lock: a racing duplicate fetch of one shard is benign
    * (idempotent, first insert wins), while a lock held across a blob
    * read would serialize every other shard's probe behind one task's
    * I/O; the lock guards only map mutation, so the per-row cost the
    * probe tasks see is one short critical section per (task, shard) —
    * [[probePlan]]'s per-partition memo keeps it off the per-row path. */
  private[graft] object ShardBlobCache {
    /** Byte budget; test-tunable (specs starve it to prove bounded churn). */
    @volatile private[graft] var maxBytes: Long = 256L << 20
    /** Cache-miss loads — specs assert the probe's fetch count stays
      * `≤ tasks × shards-per-task` even under a starved budget. */
    private[graft] val loads = new java.util.concurrent.atomic.AtomicLong
    private final case class Entry(bytes: Long,
        bf: Option[org.apache.spark.util.sketch.BloomFilter])
    private val lock = new Object
    // access-order: iteration is eldest-first, so byte-bound eviction
    // pops the head
    private val cache = new java.util.LinkedHashMap[BlobKey, Entry](16, 0.75f, true)
    private var resident = 0L

    def get(key: BlobKey)(
        load: => Option[org.apache.spark.util.sketch.BloomFilter])
        : Option[org.apache.spark.util.sketch.BloomFilter] = {
      val hit = lock.synchronized(cache.get(key))
      if (hit != null) hit.bf
      else {
        val v = load
        loads.incrementAndGet()
        // bitSize is the dominant term; the constant covers object headers
        // and the None case
        val w = v.map(_.bitSize() / 8 + 64L).getOrElse(64L)
        lock.synchronized {
          if (!cache.containsKey(key)) {
            // eager drop of superseded states of this index root
            val it = cache.entrySet().iterator()
            while (it.hasNext) {
              val e = it.next()
              val k = e.getKey
              if (k.root == key.root && (k.version < key.version ||
                  (k.version == key.version &&
                    k.fingerprint != key.fingerprint))) {
                resident -= e.getValue.bytes
                it.remove()
              }
            }
            cache.put(key, Entry(w, v))
            resident += w
            // byte-bound LRU eviction (never the just-inserted entry: a
            // single over-budget blob must still serve its own probe)
            val ev = cache.entrySet().iterator()
            while (resident > maxBytes && cache.size() > 1 && ev.hasNext) {
              val e = ev.next()
              if (e.getKey != key) { resident -= e.getValue.bytes; ev.remove() }
            }
          }
        }
        v
      }
    }
    private[graft] def clear(): Unit = lock.synchronized {
      cache.clear(); resident = 0L
    }
    private[graft] def entryCount(): Int = lock.synchronized(cache.size())
    private[graft] def residentBytes(): Long = lock.synchronized(resident)
  }

  /** Task-side fetch of ONE shard's blob from a version directory: list
    * the part files, open each with a `shard = s` record filter until the
    * row is found. The filter prunes at ROW-GROUP level from footer
    * statistics (parquet-mr's RowGroupFilter), so a non-matching file
    * costs one footer read and zero data pages — the fetch reads exactly
    * one bounded blob however many shards the version holds. Returns None
    * for a NULL bloom (the shard holds no corpus keys — definitively
    * not-a-duplicate); a MISSING shard row is corruption (every version
    * carries all `num_shards` rows by construction) and fails loudly. */
  private[graft] def fetchShardBlob(conf: org.apache.hadoop.conf.Configuration,
      versionPath: String, shard: Long)
      : Option[org.apache.spark.util.sketch.BloomFilter] = {
    import org.apache.parquet.filter2.compat.FilterCompat
    import org.apache.parquet.filter2.predicate.FilterApi
    val dir = new org.apache.hadoop.fs.Path(versionPath)
    val parts = dir.getFileSystem(conf).listStatus(dir).toSeq
      .map(_.getPath)
      .filter { p =>
        val n = p.getName; !n.startsWith("_") && !n.startsWith(".")
      }
      .sortBy(_.getName)
    var blob: Option[Array[Byte]] = null
    val it = parts.iterator
    while (blob == null && it.hasNext) {
      val reader = org.apache.parquet.hadoop.ParquetReader.builder(
        new org.apache.parquet.hadoop.example.GroupReadSupport(), it.next())
        .withConf(conf)
        .withFilter(FilterCompat.get(FilterApi.eq(
          FilterApi.longColumn("shard"), java.lang.Long.valueOf(shard))))
        .build()
      try {
        var g = reader.read()
        while (blob == null && g != null) {
          if (g.getLong("shard", 0) == shard)
            blob = if (g.getFieldRepetitionCount("bloom") == 0) None
              else Some(g.getBinary("bloom", 0).getBytes)
          else g = reader.read()
        }
      } finally reader.close()
    }
    require(blob != null,
      s"BloomIndex: shard $shard row missing from $versionPath — every " +
        "version carries all num_shards rows; the artifact is corrupt or " +
        "not a bloom index")
    blob.map(bytes => org.apache.spark.util.sketch.BloomFilter
      .readFrom(new ByteArrayInputStream(bytes)))
  }

  /** The probe's synthesized hash column (dropped before the result). */
  private val HashCol = "__graft_bloom_h"

  /** The PROBE plan — the lazy, shape-pinned half of [[admit]]: the batch
    * is shard-routed (`repartition` on the shard column, so each task
    * touches ~one shard), and a `mapPartitions` evaluates
    * `mightContainLong` against the blob fetched through
    * [[ShardBlobCache]]/[[fetchShardBlob]] — per-task probe memory is one
    * bounded shard blob, and no blob appears in the plan or task binary
    * (the r16 CASE of per-shard scalar subqueries eagerly collected every
    * shard's blob to the driver and shipped all of them with every task;
    * BloomIndexSpec pins the no-literal shape HERE). The hash travels as
    * a COLUMN (`xxhash64`, codegen'd) so the JVM probe only reads a long,
    * bit-identical to the SQL `bloom_build` input. A None blob (NULL
    * shard bloom: that shard of the corpus holds no keys) marks its rows
    * definitively new. The shared cache is consulted once per
    * (task, shard) through a per-partition memo — not per row, whose
    * synchronized map access at local[32] is measurable lock contention
    * (ADVICE r17). The one eager step is a single-row metadata read for
    * `num_shards` at plan construction (the shard count shapes the
    * routing) plus one version-dir listing for the cache fingerprint. */
  private[graft] def probePlan(spark: SparkSession, path: String,
      batch: DataFrame): DataFrame = {
    val (ver, verNum) = latest(spark, path)
    val numShards =
      spark.read.parquet(ver).select(col("num_shards")).head().getLong(0)
    val hconf = spark.sessionState.newHadoopConf()
    val conf = new org.apache.spark.util.SerializableConfiguration(hconf)
    val root = new org.apache.hadoop.fs.Path(ver).getParent.toString
    val fp = versionFingerprint(hconf, ver)
    val hashed = batch.withColumn(HashCol, xxhash64(col("content_hash")))
    val routed =
      if (numShards > 1)
        hashed.repartition(numShards.toInt, pmod(col(HashCol), lit(numShards)))
      else hashed
    val outSchema = org.apache.spark.sql.types.StructType(
      routed.schema.fields :+ org.apache.spark.sql.types.StructField(
        "maybe_dup", org.apache.spark.sql.types.BooleanType, nullable = false))
    val hIdx = routed.schema.fieldIndex(HashCol)
    routed.mapPartitions { rows =>
      // per-task memo: the shared cache's lock is hit once per (task,
      // shard), and a starved/thrashing shared cache cannot make one task
      // re-fetch its own shard
      val local = scala.collection.mutable.LongMap
        .empty[Option[org.apache.spark.util.sketch.BloomFilter]]
      rows.map { r =>
        val hv = r.getLong(hIdx)
        val s = java.lang.Math.floorMod(hv, numShards)
        val bf = local.getOrElseUpdate(s,
          ShardBlobCache.get(BlobKey(root, verNum, fp, s))(
            fetchShardBlob(conf.value, ver, s)))
        org.apache.spark.sql.Row.fromSeq(
          r.toSeq :+ bf.exists(_.mightContainLong(hv)))
      }
    }(org.apache.spark.sql.Encoders.row(outSchema)).drop(HashCol)
  }

  /** Admit a batch against the corpus using the STORED bloom: q52's exact
    * relation through q61's routed plan, with the build step replaced by
    * tiny artifact reads — [[probePlan]] routes, then bloom-negative rows
    * are admitted with no join at all and bloom-positive rows are
    * exact-checked against the corpus via the broadcast semi/anti pair.
    * EAGER (r17 VERDICT #5): the probe feeds three consuming branches
    * (clean, pos, and pos's broadcast hit set), so the probed frame is
    * pinned eagerly ([[graft.Scratch.pin]]) — the routing exchange AND the
    * mapPartitions probe execute exactly once per batch, not once per
    * branch — and its batch-sized blocks are released before returning:
    * GC + ContextCleaner loses the race under a steady-state ingest. The
    * returned frame is itself pinned (bounded by the admitted set, the
    * small end of the batch); a long-running ingest loop that wants those
    * blocks back immediately can pass it to [[graft.Scratch.release]] once
    * consumed. */
  def admit(spark: SparkSession, path: String, batch: DataFrame,
      corpus: DataFrame): DataFrame = {
    Scratch.pinned(Scratch.pin(probePlan(spark, path, batch))) { probed =>
      val clean = probed.filter(!col("maybe_dup")).drop("maybe_dup")
      val pos = probed.filter(col("maybe_dup")).drop("maybe_dup")
      val hits = corpus
        .join(broadcast(pos.select("content_hash").distinct()),
          Seq("content_hash"), "left_semi")
        .select("content_hash").distinct()
      clean
        .unionByName(
          pos.join(broadcast(hits), Seq("content_hash"), "left_anti"))
        .groupBy("content_hash")
        .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_in_batch"))
        .select("doc_id", "content_hash", "n_in_batch")
        .transform(Scratch.pin(_))
    }
  }

  /** OR two serialized blooms of identical geometry — the index append's
    * kernel, run per shard on EXECUTORS (r16; one bounded pair of blobs
    * per task — the driver never holds a blob). */
  private[graft] def mergeBlobs(a: Array[Byte],
      b: Array[Byte]): Array[Byte] = {
    val fa = org.apache.spark.util.sketch.BloomFilter
      .readFrom(new ByteArrayInputStream(a))
    fa.mergeInPlace(org.apache.spark.util.sketch.BloomFilter
      .readFrom(new ByteArrayInputStream(b)))
    val out = new ByteArrayOutputStream()
    fa.writeTo(out)
    out.toByteArray
  }

  /** Fold an admitted batch's hashes into the stored bloom (supersetness
    * is preserved: OR can only add bits) by writing version N+1; versions
    * more than two generations behind are then garbage-collected, so a
    * reader that pinned a snapshot up to TWO appends back still completes.
    * Idempotent on membership: OR-ing the same hashes twice is a no-op.
    *
    * CONCURRENCY CONTRACT — single WRITER, many readers. [[admit]] is safe
    * under a concurrent append (its version is pinned at plan construction
    * and retained snapshots cover the two-appends-back window), but append
    * itself must not race another append: two appends from the same base
    * would both target `v<N+1>` and one batch's hashes would be lost —
    * the false-negative leak this module's whole contract forbids. The
    * version slot is therefore CAS-guarded (require `v<N+1>` absent before
    * staging, then a rename whose result is CHECKED — Hadoop's
    * `FileSystem.rename` reports an occupied destination as `false`, not
    * an exception) so a lost race dies loudly instead of silently
    * dropping hashes; the loser's caller retries from the new latest.
    * Serialize appends (one ingest driver, or an external lock) as the
    * steady-state discipline — the guard is the tripwire, not a lock. */
  def append(spark: SparkSession, path: String,
      admittedHashes: DataFrame): Unit = {
    val (curPath, curV) = latest(spark, path)
    val cur = spark.read.parquet(curPath)
    val meta = cur
      .select("expected", "num_bits", "n_appends", "num_shards").head()
    val (expected, numBits) = (meta.getLong(0), meta.getLong(1))
    val (nAppends, numShards) = (meta.getLong(2), meta.getLong(3))
    // the add-blooms MUST use the artifact's own geometry — a differently
    // sized filter cannot be bit-OR-ed (mergeInPlace rejects it). An
    // all-duplicates batch (admitted = ∅, the commonest steady state)
    // yields ZERO shard rows and short-circuits: nothing to add is a
    // clean no-op (no new version). Checkpointed before the emptiness
    // probe so the batch's shard aggregation runs ONCE, not once for the
    // probe and again for the merge join.
    // released on every path out of this call: each append would
    // otherwise strand its full add bitset in executor storage, exactly
    // the accumulation the sharding exists to avoid
    Scratch.pinned(Scratch.pin(
        shardedBlooms(admittedHashes, expected, numBits, numShards))) {
      appendFrom(spark, _, cur, curV, path,
        expected, numBits, nAppends, numShards)
    }
  }

  /** [[append]]'s post-checkpoint body — the early return, the
    * executor-side merge, the staged write and the CAS commit — split
    * out so the caller's [[graft.Scratch.pinned]] releases the add-bloom
    * checkpoint on every exit path. */
  private def appendFrom(spark: SparkSession, adds: DataFrame,
      cur: DataFrame, curV: Long, path: String, expected: Long,
      numBits: Long, nAppends: Long, numShards: Long): Unit = {
    if (adds.isEmpty) return
    import spark.implicits._
    // per-shard OR on EXECUTORS (never through the driver: at 1T hashes
    // the total bitset is TBs even though each shard's is bounded). The
    // join is full-width — every version carries all num_shards rows —
    // and a shard with no additions passes through byte-identically.
    val merged = cur
      .select(col("shard"), col("bloom").as("cur_bloom"))
      .join(adds.select(col("shard"), col("bloom").as("add_bloom")),
        Seq("shard"), "left_outer")
      .as[(Long, Array[Byte], Array[Byte])]
      .map { case (s, c, a) =>
        (s, if (a == null) c else if (c == null) a else mergeBlobs(c, a))
      }
      .toDF("shard", "bloom")
      .select(col("shard"), col("bloom"), lit(expected).as("expected"),
        lit(numBits).as("num_bits"), lit(nAppends + 1).as("n_appends"),
        lit(numShards).as("num_shards"))
    // write-to-temp-then-RENAME into the version name: Spark creates the
    // target directory (listable by latest()) before any part file is
    // committed, so a direct write would let a concurrent admit pin an
    // empty v<N+1>; the rename makes the snapshot appear atomically
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sessionState.newHadoopConf())
    val target = new org.apache.hadoop.fs.Path(s"$path/v${curV + 1}")
    val staging = s"$path/.staging_v${curV + 1}"
    val root = new org.apache.hadoop.fs.Path(path)
    // clear stale staging leftovers (a crashed or lost-race append's
    // orphan — each holds a full bloom blob and versionOf-based GC never
    // matches dot-prefixed names). Scoped to versions ≤ curV (ADVICE r14):
    // those slots are committed or abandoned, so their staging dirs are
    // stale BY CONSTRUCTION; `.staging_v${curV+1}` is left alone — if a
    // racer from the same base is mid-write there, deleting it would fail
    // them with an opaque parquet FileNotFound instead of the purpose-built
    // lost-race message commitSlot raises (this append's own overwrite of
    // that name is exactly the race the CAS guard exists to catch loudly)
    fs.listStatus(root).toSeq
      .filter { s =>
        val n = s.getPath.getName
        n.startsWith(".staging_v") &&
          n.stripPrefix(".staging_v").toLongOption.exists(_ <= curV)
      }
      .foreach(s => fs.delete(s.getPath, true))
    // no coalesce(1): the merged rows carry per-shard blobs and should
    // write with whatever shard-parallelism the merge ran at (N files of
    // one bounded blob each is exactly the layout a 1T index wants)
    // same 1 MB parquet blocks as buildSized's v0 (r19): without it the
    // append's versions regress to ~128 MB row groups packing many blobs,
    // and fetchShardBlob's row-group pruning re-pays the neighbor-page
    // amplification the v0 fix removed — on every index that has ever
    // been appended to
    merged.write.mode("overwrite")
      .option("parquet.block.size", 1L << 20)
      .parquet(staging)
    commitSlot(fs, new org.apache.hadoop.fs.Path(staging), target)
    // keep the latest THREE snapshots (this one + two back); GC the rest
    fs.listStatus(root).toSeq
      .flatMap(s => versionOf(s.getPath.getName).map((s.getPath, _)))
      .filter(_._2 < curV - 1)
      .foreach { case (p, _) => fs.delete(p, true) }
  }

  /** The version-slot commit: publish a staged snapshot under its version
    * name, failing LOUDLY on a lost race. The slot must be free (a
    * concurrent append from the same base already committed it — this
    * merge is stale; recompute from the new latest), and the rename RESULT
    * is load-bearing: Hadoop reports failure (occupied destination won by
    * a racer in the check-to-rename window, cross-FS move, permission
    * refusal) as `false`, not an exception, and swallowing it would
    * silently drop the batch's hashes from the index — later duplicates
    * of those docs would probe bloom-negative and be re-admitted WITHOUT
    * the exact check. */
  private[graft] def commitSlot(fs: org.apache.hadoop.fs.FileSystem,
      staging: org.apache.hadoop.fs.Path,
      target: org.apache.hadoop.fs.Path): Unit = {
    require(!fs.exists(target),
      s"BloomIndex.append: version slot $target already occupied — a " +
        "concurrent append won the slot; re-read the latest version and " +
        "retry")
    require(fs.rename(staging, target),
      s"BloomIndex.append: rename $staging -> $target failed — admitted " +
        "hashes NOT folded into the index; retry from the latest version")
    verifyWonSlot(fs, staging, target)
  }

  /** The rename's TRUE return is still not proof of winning the slot: a
    * racer committing `target` inside the check-to-rename window makes
    * Hadoop rename-onto-an-existing-DIRECTORY move the source INTO it and
    * report success (HDFS semantics; the local filesystem's copy fallback
    * lands the same nested shape) — the loser's snapshot would sit
    * invisibly (dot-prefixed) inside the winner's version and its hashes
    * would never be folded in. Detect the nested shape, remove it, and
    * fail as a lost race. */
  private[graft] def verifyWonSlot(fs: org.apache.hadoop.fs.FileSystem,
      staging: org.apache.hadoop.fs.Path,
      target: org.apache.hadoop.fs.Path): Unit = {
    val nested = new org.apache.hadoop.fs.Path(target, staging.getName)
    if (fs.exists(nested)) {
      fs.delete(nested, true)
      throw new IllegalStateException(
        s"BloomIndex.append: lost the $target slot race (rename nested " +
          "the staged snapshot inside the winner's version) — this " +
          "batch's hashes were NOT folded in; retry from the latest " +
          "version")
    }
  }

  // --- Q76: the two-epoch ingest gate entry ---------------------------------

  /** Q76: a TWO-epoch crawl ingest through the stored index — build from
    * the standing corpus (`doc_id % 10 < 8`), admit epoch 1
    * (`% 10 == 8`), fold its hashes into the index AND the corpus, admit
    * epoch 2 (`% 10 == 9`) against the grown state. Epoch 2's exclusion
    * set is corpus₀ ∪ hashes(epoch 1) — every epoch-1 hash is either
    * already standing or was admitted, so the oracle can state it
    * directly. Memoized per sf dir (the ingest MUTATES the index;
    * concurrent first calls block on ONE run — the streaming replays'
    * pattern) with the result persisted and re-read on later calls. */
  def q76BloomIndexDedup(spark: SparkSession, dir: String): DataFrame = {
    val out = Scratch.once(("bloomIndex", dir)) {
      val base = Scratch.path(spark, "graft_bloom_index")
      val (idx, resultPath) = (s"$base/index", s"$base/result")
      val hashed = table(spark, dir, "documents")
        .select(col("doc_id"), sha2(col("text"), 256).as("content_hash"))
      val corpus0 = hashed.filter(col("doc_id") % 10 < 8)
      val epoch1 = hashed.filter(col("doc_id") % 10 === 8)
      val epoch2 = hashed.filter(col("doc_id") % 10 === 9)
      build(corpus0.select("content_hash"), idx)
      // admit is eager (returns a checkpoint), so admitted1 is already
      // materialized before the append mutates the index
      val admitted1 = admit(spark, idx, epoch1, corpus0)
      append(spark, idx, admitted1.select("content_hash"))
      val corpus1 = corpus0.unionByName(
        epoch1.select("doc_id", "content_hash"))
      val admitted2 = admit(spark, idx, epoch2, corpus1)
      admitted1.withColumn("epoch", lit(1L))
        .unionByName(admitted2.withColumn("epoch", lit(2L)))
        .select("epoch", "doc_id", "content_hash", "n_in_batch")
        .coalesce(1).write.mode("overwrite").parquet(resultPath)
      resultPath
    }
    spark.read.parquet(out).orderBy("epoch", "doc_id")
  }

  /** DuckDB oracle: both epochs as NOT-EXISTS relations — epoch 1 vs the
    * standing corpus, epoch 2 vs corpus ∪ epoch-1 hashes. The bloom is
    * invisible by construction (it only routes). */
  val q76Sql: String =
    """WITH h AS (SELECT doc_id, sha256(text) AS content_hash FROM documents),
      |c0 AS (SELECT content_hash FROM h WHERE doc_id % 10 < 8),
      |e1 AS (SELECT doc_id, content_hash FROM h WHERE doc_id % 10 = 8),
      |e2 AS (SELECT doc_id, content_hash FROM h WHERE doc_id % 10 = 9),
      |a1 AS (
      |  SELECT CAST(min(doc_id) AS BIGINT) AS doc_id, content_hash,
      |         CAST(count(*) AS BIGINT) AS n_in_batch
      |  FROM e1 b
      |  WHERE NOT EXISTS (SELECT 1 FROM c0 WHERE c0.content_hash = b.content_hash)
      |  GROUP BY content_hash),
      |a2 AS (
      |  SELECT CAST(min(doc_id) AS BIGINT) AS doc_id, content_hash,
      |         CAST(count(*) AS BIGINT) AS n_in_batch
      |  FROM e2 b
      |  WHERE NOT EXISTS (SELECT 1 FROM c0 WHERE c0.content_hash = b.content_hash)
      |    AND NOT EXISTS (SELECT 1 FROM e1 WHERE e1.content_hash = b.content_hash)
      |  GROUP BY content_hash)
      |SELECT CAST(1 AS BIGINT) AS epoch, doc_id, content_hash, n_in_batch FROM a1
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), doc_id, content_hash, n_in_batch FROM a2
      |ORDER BY epoch, doc_id""".stripMargin
}
