package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.BloomIndex

/** Laws of the stored-bloom incremental dedup: the bloom must ROUTE and
  * never decide — admit ≡ the plain anti-join relation whatever the bloom
  * contains (as long as it is a corpus superset), appends preserve the
  * superset invariant, and a poisoned (over-full) bloom changes cost, not
  * results. */
class BloomIndexSpec extends AnyFunSuite with TempDirs {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def hashed(rows: Seq[(Long, String)]): DataFrame =
    rows.toDF("doc_id", "text")
      .select(col("doc_id"), sha2(col("text"), 256).as("content_hash"))

  /** q52's NOT-EXISTS relation, the reference semantics. */
  private def reference(batch: DataFrame, corpus: DataFrame): Set[(Long, String, Long)] =
    batch.join(corpus.select("content_hash"), Seq("content_hash"), "left_anti")
      .groupBy("content_hash")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n"))
      .select("doc_id", "content_hash", "n")
      .as[(Long, String, Long)].collect().toSet

  private def admitted(idx: String, batch: DataFrame,
      corpus: DataFrame): Set[(Long, String, Long)] =
    BloomIndex.admit(spark, idx, batch, corpus)
      .as[(Long, String, Long)].collect().toSet

  test("admit == the plain anti-join relation (dups, within-batch dups, " +
    "all-new and all-dup batches)") {
    val corpus = hashed((0L until 40L).map(i => (i, s"doc $i")))
    val idx = tmp("graft_bloomidx") + "/i"
    BloomIndex.build(corpus.select("content_hash"), idx)
    // batch: 10 corpus dups, 2 within-batch dup groups, 8 fresh
    val batch = hashed(
      (100L until 110L).map(i => (i, s"doc ${i - 100}")) ++  // corpus dups
        Seq((110L, "fresh a"), (111L, "fresh a"), (112L, "fresh b"),
          (113L, "fresh b"), (114L, "fresh b")) ++
        (115L until 123L).map(i => (i, s"fresh $i")))
    assert(admitted(idx, batch, corpus) == reference(batch, corpus))
    // degenerate batches
    val allDup = hashed(Seq((200L, "doc 1"), (201L, "doc 2")))
    assert(admitted(idx, allDup, corpus).isEmpty)
    val allNew = hashed(Seq((300L, "x"), (301L, "y")))
    assert(admitted(idx, allNew, corpus) == reference(allNew, corpus))
  }

  test("a poisoned bloom (foreign keys OR-ed in) changes routing, never " +
    "results — false positives are restored by the exact check") {
    val corpus = hashed((0L until 30L).map(i => (i, s"doc $i")))
    val batch = hashed(
      (50L until 60L).map(i => (i, s"new $i")) ++
        Seq((60L, "doc 3"), (61L, "doc 7")))
    val want = reference(batch, corpus)
    val clean = tmp("graft_bloomidx") + "/c"
    BloomIndex.build(corpus.select("content_hash"), clean)
    assert(admitted(clean, batch, corpus) == want)
    // poison: fold EVERY batch hash into the index too — now every row is
    // bloom-positive (maximal false-positive routing for the new rows)
    val poisoned = tmp("graft_bloomidx") + "/p"
    BloomIndex.build(corpus.select("content_hash"), poisoned)
    BloomIndex.append(spark, poisoned, batch.select("content_hash"))
    assert(admitted(poisoned, batch, corpus) == want,
      "a superset bloom must not change the admitted set")
  }

  test("append preserves the no-false-negative invariant: previously " +
    "admitted hashes are rejected by the grown index") {
    val corpus0 = hashed((0L until 20L).map(i => (i, s"doc $i")))
    val idx = tmp("graft_bloomidx") + "/i"
    BloomIndex.build(corpus0.select("content_hash"), idx)
    val epoch1 = hashed(Seq((100L, "e1 a"), (101L, "e1 b"), (102L, "doc 5")))
    val a1 = BloomIndex.admit(spark, idx, epoch1, corpus0)
    assert(a1.count() == 2)
    BloomIndex.append(spark, idx, a1.select("content_hash"))
    val corpus1 = corpus0.unionByName(epoch1.select("doc_id", "content_hash"))
    // epoch 2 replays epoch-1 content plus one fresh row
    val epoch2 = hashed(Seq((200L, "e1 a"), (201L, "e1 b"), (202L, "fresh")))
    val a2 = admitted(idx, epoch2, corpus1)
    assert(a2.map(_._2) ==
      hashed(Seq((0L, "fresh"))).select("content_hash")
        .as[String].collect().toSet,
      s"grown index must reject replayed epoch-1 content: $a2")
    // idempotence: appending the same hashes again changes nothing
    BloomIndex.append(spark, idx, a1.select("content_hash"))
    assert(admitted(idx, epoch2, corpus1) == a2)
  }

  test("model check: admit == the anti-join relation on RANDOM corpora " +
    "and batches (overlaps, within-batch dups, NULL-text hashes)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // a small text domain forces heavy hash collisions across the split;
    // null text yields a NULL hash (never equal to anything — its batch
    // rows group to one admitted row, the q52/adversarial semantics)
    val genCase = for {
      n <- Gen.choose(4, 30)
      texts <- Gen.listOfN(n, Gen.frequency(
        (8, Gen.choose(0, 9).map(i => s"t$i")),
        (1, Gen.const(null: String))))
      cut <- Gen.choose(1, math.max(1, n - 1))
    } yield (texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }, cut)
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12),
      Prop.forAll(genCase) { case (docs, cut) =>
        val corpus = hashed(docs.take(cut))
        val batch = hashed(docs.drop(cut))
        val idx = tmp("graft_bloomidx") + "/i"
        BloomIndex.build(corpus.select("content_hash"), idx)
        admitted(idx, batch, corpus) == reference(batch, corpus)
      })
    assert(res.passed, res.status.toString)
  }

  test("append of an EMPTY admitted set is a clean no-op — the commonest " +
    "steady state (all-duplicates batch); bloom_build over zero rows is " +
    "NULL and must not reach the blob merge") {
    val corpus = hashed((0L until 10L).map(i => (i, s"doc $i")))
    val idx = tmp("graft_bloomidx") + "/i"
    BloomIndex.build(corpus.select("content_hash"), idx)
    val allDup = hashed(Seq((50L, "doc 1"), (51L, "doc 2")))
    val a = BloomIndex.admit(spark, idx, allDup, corpus)
    assert(a.count() == 0)
    BloomIndex.append(spark, idx, a.select("content_hash")) // must not throw
    // the index still works after the no-op
    val fresh = hashed(Seq((60L, "fresh"), (61L, "doc 3")))
    assert(admitted(idx, fresh, corpus) == reference(fresh, corpus))
  }

  test("commitSlot into an OCCUPIED version slot fails loudly (single-" +
    "writer CAS guard) — a lost append race can never silently drop " +
    "admitted hashes") {
    import org.apache.hadoop.fs.Path
    val base = tmp("graft_bloomidx")
    val fs = new Path(base).getFileSystem(
      spark.sessionState.newHadoopConf())
    Files.createDirectories(java.nio.file.Paths.get(s"$base/.staging_v1"))
    Files.createDirectories(java.nio.file.Paths.get(s"$base/v1")) // racer won
    val e = intercept[IllegalArgumentException] {
      BloomIndex.commitSlot(fs,
        new Path(s"$base/.staging_v1"), new Path(s"$base/v1"))
    }
    assert(e.getMessage.contains("already occupied"),
      s"expected the CAS-guard message, got: ${e.getMessage}")
    // the staged snapshot was NOT consumed (no nesting move-into-dest)
    assert(Files.exists(java.nio.file.Paths.get(s"$base/.staging_v1")))
    assert(!Files.exists(java.nio.file.Paths.get(s"$base/v1/.staging_v1")),
      "a failed commit must not nest the staging dir inside the target")
    // and the happy path still publishes atomically
    BloomIndex.commitSlot(fs,
      new Path(s"$base/.staging_v1"), new Path(s"$base/v2"))
    assert(Files.exists(java.nio.file.Paths.get(s"$base/v2")))
  }

  test("a rename that lands INSIDE an occupied slot (Hadoop nests into an " +
    "existing directory and reports success) is detected as a lost race " +
    "and the nested orphan is removed — rename()==true is not proof of " +
    "winning") {
    import org.apache.hadoop.fs.Path
    val base = tmp("graft_bloomidx")
    val fs = new Path(base).getFileSystem(
      spark.sessionState.newHadoopConf())
    // the racer committed v1 inside the check-to-rename window; our rename
    // then either returns false OR nests the staging dir into v1 —
    // reproduce whichever this FS does and assert the combined guard
    // (checked rename + verifyWonSlot) catches it
    Files.createDirectories(java.nio.file.Paths.get(s"$base/.staging_v1"))
    Files.writeString(
      java.nio.file.Paths.get(s"$base/.staging_v1/part-0"), "blob")
    // the racer's committed snapshot is NON-empty (a real version dir
    // holds parquet part files — POSIX rename would silently REPLACE an
    // empty one, a shape no committed snapshot ever has)
    Files.createDirectories(java.nio.file.Paths.get(s"$base/v1"))
    Files.writeString(
      java.nio.file.Paths.get(s"$base/v1/part-0"), "winner")
    val renamed = fs.rename(
      new Path(s"$base/.staging_v1"), new Path(s"$base/v1"))
    if (renamed) {
      // nested shape: v1/.staging_v1 — verifyWonSlot must throw and clean
      assert(Files.exists(
        java.nio.file.Paths.get(s"$base/v1/.staging_v1")),
        "rename returned true without nesting — FS semantics changed; " +
          "re-derive this spec")
      val e = intercept[IllegalStateException] {
        BloomIndex.verifyWonSlot(fs,
          new Path(s"$base/.staging_v1"), new Path(s"$base/v1"))
      }
      assert(e.getMessage.contains("lost the"))
      assert(!Files.exists(
        java.nio.file.Paths.get(s"$base/v1/.staging_v1")),
        "the nested orphan must be removed (it is invisible to readers " +
          "and would otherwise leak a full bloom blob per lost race)")
    } // else: rename reported false — commitSlot's checked require catches it
  }

  test("append retains the latest three snapshots — a reader pinned two " +
    "appends back still completes") {
    val corpus = hashed((0L until 10L).map(i => (i, s"doc $i")))
    val idx = tmp("graft_bloomidx") + "/i"
    BloomIndex.build(corpus.select("content_hash"), idx)
    (1 to 3).foreach { i =>
      BloomIndex.append(spark, idx,
        hashed(Seq((100L + i, s"epoch $i"))).select("content_hash"))
    }
    val kept = new java.io.File(idx).listFiles()
      .map(_.getName).filter(_.startsWith("v")).sorted.toSeq
    assert(kept == Seq("v1", "v2", "v3"),
      s"expected the latest three versions retained, got $kept")
  }

  test("a REBUILD into an appended root clears the stale later snapshots " +
    "— latest() must serve the fresh build, never an outranking old v>0") {
    val idx = tmp("graft_bloomidx") + "/i"
    val oldCorpus = hashed((0L until 10L).map(i => (i, s"old $i")))
    BloomIndex.build(oldCorpus.select("content_hash"), idx)
    (1 to 2).foreach { i =>
      BloomIndex.append(spark, idx,
        hashed(Seq((100L + i, s"old epoch $i"))).select("content_hash"))
    }
    // rebuild from a DISJOINT corpus: without the next-slot commit +
    // post-commit GC, latest() would still resolve v2 (the old index) and
    // admit would bloom-route on the old corpus's keys. The rebuild lands
    // in the NEXT slot (crash before its commit leaves the old index
    // intact) and then GCs every older snapshot.
    val newCorpus = hashed((0L until 10L).map(i => (i, s"new $i")))
    BloomIndex.build(newCorpus.select("content_hash"), idx)
    val kept = new java.io.File(idx).listFiles()
      .map(_.getName).filter(_.startsWith("v")).sorted.toSeq
    assert(kept == Seq("v3"),
      s"rebuild must occupy the next slot and GC the rest, got $kept")
    // the rebuilt index must route on the NEW corpus: an old-corpus dup
    // is now genuinely new and must be admitted
    val batch = hashed(Seq((500L, "old 3"), (501L, "new 3")))
    assert(admitted(idx, batch, newCorpus) == reference(batch, newCorpus))
  }

  test("model check: a random MULTI-EPOCH ingest (admit → append per " +
    "epoch) tracks the NOT-EXISTS relation against the evolving corpus " +
    "at every step, and retention never exceeds three versions") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // epochs draw from a small text domain so cross-epoch replays and
    // within-epoch duplicates occur routinely — the steady-state shapes
    // (all-dup epochs, all-new epochs, partial overlap) all arise
    val genEpochs = for {
      k <- Gen.choose(2, 5)
      epochs <- Gen.listOfN(k, Gen.nonEmptyListOf(
        Gen.choose(0, 11).map(i => s"t$i")))
    } yield epochs
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8),
      Prop.forAll(genEpochs) { epochs =>
        val idx = tmp("graft_bloomidx") + "/i"
        var nextId = 0L
        def frame(texts: Seq[String]): DataFrame = {
          val rows = texts.map { t => nextId += 1; (nextId, t) }
          hashed(rows)
        }
        var corpus = frame(epochs.head)
        BloomIndex.build(corpus.select("content_hash"), idx)
        val stepsOk = epochs.tail.forall { texts =>
          val batch = frame(texts)
          // one admit per epoch: the collected set serves BOTH the
          // comparison and (via its hashes) the append input
          val got = admitted(idx, batch, corpus)
          val ok = got == reference(batch, corpus)
          BloomIndex.append(spark, idx,
            got.map(_._2).toSeq.toDF("content_hash"))
          corpus = corpus.unionByName(batch.select("doc_id", "content_hash"))
          ok
        }
        val versions = new java.io.File(idx).listFiles()
          .map(_.getName).count(_.startsWith("v"))
        stepsOk && versions <= 3
      })
    assert(res.passed, res.status.toString)
  }

  test("SHARDED index (r16): admit == the anti-join relation at N=4, the " +
    "artifact carries exactly num_shards rows per version, and shards " +
    "with no corpus keys carry NULL blooms (their rows admit uncheck-ed " +
    "— the exact NOT-EXISTS answer for an empty shard)") {
    val corpus = hashed((0L until 40L).map(i => (i, s"doc $i")))
    val idx = tmp("graft_bloomidx") + "/i"
    BloomIndex.build(corpus.select("content_hash"), idx, numShards = 4L)
    val v0 = spark.read.parquet(s"$idx/v0")
    assert(v0.count() == 4 &&
      v0.select("shard").as[Long].collect().sorted.toSeq == Seq(0L, 1, 2, 3))
    val batch = hashed(
      (100L until 110L).map(i => (i, s"doc ${i - 100}")) ++
        Seq((110L, "fresh a"), (111L, "fresh a")) ++
        (115L until 123L).map(i => (i, s"fresh $i")))
    assert(admitted(idx, batch, corpus) == reference(batch, corpus))
    val allDup = hashed(Seq((200L, "doc 1"), (201L, "doc 2")))
    assert(admitted(idx, allDup, corpus).isEmpty)
  }

  test("SHARDED append folds additions into shards the corpus never " +
    "touched (NULL current blob -> the addition IS the shard) and the " +
    "grown index rejects replays across every shard — the per-shard " +
    "no-false-negative law") {
    // EMPTY corpus: every shard starts as a NULL bloom, so every epoch-1
    // hash lands in a shard with no current blob — the exact path a
    // left-behind add-shard would silently leak false negatives through
    val corpus0 = hashed(Seq.empty[(Long, String)])
    val idx = tmp("graft_bloomidx") + "/i"
    BloomIndex.build(corpus0.select("content_hash"), idx, numShards = 4L)
    val epoch1 = hashed((0L until 24L).map(i => (i, s"e1 $i")))
    val a1 = BloomIndex.admit(spark, idx, epoch1, corpus0)
    assert(a1.count() == 24)
    BloomIndex.append(spark, idx, a1.select("content_hash"))
    // the new version still carries all four shard rows
    assert(spark.read.parquet(s"$idx/v1").count() == 4)
    val corpus1 = epoch1.select("doc_id", "content_hash")
    // epoch 2 replays every epoch-1 doc (spanning all shards) + 3 fresh
    val epoch2 = hashed((0L until 24L).map(i => (100L + i, s"e1 $i")) ++
      Seq((200L, "f x"), (201L, "f y"), (202L, "f z")))
    assert(admitted(idx, epoch2, corpus1) == reference(epoch2, corpus1))
    // and the shard routing is observable: with a poisoned-superset check
    // (append epoch-2 hashes too), results still never change
    BloomIndex.append(spark, idx, epoch2.select("content_hash"))
    assert(admitted(idx, epoch2, corpus1) == reference(epoch2, corpus1),
      "a superset sharded bloom must not change the admitted set")
  }

  test("the probe ships NO blob (r17): the admit plan carries no multi-KB " +
    "literal token and no bloom scalar subquery — blobs are fetched " +
    "task-side through the per-JVM cache (the q61 no-literal convention, " +
    "extended to the sharded index)") {
    val corpus = hashed((0L until 2000L).map(i => (i, s"doc $i")))
    val idx = tmp("graft_bloomidx") + "/i"
    // default gate geometry: 1<<20 bits => ~128 KB total blob, ~16 KB per
    // shard at N=8 — any blob leaked into the plan or a literal would
    // surface as one giant token
    BloomIndex.build(corpus.select("content_hash"), idx, numShards = 8L)
    val batch = hashed(Seq((9000L, "doc 7"), (9001L, "fresh x")))
    // the shape pins live on probePlan — admit's LAZY half (admit itself
    // checkpoints the probe so it runs once per batch, which truncates the
    // returned plan to a LogicalRDD scan)
    val q = BloomIndex.probePlan(spark, idx, batch)
    val plans = q.queryExecution.analyzed.toString +
      q.queryExecution.executedPlan.toString
    assert(plans.split("\\s+").forall(_.length < 4096),
      "plan contains a huge literal token — bloom bytes leaked into the plan")
    assert(!plans.contains("bloom_might_contain"),
      "the r16 scalar-subquery CASE probe is retired; the probe must be " +
        "task-side")
    assert(plans.contains("MapPartitions"),
      s"expected the task-side mapPartitions probe in the plan:\n$plans")
    // and the shard routing is a real exchange on the shard column
    assert(q.queryExecution.executedPlan.toString.contains("Exchange"),
      "sharded admit must shard-route the batch")
    // admit is EAGER (r17 VERDICT #5): the probe executes once inside the
    // call and the returned frame is a checkpoint scan, free of the
    // mapPartitions probe and of any recompute path to it
    val a = BloomIndex.admit(spark, idx, batch, corpus)
    assert(!a.queryExecution.analyzed.toString.contains("MapPartitions"),
      "admit must return a materialized result, not a re-executable probe")
    assert(admitted(idx, batch, corpus) == reference(batch, corpus))
  }

  test("an IN-PLACE REBUILD at the same path invalidates cached blooms " +
    "(the cache key carries the version dir's content fingerprint): a " +
    "probe after buildSized over a grown corpus sees the NEW blooms — a " +
    "stale false would skip the exact check and silently admit dups " +
    "(ADVICE r17)") {
    val idx = tmp("graft_bloomidx") + "/i"
    val corpus0 = hashed((0L until 50L).map(i => (i, s"doc $i")))
    BloomIndex.build(corpus0.select("content_hash"), idx, numShards = 2L)
    // prime the cache with v0's blooms
    val batch0 = hashed(Seq((900L, "doc 3"), (901L, "fresh a")))
    assert(admitted(idx, batch0, corpus0) == reference(batch0, corpus0))
    // REBUILD in place over a grown corpus (same path, same v0 slot)
    val corpus1 = hashed((0L until 50L).map(i => (i, s"doc $i")) ++
      (50L until 80L).map(i => (i, s"grown $i")))
    BloomIndex.build(corpus1.select("content_hash"), idx, numShards = 2L)
    // every "grown" hash is bloom-positive in the NEW index; a stale
    // cached v0 bloom would answer false for most of them and admit them
    // without the exact check — the reference relation catches exactly that
    val batch1 = hashed((50L until 80L).map(i => (i + 1000L, s"grown $i")) :+
      ((2000L, "truly new")))
    assert(admitted(idx, batch1, corpus1) == reference(batch1, corpus1),
      "a rebuild at the same path must not serve pre-rebuild blooms")
  }

  test("fetchShardBlob reads exactly one shard's blob from the pinned " +
    "version layout: per-shard membership matches per-shard keys, a NULL " +
    "shard is None, and a missing shard row fails loudly") {
    val corpus = hashed((0L until 400L).map(i => (i, s"doc $i")))
    val idx = tmp("graft_bloomidx") + "/i"
    BloomIndex.build(corpus.select("content_hash"), idx, numShards = 4L)
    val conf = spark.sessionState.newHadoopConf()
    val ver = s"$idx/v0"
    // the corpus keys, grouped by the index's own shard function
    val byShard = corpus
      .select(xxhash64(col("content_hash")).as("h"))
      .as[Long].collect().groupBy(h => java.lang.Math.floorMod(h, 4L))
    (0L until 4L).foreach { s =>
      val bf = BloomIndex.fetchShardBlob(conf, ver, s)
      byShard.get(s) match {
        case Some(keys) =>
          assert(bf.nonEmpty, s"shard $s should carry a bloom")
          assert(keys.forall(bf.get.mightContainLong),
            s"shard $s bloom lost a member — false negative")
          // keys of OTHER shards are overwhelmingly absent (fp ~1%): the
          // fetched blob is that shard's, not a merged or foreign one
          val foreign = byShard.filter(_._1 != s).values.flatten.toSeq
          val fpos = foreign.count(bf.get.mightContainLong)
          assert(fpos < foreign.size / 4,
            s"shard $s bloom matches $fpos/${foreign.size} foreign keys — " +
              "wrong blob fetched")
        case None => assert(bf.isEmpty, s"empty shard $s must fetch None")
      }
    }
    val e = intercept[IllegalArgumentException] {
      BloomIndex.fetchShardBlob(conf, ver, 99L)
    }
    assert(e.getMessage.contains("missing"))
  }

  test("ShardBlobCache memoizes per key, bounds resident BYTES (not " +
    "entries), and eagerly drops superseded states of the same index " +
    "root — older versions and same-version rebuilds (ADVICE r17)") {
    import org.apache.spark.util.sketch.BloomFilter
    val C = BloomIndex.ShardBlobCache
    val saved = C.maxBytes
    try {
      C.clear()
      var loads = 0
      // a real small filter so byte-weighting is exercised: 4096 bits =
      // 512 B bitset (+64 B constant per entry)
      def load(): Option[BloomFilter] = {
        loads += 1; Some(BloomFilter.create(100, 4096))
      }
      def key(root: String, v: Long, fp: String, s: Long) =
        BloomIndex.BlobKey(root, v, fp, s)
      // budget of ~4 entries
      C.maxBytes = 4 * (4096 / 8 + 64) + 10
      (0 until 50).foreach { i =>
        C.get(key("/idxA", 0L, "fpA", i.toLong))(load())
      }
      assert(loads == 50)
      assert(C.entryCount() <= 4, s"byte bound must evict: ${C.entryCount()}")
      assert(C.residentBytes() <= C.maxBytes)
      // a re-probe of the most recent key is a hit, not a load
      C.get(key("/idxA", 0L, "fpA", 49L))(load())
      assert(loads == 50, "recent key must be served from the cache")
      // SUPERSEDED-VERSION drop: loading v1 of the same root purges every
      // v0 entry immediately (not via LRU aging)
      C.get(key("/idxA", 1L, "fpB", 0L))(load())
      assert(C.entryCount() == 1,
        "older versions of the same root must drop eagerly")
      // REBUILD drop: same version, different content fingerprint
      C.get(key("/idxA", 1L, "fpC", 0L))(load())
      assert(C.entryCount() == 1,
        "a same-version rebuild (new fingerprint) must drop the stale entry")
      // a DIFFERENT index root is untouched by either rule
      C.get(key("/idxB", 0L, "fpZ", 0L))(load())
      assert(C.entryCount() == 2)
      // an over-budget single blob still serves (never evicts itself)
      C.maxBytes = 1L
      C.get(key("/idxC", 0L, "fpY", 0L))(load())
      assert(C.entryCount() >= 1)
      C.get(key("/idxC", 0L, "fpY", 0L))(load())
      assert(loads == 54, "the over-budget entry must still be a hit")
    } finally { C.maxBytes = saved; C.clear() }
  }

  test("a STARVED cache cannot make the probe thrash (r17 VERDICT #6): " +
    "with the byte budget below one blob, an N=8 sharded admit still " +
    "fetches at most once per (task, shard) — the per-partition memo " +
    "bounds churn — and the admitted relation is unchanged") {
    val C = BloomIndex.ShardBlobCache
    val saved = C.maxBytes
    try {
      val corpus = hashed((0L until 3000L).map(i => (i, s"doc $i")))
      val idx = tmp("graft_bloomidx") + "/i"
      BloomIndex.build(corpus.select("content_hash"), idx, numShards = 8L)
      val batch = hashed((0L until 500L).map(i =>
        (10000L + i, if (i % 5 == 0) s"doc $i" else s"fresh $i")))
      C.maxBytes = 1L // below any real blob: every shared-cache get loads
      C.clear()
      val before = C.loads.get()
      assert(admitted(idx, batch, corpus) == reference(batch, corpus))
      val fetched = C.loads.get() - before
      // the routed batch has exactly 8 partitions (one shard each) and the
      // probe runs ONCE (admit checkpoints it), so even a cache that can
      // hold nothing bounds fetches at tasks × shards-per-task = 8
      assert(fetched <= 8L,
        s"probe fetched $fetched blobs — per-task memo must bound churn " +
          "at one fetch per (task, shard)")
    } finally { C.maxBytes = saved; C.clear() }
  }

  test("a serialized bloom's size is a pure function of its (expected, " +
    "numBits) geometry — the formula DedupScaleBench's shard-size report " +
    "relies on (blob size is parameter-determined, not data-dependent)") {
    import org.apache.spark.util.sketch.BloomFilter
    def ser(f: BloomFilter): Int = {
      val o = new java.io.ByteArrayOutputStream(); f.writeTo(o); o.size()
    }
    val a = BloomFilter.create(1000, 1 << 16)
    val b = BloomFilter.create(1000, 1 << 16)
    (1L to 900L).foreach(a.putLong)
    b.putLong(7L) // near-empty vs near-full: same geometry, same bytes
    assert(ser(a) == ser(b))
    // and the size scales with numBits, not with insert count
    assert(ser(BloomFilter.create(1000, 1 << 17)) > ser(a))
  }

  test("mergeBlobs is a membership union of same-geometry blooms") {
    import org.apache.spark.util.sketch.BloomFilter
    val a = BloomFilter.create(100, 4096)
    val b = BloomFilter.create(100, 4096)
    (1L to 50L).foreach(a.putLong)
    (51L to 100L).foreach(b.putLong)
    def ser(f: BloomFilter): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream(); f.writeTo(o); o.toByteArray
    }
    val m = BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(
        BloomIndex.mergeBlobs(ser(a), ser(b))))
    assert((1L to 100L).forall(m.mightContainLong),
      "merged bloom lost a member — false negative")
  }
}
