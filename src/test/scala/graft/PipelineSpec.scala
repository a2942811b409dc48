package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Multimodal
import graft.operators.{Docs, Vectors}

/** LLM-pipeline pillars: properties that the SQL-oracle gate can't express —
  * LSH locality/recall vs the brute-force baseline, and the typed multimodal
  * feature extraction. */
class PipelineSpec extends AnyFunSuite with TempDirs {

  private val spark = SparkTestSession.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  /** Deterministic Gaussian test vector (fixed seed → reproducible). */
  private def vec(seed: Int): Array[Float] = {
    val r = new scala.util.Random(seed)
    Array.fill(Vectors.Dim)(r.nextGaussian().toFloat)
  }

  test("mergeable sketches track their exact twins: approx_percentile " +
    "within accuracy bounds, approx_count_distinct within HLL error") {
    import org.apache.spark.sql.functions._
    val sfd = "/root/testdata/sf0.01"
    // percentile sketch (the 100 TB path for q41's heavy groups): the
    // partial aggregate carries a bounded sketch, not the group's values
    val exact = graft.operators.Relational.q41Percentiles(spark, sfd)
      .select("event_type", "p50", "p90").as[(String, Double, Double)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    val approx = spark.read.parquet(s"$sfd/events.parquet")
      .groupBy("event_type")
      .agg(expr("approx_percentile(value, array(0.5, 0.9), 10000)").as("p"))
      .select(col("event_type"), col("p")(0).as("a50"), col("p")(1).as("a90"))
      .as[(String, Double, Double)].collect()
    assert(approx.nonEmpty)
    approx.foreach { case (t, a50, a90) =>
      val (p50, p90) = exact(t)
      // 1/accuracy = 1e-4 rank error; values span ~[0, 500], so a loose
      // value-space bound of 5% of the p90 magnitude is far above it
      assert(math.abs(a50 - p50) <= 0.05 * p90, s"$t p50: $a50 vs $p50")
      assert(math.abs(a90 - p90) <= 0.05 * p90, s"$t p90: $a90 vs $p90")
    }
    // HLL++ distinct-count sketch vs exact distinct, default 5% rsd
    val (ex, ap) = spark.read.parquet(s"$sfd/events.parquet")
      .agg(countDistinct(col("user_id")).cast("double"),
        approx_count_distinct(col("user_id")).cast("double"))
      .as[(Double, Double)].head()
    assert(math.abs(ap - ex) / ex < 0.15, s"HLL too far off: $ap vs $ex")
  }

  test("q37 BPE pre-tokenizer keeps mixed-case letter runs whole") {
    // "The USA won 3-0!" → The | ␣USA | ␣won | ␣3 | - | 0 | ! = 7 tokens;
    // a lowercase-only letter class would shatter "The" into T + he and
    // glue "USA" onto adjacent punctuation (ADVICE r6)
    val n = Seq("The USA won 3-0!").toDF("text")
      .select(size(expr(
        s"regexp_extract_all(text, '${Docs.BpePattern}', 0)")).as("n"))
      .as[Int].head()
    assert(n == 7)
  }

  test("q47 repetition metrics match hand-computed fractions, incl. a doc " +
    "too short for 3-grams") {
    val dir = tmp("graft_rep")
    Seq((0L, "a a a b"), (1L, "x y z"), (2L, "p q"))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val got = Docs.q47Repetition(spark, dir)
      .as[(Long, Option[Double], Option[Double], Option[Double],
        Option[Double], Option[Double], Option[Double])].collect().toSeq
    assert(got === Seq(
      // "a a a b": 1-grams a,a,a,b → top 3/4, dup 3/4; 2-grams "a a"×2,
      // "a b" → top 2/3, dup 2/3; 3-grams "a a a","a a b" → top 1/2, dup 0
      (0L, Some(0.75), Some(0.75), Some(0.6667), Some(0.6667),
        Some(0.5), Some(0.0)),
      // "x y z": all grams unique; single 3-gram is trivially "top" 1.0
      (1L, Some(0.3333), Some(0.0), Some(0.5), Some(0.0),
        Some(1.0), Some(0.0)),
      // "p q": no 3-gram exists → NULL fracs, not 0 (absence ≠ evidence)
      (2L, Some(0.5), Some(0.0), Some(1.0), Some(0.0), None, None)))
  }

  test("q47 is map-only: no exchange but the gate's final sort") {
    val plan = Docs.q47Repetition(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    val exchanges = "(?:Exchange|BroadcastExchange) \\S+".r
      .findAllIn(plan).toSeq
    assert(exchanges.size == 1 &&
      exchanges.head.contains("rangepartitioning"),
      s"q47 must not shuffle grams: $exchanges\n$plan")
  }

  test("q47 repetition fractions match an in-memory model on a randomized " +
    "small-vocab corpus (forced gram collisions)") {
    val rnd = new scala.util.Random(47)
    val vocab = Vector("a", "b", "c", "d", "e")
    val docs = (0L until 40L).map { i =>
      val len = 1 + rnd.nextInt(30)
      (i, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val dir = tmp("graft_rep_prop")
    docs.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val got = Docs.q47Repetition(spark, dir)
      .as[(Long, Option[Double], Option[Double], Option[Double],
        Option[Double], Option[Double], Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    // Spark's round() is HALF_UP over the decimal (toString) value — so is
    // Scala's BigDecimal(Double); the divisions are exact-integer doubles,
    // so the model is bit-compatible, not just approximately equal.
    def round4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    docs.foreach { case (id, text) =>
      val w = text.split(" ").toSeq
      def m(n: Int): (Option[Double], Option[Double]) = {
        val grams = w.sliding(n).filter(_.size == n).map(_.mkString(" ")).toSeq
        if (grams.isEmpty) (None, None)
        else {
          val c = grams.groupBy(identity).values.map(_.size).toSeq
          val tot = grams.size.toDouble
          (Some(round4(c.max / tot)),
            Some(round4(c.filter(_ > 1).sum / tot)))
        }
      }
      val (t1, d1) = m(1); val (t2, d2) = m(2); val (t3, d3) = m(3)
      assert(got(id) === ((id, t1, d1, t2, d2, t3, d3)), s"doc $id: '$text'")
    }
  }

  test("q48 decontamination: planted 8-gram overlaps are found and counted, " +
    "benchmark members and gram-free docs excluded, via a broadcast probe") {
    val dir = tmp("graft_decon")
    val bench = "w1 w2 w3 w4 w5 w6 w7 w8 w9" // doc 0: two 8-grams
    Seq(
      (0L, bench),                           // benchmark member (0 % 7 == 0)
      (1L, s"x $bench w1"),                  // shares both benchmark 8-grams
      (2L, "y w1 w2 w3 w4 w5 w6 w7 w8"),     // shares exactly one
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9"),    // 8-grams, none shared
      (4L, "w1 w2 w3 w4 w5 w6 w7"),          // too short for any 8-gram
      (7L, bench))                           // contaminated but 7 % 7 == 0
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val q = Docs.q48Decontaminate(spark, dir)
    assert(q.as[(Long, Long)].collect().toSeq === Seq((1L, 2L), (2L, 1L)))
    // the benchmark gram set must probe as a broadcast hash join — the
    // corpus side never shuffles on gram
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q49 stratified mix: copy counts obey the per-language rate bands, " +
    "the en downsample is near 0.5, and the draw is deterministic") {
    val got = Docs.q49StratifiedSample(spark, "/root/testdata/sf0.01")
      .as[(Long, String, Long)].collect()
    val byLang = got.groupBy(_._2)
    // rate bands: floor(r) <= n_copies <= ceil(r) for every surviving row
    Docs.MixRates.foreach { case (l, r) =>
      byLang.get(l).toSeq.flatten.foreach { case (id, _, c) =>
        assert(c >= math.floor(r).toLong && c <= math.ceil(r).toLong,
          s"$l doc $id: $c copies for rate $r")
      }
    }
    // en is a coin-flip downsample: kept fraction within a loose CLT band
    val enKept = byLang.getOrElse("en", Array.empty).length.toDouble / 218.0
    assert(enKept > 0.35 && enKept < 0.65, s"en kept fraction $enKept")
    // fr upsample: every fr doc survives with 2 or 3 copies
    assert(byLang("fr").length == 64)
    // deterministic: a second evaluation is identical
    val again = Docs.q49StratifiedSample(spark, "/root/testdata/sf0.01")
      .as[(Long, String, Long)].collect()
    assert(got.toSeq == again.toSeq)
  }

  test("q50 packing: token mass is conserved and every chunk's id equals " +
    "floor(its start offset / budget) — incl. budget-spanning docs that " +
    "legitimately skip chunk ids") {
    def checkInvariant(chunks: Array[(Long, Long, Long, Long, Long, Long)])
        : Unit =
      chunks.groupBy(_._1).foreach { case (shard, cs) =>
        val ordered = cs.sortBy(_._2)
        var offset = 0L // cumulative tokens of all earlier chunks
        ordered.foreach { case (_, chunkId, nDocs, nTokens, _, _) =>
          assert(chunkId === offset / Docs.PackBudget,
            s"shard $shard: chunk $chunkId does not start in its own window")
          assert(nDocs >= 1L)
          offset += nTokens
        }
      }
    val q50 = Docs.q50Pack(spark, "/root/testdata/sf0.01")
    val chunks = q50.as[(Long, Long, Long, Long, Long, Long)].collect()
    val totalTokens = spark.read
      .parquet("/root/testdata/sf0.01/documents.parquet")
      .selectExpr("sum(cast(size(split(text, ' ')) as long))").as[Long].head()
    assert(chunks.map(_._4).sum === totalTokens, "token conservation")
    checkInvariant(chunks)
    // the closing aggregate rides the window's shard partitioning
    // (hash-partitioning on shard satisfies the (shard, chunk_id) grouping):
    // exactly one hash exchange + the gate's final range sort, nothing
    // more — count EVERY exchange node so a SinglePartition degeneration
    // (global cumsum) or stray broadcast can't slip past the two named
    // kinds
    val plan = q50.queryExecution.executedPlan.toString
    val exchanges = "(?:Exchange|BroadcastExchange) \\S+".r
      .findAllIn(plan).toSeq
    assert(exchanges.size == 2 &&
      exchanges.count(_.contains("hashpartitioning")) == 1 &&
      exchanges.count(_.contains("rangepartitioning")) == 1,
      s"unexpected exchanges: $exchanges\n$plan")

    // a doc longer than the whole budget advances the offset past an
    // entire chunk window: ids skip (0, 2) and the invariant still holds
    val dir = tmp("graft_pack")
    Seq((0L, Seq.fill(5000)("t").mkString(" ")),
      (16L, Seq.fill(10)("t").mkString(" ")),
      (32L, Seq.fill(10)("t").mkString(" ")))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val skewed = Docs.q50Pack(spark, dir)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(skewed.map(c => (c._2, c._3)).toSeq.sorted ===
      Seq((0L, 1L), (2L, 2L)), s"got: ${skewed.toSeq}")
    checkInvariant(skewed)
  }

  test("q52 incremental dedup: corpus-known hashes rejected, within-batch " +
    "dups collapse to min doc_id, batch-unique docs admitted") {
    val dir = tmp("graft_incr")
    Seq(
      (0L, "known doc"),    // corpus (0 % 10 < 8)
      (1L, "other corpus"), // corpus
      (8L, "known doc"),    // batch: hash exists in corpus → rejected
      (9L, "fresh doc"),    // batch: unique → admitted
      (18L, "twin doc"),    // batch: within-batch dup pair...
      (19L, "twin doc"))    // ...collapses to doc 18 with n_in_batch 2
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val got = Docs.q52IncrementalDedup(spark, dir)
      .select("doc_id", "n_in_batch").as[(Long, Long)].collect().toSeq
    assert(got === Seq((9L, 1L), (18L, 2L)))
  }

  test("q52 at simulated corpus scale (broadcast disabled): shuffled " +
    "hash-partitioned LeftAnti, results identical to the broadcast plan") {
    val sfd = "/root/testdata/sf0.01"
    val expected = Docs.q52IncrementalDedup(spark, sfd)
      .as[(Long, String, Long)].collect().toSeq
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1") // a 100 TB corpus never fits the threshold
      val q = Docs.q52IncrementalDedup(spark, sfd)
      val got = q.as[(Long, String, Long)].collect().toSeq
      assert(got === expected)
      val plan = q.queryExecution.executedPlan.toString // post-exec: final
      assert(!plan.contains("BroadcastHashJoin"), plan)
      assert(plan.contains("LeftAnti"), plan)
      assert("hashpartitioning\\(content_hash".r.findFirstIn(plan).nonEmpty,
        plan)
    } finally spark.conf.set(key, saved)
  }

  test("q53 capstone equals the composition of its standalone legs " +
    "(recomputed in plain Scala from q16/q18/q48/q49 outputs) — at sf0.1, " +
    "where per-shard mass spans many chunks, so the packing cut is real") {
    val sfd = "/root/testdata/sf0.1"
    val stats = Docs.q16TextStats(spark, sfd)
      .select("doc_id", "n_tokens", "keep").as[(Long, Long, Boolean)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    val copies = Docs.q49StratifiedSample(spark, sfd)
      .select("doc_id", "n_copies").as[(Long, Long)].collect().toMap
    val reps = Docs.q18ExactDedup(spark, sfd)
      .select("rep_doc_id").as[Long].collect().toSet
    // q48 reports flagged non-benchmark docs; benchmark members with >= 8
    // words flag themselves in q53 (their grams are in the benchmark set)
    val flagged = Docs.q48Decontaminate(spark, sfd)
      .select("doc_id").as[Long].collect().toSet ++
      stats.keys.filter(id => id % 7 == 0 && stats(id)._1 >= 8)
    val survivors = stats.keys.toSeq.sorted.filter { id =>
      stats(id)._2 && copies.contains(id) && reps(id) && !flagged(id)
    }
    val expected = survivors.map(id => (id, id % 16, stats(id)._1 * copies(id)))
      .groupBy(_._2).toSeq.flatMap { case (shard, docs) =>
        var offset = 0L
        docs.sortBy(_._1).map { case (_, _, mass) =>
          val chunk = offset / Docs.PackBudget
          offset += mass
          ((shard, chunk), mass)
        }.groupBy(_._1).map { case ((sh, ch), ms) =>
          (sh, ch, ms.size.toLong, ms.map(_._2).sum)
        }
      }.sortBy(c => (c._1, c._2))
    val got = Docs.q53CorpusToBatches(spark, sfd)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got === expected)
    assert(got.nonEmpty && got.map(_._3).sum == survivors.size)
    // at this scale the cut is exercised: multiple chunks per shard
    assert(got.groupBy(_._1).values.forall(_.size > 1),
      s"every shard should span >1 chunk, got ${got.groupBy(_._1).view.mapValues(_.size).toMap}")
  }

  test("q38 end-to-end near-dup: pairs are ordered, deduplicated, and all " +
    "clear the threshold") {
    val rows = Vectors.q38CosineNeardup(spark, "/root/testdata/sf0.01")
      .as[(Long, Long, Double)].collect()
    assert(rows.nonEmpty, "gate-scale data should yield near-dup pairs")
    assert(rows.forall { case (a, b, c) =>
      a < b && c >= Vectors.NearDupThreshold })
    assert(rows.map(r => (r._1, r._2)).distinct.length == rows.length)
  }

  test("LSH buckets are locality-sensitive: same-bucket pairs are more " +
    "similar than the population") {
    val topk = Vectors.q21TopkCosine(spark, sf)
      .select("query_id", "neighbor_id", "cos_sim").as[(Long, Long, Double)]
      .collect()
    val lsh = Vectors.lshTopk(spark, sf, 10)
      .select("query_id", "neighbor_id", "cos_sim").as[(Long, Long, Double)]
      .collect()
    assert(lsh.nonEmpty)
    // mean cosine of pairs LSH co-bucketed vs mean cosine of the true top-10
    // lists' tail-end; same-bucket pairs must beat the global mean by a wide
    // margin for bucketing to be a useful ANN pre-filter.
    val lshMean = lsh.map(_._3).sum / lsh.length
    val allPairsMean = {
      val e = Vectors.q22LshBuckets(spark, sf)
      // population baseline: mean cos over the brute-force candidates of the
      // 5 query vectors, ranks 1..10 — an upper-skewed baseline, so beating
      // its global mean is conservative.
      val all = topk.map(_._3)
      all.sum / all.length
    }
    assert(lshMean > 0, s"lsh mean $lshMean")
    info(f"lsh-pair mean cos = $lshMean%.4f, brute-force top-10 mean = $allPairsMean%.4f")
  }

  test("LSH top-k agrees with brute force on cos values for shared pairs " +
    "(recall > 0)") {
    val bf = Vectors.q21TopkCosine(spark, sf)
      .select("query_id", "neighbor_id", "cos_sim").as[(Long, Long, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    val lsh = Vectors.lshTopk(spark, sf, 10)
      .filter(col("query_id") < 5)
      .select("query_id", "neighbor_id", "cos_sim").as[(Long, Long, Double)]
      .collect()
    val shared = lsh.filter(r => bf.contains((r._1, r._2)))
    assert(shared.nonEmpty, "LSH found none of the brute-force top-10")
    shared.foreach { r => assert(math.abs(bf((r._1, r._2)) - r._3) < 1e-9) }
    info(s"recall of brute-force top-10 via one-bucket probe: " +
      s"${shared.length}/${lsh.count(_._1 < 5).max(1)}")
  }

  test("q68 gate form equals the full-corpus lshTopk restricted to the " +
    "query ids, and broadcasts the query side (the corpus never shuffles " +
    "into the probe join)") {
    val gate = Vectors.q68LshTopk(spark, sf)
    def keyed(rows: Array[(Long, Long, Double, Long)]) =
      rows.map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    val g = keyed(gate.select("query_id", "neighbor_id", "cos_sim", "rank")
      .as[(Long, Long, Double, Long)].collect())
    val full = keyed(Vectors.lshTopk(spark, sf, 10)
      .filter(col("query_id") < 5)
      .select("query_id", "neighbor_id", "cos_sim", "rank")
      .as[(Long, Long, Double, Long)].collect())
    assert(g == full, "gate form diverged from the library lshTopk")
    val plan = gate.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("IVF: every vector lands in exactly one cluster; probed top-k " +
    "overlaps brute force with matching scores") {
    val (assigned, centroids) = Vectors.ivfAssign(spark, sf, k = 16, iters = 3)
    assert(assigned.count() == 500)
    assert(assigned.select("vec_id").distinct().count() == 500)
    assert(centroids.count() == 16)

    val bf = Vectors.q21TopkCosine(spark, sf)
      .select("query_id", "neighbor_id", "cos_sim").as[(Long, Long, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    val ivf = Scratch.pinned(Scratch.pin(assigned))(a =>
      Vectors.ivfProbe(a, centroids, nprobe = 4, topk = 10)
        .select("query_id", "neighbor_id", "cos_sim")
        .as[(Long, Long, Double)].collect())
    assert(ivf.nonEmpty)
    val shared = ivf.filter(r => bf.contains((r._1, r._2)))
    assert(shared.nonEmpty, "IVF(4/16 probes) found none of the true top-10")
    shared.foreach { r =>
      assert(math.abs(bf((r._1, r._2)) - r._3) <= 2e-4,
        s"score mismatch for $r vs ${bf((r._1, r._2))}")
    }
    info(s"IVF recall of brute-force top-10: ${shared.length}/${bf.size}")
  }

  test("IVF disk-index probe returns exactly the in-memory build-then-probe " +
    "result (parquet doubles round-trip bit-exactly)") {
    val p = Vectors.ivfIndexPath(spark, sf, Vectors.IvfGateK)
    val fromDisk = Vectors.ivfProbe(
        spark.read.parquet(s"$p/lists"), spark.read.parquet(s"$p/centroids"),
        Vectors.IvfGateNprobe, Vectors.IvfGateTopK)
      .select("query_id", "neighbor_id", "cos_sim", "rank")
      .as[(Long, Long, Double, Long)].collect().sortBy(r => (r._1, r._4))
    val (assigned, centroids) =
      Vectors.ivfAssign(spark, sf, Vectors.IvfGateK, iters = 3)
    val inMem = Scratch.pinned(Scratch.pin(assigned))(a =>
      Vectors.ivfProbe(a, centroids, Vectors.IvfGateNprobe,
          Vectors.IvfGateTopK)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
        .as[(Long, Long, Double, Long)].collect().sortBy(r => (r._1, r._4)))
    assert(fromDisk.nonEmpty && fromDisk.sameElements(inMem))
  }

  test("incremental IVF: batch assignment into frozen centroids equals the " +
    "full index's own assignment; the appended layout serves probes " +
    "identically to the unsplit index") {
    val (assignedAll, cents) = Vectors.ivfAssign(spark, sf, k = 8, iters = 3)
    val emb = TripleStore.table(spark, sf, "embeddings")
    val corpus = emb.filter(col("vec_id") % 10 < 8)
    val batch = emb.filter(col("vec_id") % 10 >= 8)
    // frozen centroids => assignment is per-vector: the incremental path
    // must give every batch vector exactly the list the full build chose
    val inc = Vectors.ivfAssignBatch(batch, cents)
      .select("vec_id", "cluster").as[(Long, Long)].collect().toMap
    val full = assignedAll.filter(col("vec_id") % 10 >= 8)
      .select("vec_id", "cluster").as[(Long, Long)].collect().toMap
    assert(inc == full, "batch-assigned lists diverged from full rebuild")

    // daily-crawl shape end to end: corpus-only layout + appended batch
    // must serve the SAME probes as the unsplit index
    val out = tmp("graft_ivf_inc")
    Vectors.ivfAssignBatch(corpus, cents)
      .repartitionByRange(col("cluster"))
      .sortWithinPartitions("cluster", "vec_id")
      .write.parquet(s"$out/lists")
    cents.write.parquet(s"$out/centroids")
    Vectors.ivfAppendBatch(spark, out, batch)
    val appendedLists = spark.read.parquet(s"$out/lists")
      .select("vec_id", "cluster").as[(Long, Long)].collect().toMap
    val allLists = assignedAll
      .select("vec_id", "cluster").as[(Long, Long)].collect().toMap
    assert(appendedLists == allLists,
      "append left the layout's list membership != full index")
    def probe(idx: org.apache.spark.sql.DataFrame,
        cs: org.apache.spark.sql.DataFrame) =
      Vectors.ivfProbe(idx, cs, nprobe = 2, topk = 5)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
        .as[(Long, Long, Double, Long)].collect().sortBy(r => (r._1, r._4))
    val viaAppended = probe(spark.read.parquet(s"$out/lists"),
      spark.read.parquet(s"$out/centroids"))
    val viaFull = probe(assignedAll, cents)
    assert(viaAppended.nonEmpty && viaAppended.sameElements(viaFull))

    // replay guard: re-appending the same batch UNDER A BATCH ID is
    // suppressed — list membership (and therefore probe ranks) unchanged;
    // the guard's marker is underscore-prefixed so the reader never sees it
    Vectors.ivfAppendBatch(spark, out, batch, batchId = Some(7L))
    Vectors.ivfAppendBatch(spark, out, batch, batchId = Some(7L))
    val afterReplay = spark.read.parquet(s"$out/lists")
      .groupBy("vec_id").count().filter(col("count") > 2).count()
    // batch was appended once un-guarded (above) + once guarded = 2 copies
    // of each batch vec_id; the guarded REPLAY must not make a third
    assert(afterReplay == 0L,
      "guarded replay duplicated vec_ids in the lists layout")
    // the guard is scoped to the STREAM: a different stream's batch 7 is
    // new data (per-stream batch ids restart at 0), not a replay — it must
    // append, and only IT (batch vec_ids now at 3 copies, never 4)
    Vectors.ivfAppendBatch(spark, out, batch, batchId = Some(7L),
      streamId = "gen2")
    Vectors.ivfAppendBatch(spark, out, batch, batchId = Some(7L),
      streamId = "gen2")
    val counts = spark.read.parquet(s"$out/lists")
      .groupBy("vec_id").count().agg(max(col("count"))).as[Long].head()
    assert(counts == 3L,
      s"cross-stream append broke the scope: max copies $counts (want 3)")
  }

  test("incremental IVF: two streams whose ids differ only in characters " +
    "a file name cannot hold keep separate replay markers, so both batch 0s " +
    "land") {
    val (_, cents) = Vectors.ivfAssign(spark, sf, k = 8, iters = 3)
    val batch = TripleStore.table(spark, sf, "embeddings")
      .filter(col("vec_id") % 10 >= 8)
    val out = tmp("graft_ivf_scope")
    cents.write.parquet(s"$out/centroids")
    Seq("a/b", "a_b").foreach(id => Vectors.ivfAppendBatch(spark, out, batch,
      batchId = Some(0L), streamId = id))
    val copies = spark.read.parquet(s"$out/lists").groupBy("vec_id").count()
      .select("count").distinct().as[Long].collect().toSeq
    assert(copies == Seq(2L),
      s"per-vec_id copies $copies: one stream's batch 0 read as a replay")
  }

  test("int8-at-rest IVF (r17): ivfProbeQuantized over a quantized lists " +
    "layout returns exactly ivfProbe over the decoded normalized view " +
    "(the quantized probe moves the decode above the cluster join and " +
    "re-associates the cosine as dot/norm — ulp-equivalent under the " +
    "4-decimal stable round), and ivfAppendBatchQuantized preserves list " +
    "membership + the replay guard") {
    val emb = TripleStore.table(spark, sf, "embeddings")
    val corpus = emb.filter(col("vec_id") % 10 < 8)
    val batch = emb.filter(col("vec_id") % 10 >= 8)
    val (_, cents) = Vectors.ivfAssign(spark, sf, k = 8, iters = 3)
    // the int8-at-rest layout: assignment from the DEQUANTIZED view (the
    // store is the source of truth), rows carry the q58 codec projection
    val out = tmp("graft_ivf_q")
    val qstore = Vectors.quantizedStoreRows(corpus).localCheckpoint(true)
    Vectors.ivfAssignBatch(Vectors.dequantizedView(qstore), cents)
      .select("vec_id", "cluster")
      .join(qstore, Seq("vec_id"))
      .repartitionByRange(col("cluster"))
      .sortWithinPartitions("cluster", "vec_id")
      .write.parquet(s"$out/lists")
    cents.write.parquet(s"$out/centroids")
    val lists = spark.read.parquet(s"$out/lists")
    // the decoded view, built from the SAME decode+normalize forms
    val view = lists.filter(col("max_abs_micro") > 0)
      .select(col("vec_id"), col("cluster"),
        expr("transform(q, x -> CAST(x AS DOUBLE) * max_abs_micro" +
          " / 127000000.0D)").as("d"))
      .select(col("vec_id"), col("cluster"), expr(
        "transform(d, x -> x / sqrt(aggregate(zip_with(d, d, (a, b) -> " +
          "a * b), CAST(0 AS DOUBLE), (acc, p) -> acc + p)))").as("v"))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id", "cos_sim", "rank")
      .as[(Long, Long, Double, Long)].collect().sortBy(r => (r._1, r._4))
    val viaQuantized = rows(
      Vectors.ivfProbeQuantized(lists, cents, nprobe = 2, topk = 5))
    val viaView = rows(Vectors.ivfProbe(view, cents, nprobe = 2, topk = 5))
    assert(viaQuantized.nonEmpty && viaQuantized.sameElements(viaView),
      "quantized probe diverged from ivfProbe over the decoded view")
    // quantized append: membership equals the float append's choice
    // (same frozen-centroid assignment kernel), replay guard intact
    Vectors.ivfAppendBatchQuantized(spark, out, batch, batchId = Some(3L))
    Vectors.ivfAppendBatchQuantized(spark, out, batch, batchId = Some(3L))
    val grown = spark.read.parquet(s"$out/lists")
    assert(grown.groupBy("vec_id").count()
      .filter(col("count") > 1).count() == 0L,
      "guarded quantized replay duplicated vec_ids")
    val incQ = grown.filter(col("vec_id") % 10 >= 8)
      .select("vec_id", "cluster").as[(Long, Long)].collect().toMap
    val incF = Vectors.ivfAssignBatch(batch, cents)
      .select("vec_id", "cluster").as[(Long, Long)].collect().toMap
    assert(incQ.keySet == incF.keySet,
      "quantized append dropped or invented batch vectors")
    // cluster choice may differ only through the codec's own rounding of
    // the vector DIRECTION; on the real embeddings fixture it should not
    val moved = incQ.count { case (id, c) => incF(id) != c }
    assert(moved == 0, s"$moved batch vectors changed cluster under int8")
    // and the grown quantized layout still probes
    assert(rows(Vectors.ivfProbeQuantized(grown, cents,
      nprobe = 2, topk = 5)).nonEmpty)
  }

  test("q71 recall gate: IVF recall clears the floor with margin, LSH " +
    "recall rides along unfloored, and a broken floor raises LOUDLY") {
    val rows = Vectors.q71AnnRecall(spark, sf)
      .select("query_id", "n_exact", "n_hits_ivf", "n_hits_lsh", "floor_ok")
      .as[(Long, Long, Long, Long, Boolean)].collect()
    assert(rows.length == 5 && rows.forall(_._5), rows.mkString(","))
    val (te, ti) = (rows.map(_._2).sum, rows.map(_._3).sum)
    // measured r10 on sf0.001: 23/25 — re-pin so silent drift is visible
    assert(te == 25L && ti == 23L, s"IVF recall moved: $ti/$te")
    // floor margin: the gate constant sits well under the measured minimum
    assert(100 * ti >= te * (Vectors.RecallFloorPct + 20),
      s"floor ${Vectors.RecallFloorPct}% has < 20-point margin on $ti/$te")
    // a floor the data cannot meet must raise descriptively, not emit false
    val ex = intercept[Exception] {
      Vectors.q71AnnRecall(spark, sf, floorPct = 101).collect()
    }
    def messages(t: Throwable): List[String] =
      if (t == null) Nil
      else Option(t.getMessage).toList ++ messages(t.getCause)
    assert(messages(ex).mkString("\n").contains("recall floor broken"),
      s"expected a loud recall failure, got: ${messages(ex).mkString("\n")}")
  }

  test("minhash candidates catch every very-near-duplicate pair") {
    // jaccard >= 0.9 pairs have band-collision probability ~1-(1-0.9^2)^4
    // ≈ 0.9987; the driver's planted dups are ~0.97+, so all must be found.
    val pairs = Docs.q19MinhashPairs(spark, sf)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(_._3 >= Docs.JaccardThreshold))
  }

  test("text pipeline prunes the documents scan to the columns it reads") {
    // documents carries (doc_id, text, lang, source, n_chars); the stats
    // query needs two of them — at 100 TB reading the rest is pure waste,
    // so the parquet scan's ReadSchema must show the pruned projection
    val plan = Docs.q16TextStats(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"documents scan not pruned to (doc_id, text):\n$plan")
  }

  test("dedup/ANN pipelines leave no cached plans behind (call-scoped caches)") {
    // the internal .cache()s (shingles, refined banding, lsh projection)
    // must be dropped before each pipeline returns — a long-lived session
    // running repeated sweeps must not accumulate storage-memory blocks
    val df = (1L to 10L).map(s => (s, vec(s.toInt))).toDF("vec_id", "embedding")
    Docs.q19MinhashPairs(spark, sf).count()
    Vectors.cosineNearDupPairs(df, threshold = 0.98, numBands = 2,
      planesPerBand = 16, maxBucketSize = 1 << 20).count()
    Vectors.lshTopk(spark, sf, 3).count()
    assert(spark.sharedState.cacheManager.isEmpty,
      "cacheManager should hold no entries after the pipelines return")
  }

  test("embedding-cosine near-dup: finds the planted near-identical pair, " +
    "never the distant ones, without an all-pairs join") {
    // fixture: vectors 1 and 2 are near-identical; 3..20 are independent
    // Gaussians (expected pairwise cosine ~0, deterministic via fixed seeds)
    val near = vec(1).clone(); near(0) = near(0) + 1e-4f
    val rows = Seq((1L, vec(1)), (2L, near)) ++
      (3L to 20L).map(s => (s, vec(s.toInt)))
    val df = rows.toDF("vec_id", "embedding")
    val pairs = Vectors.cosineNearDupPairs(df, threshold = 0.98,
        numBands = 2, planesPerBand = 16, maxBucketSize = 1 << 20)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("LSH bucket width is the scale dial: occupancy shrinks as planes " +
    "are added") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    def stats(p: Int): (Long, Long) =
      Vectors.bandedProjection(emb, 1, p)
        .groupBy("band_val").count()
        .agg(max("count"), count(lit(1))).as[(Long, Long)].head()
    val byPlanes = Seq(8, 10, 12, 16).map(p => p -> stats(p)).toMap
    info(s"(maxPop, nBuckets) by planes: $byPlanes")
    // widening only splits buckets (bit k's bucket is a prefix of bit k+1's),
    // so the worst bucket must shrink monotonically...
    Seq(8 -> 10, 10 -> 12, 12 -> 16).foreach { case (a, b) =>
      assert(byPlanes(b)._1 <= byPlanes(a)._1, s"max grew from $a to $b planes")
    }
    // ...and materially: 8 extra planes must at least halve the worst bucket
    // and more than double the occupied-bucket count on the driver vectors
    assert(byPlanes(16)._1 * 2 <= byPlanes(8)._1, s"$byPlanes")
    assert(byPlanes(16)._2 > byPlanes(8)._2 * 2, s"$byPlanes")
  }

  test("over-full-bucket guard: refinement caps the worst bucket, loses no " +
    "rows, and only extends bucket ids") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    // deliberately degenerate start: 1 band × 2 planes = 4 coarse buckets
    val banded = Vectors.bandedProjection(emb, 1, 2)
    val refined = Vectors.refineOverfullBuckets(banded,
      maxBucketSize = 16, firstReservedPlane = 2, step = 4)
    assert(refined.count() == banded.count())
    val maxPop = refined.groupBy("band_idx", "band_val").count()
      .agg(max("count")).as[Long].head()
    assert(maxPop <= 16, s"guard left a bucket of $maxPop")
    // every refined id is an extension of the original 2-bit bucket
    assert(refined.filter(length(col("band_val")) < 2).isEmpty)
  }

  test("recall survives 16-plane bands: planted near-identical pair found " +
    "under the scale config, with and without a tight bucket cap") {
    val near = vec(1).clone(); near(0) = near(0) + 1e-4f
    val rows = Seq((1L, vec(1)), (2L, near)) ++
      (3L to 20L).map(s => (s, vec(s.toInt)))
    val df = rows.toDF("vec_id", "embedding")
    val wide = Vectors.cosineNearDupPairs(df, threshold = 0.98,
        numBands = 4, planesPerBand = 16, maxBucketSize = 1 << 20)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(wide == Set((1L, 2L)))
    val capped = Vectors.cosineNearDupPairs(df, threshold = 0.98,
        numBands = 2, planesPerBand = 16, maxBucketSize = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped == Set((1L, 2L)))
  }

  test("wide SimHash: the 64-bit scale config shrinks band buckets and " +
    "its pairs are a verified subset of the 32-bit gate result") {
    def maxBandPop(bits: Int): Long = {
      val w = bits / 4
      val stackArgs = (0 until 4)
        .map(b => s"'$b', substring(simhash, ${b * w + 1}, $w)").mkString(", ")
      Docs.simhashBits(spark, sf, bits)
        .select(expr(s"stack(4, $stackArgs) AS (band_idx, band_val)"))
        .groupBy("band_idx", "band_val").count()
        .agg(max("count")).as[Long].head()
    }
    val (pop32, pop64) = (maxBandPop(32), maxBandPop(64))
    info(s"max band-bucket population: 32-bit=$pop32, 64-bit=$pop64")
    assert(pop64 <= pop32)
    // the 64-bit simhash's first 32 bits ARE the 32-bit simhash, so any
    // hamming<=1 pair at 64 bits has hamming<=1 on the prefix: the wide
    // config may only tighten the gate result, never contradict it
    val gate = Docs.q24SimhashNeardup(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val wide = Docs.simhashNeardupPairs(spark, sf, simBits = 64)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(wide.nonEmpty, "64-bit config found no near-dups at all")
    assert(wide.subsetOf(gate), s"wide pairs not in gate: ${wide.diff(gate)}")
  }

  test("winnowing: near-dup docs share most fingerprints; distinct docs " +
    "share few") {
    val fps = graft.operators.Docs.q26Winnowing(spark, sf)
      .as[(Long, Long)].collect()
      .groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).toSet }
    // planted near-dup pair at sf0.001 (q19 jaccard 0.9865) vs unrelated
    def overlap(a: Long, b: Long): Double = {
      val (x, y) = (fps(a), fps(b))
      x.intersect(y).size.toDouble / x.union(y).size
    }
    assert(overlap(8L, 120L) > 0.8, s"near-dups: ${overlap(8L, 120L)}")
    assert(overlap(8L, 9L) < 0.3, s"unrelated: ${overlap(8L, 9L)}")
  }

  test("sample split: deterministic, total, and near the 80/10/10 design") {
    val s1 = Docs.q29SampleSplit(spark, sf).as[(Long, String)].collect()
    val s2 = Docs.q29SampleSplit(spark, sf).as[(Long, String)].collect()
    assert(s1 sameElements s2)                     // pure function of doc_id
    assert(s1.length == 500)
    val frac = s1.groupBy(_._2).view.mapValues(_.length / 500.0).toMap
    // binomial noise at n=500: ±4–5% around the 80.1/9.8/10.2 cut design
    assert(frac("train") > 0.72 && frac("train") < 0.88, s"$frac")
    assert(frac("val") > 0.05 && frac("val") < 0.16, s"$frac")
    assert(frac("test") > 0.05 && frac("test") < 0.16, s"$frac")
  }

  test("curation pipeline: output is quality-kept, language-en, dedup " +
    "representatives only") {
    val q30 = Docs.q30Curation(spark, sf)
    // the fused pipeline must read documents ONCE (single scan leaf), not
    // once per leg
    assert(q30.queryExecution.executedPlan.collectLeaves().size == 1)
    val out = q30.select("doc_id").as[Long].collect().toSet
    assert(out.nonEmpty)
    val kept = Docs.q16TextStats(spark, sf)
      .filter(col("keep")).select("doc_id").as[Long].collect().toSet
    val reps = Docs.q18ExactDedup(spark, sf)
      .select("rep_doc_id").as[Long].collect().toSet
    val en = Docs.q17LangId(spark, sf)
      .filter(col("pred_lang") === "en").select("doc_id").as[Long].collect().toSet
    assert(out == (kept intersect reps intersect en))
  }

  test("multimodal: binaryFile source end-to-end — real files from disk " +
    "through mediaFromFiles into the batch decoder") {
    val dir = java.nio.file.Paths.get(tmp("graft_media"))
    val payloads = Map(
      7L -> ("png", Array.tabulate(300)(i => (i % 251).toByte)),
      42L -> ("jpg", "real bytes from a real file".getBytes("UTF-8")),
      99L -> ("bin", Array[Byte](0, -1, 127, -128)))
    payloads.foreach { case (id, (ext, bytes)) =>
      java.nio.file.Files.write(dir.resolve(s"$id.$ext"), bytes); ()
    }
    val rows = Multimodal.mediaFromFiles(spark, dir.toString)
      .collect().map(r => r.doc_id -> r).toMap
    assert(rows.keySet == payloads.keySet)
    payloads.foreach { case (id, (ext, bytes)) =>
      val r = rows(id)
      assert(r.format == ext && r.n_bytes == bytes.length.toLong &&
        java.util.Arrays.equals(r.media, bytes),
        s"file $id.$ext did not round-trip: $r")
    }
    // and the production rows flow through the per-partition decoder —
    // features match a local headerDecode of the raw bytes exactly
    val feats = Multimodal
      .extractImageFeatures(Multimodal.mediaFromFiles(spark, dir.toString))
      .collect().map(f => f.doc_id -> f).toMap
    payloads.foreach { case (id, (ext, bytes)) =>
      val expect = Multimodal.headerDecode(
        Multimodal.MediaRow(id, bytes, ext, bytes.length.toLong))
      val got = feats(id)
      assert(got.features.sameElements(expect.features) &&
        got.width == expect.width && got.height == expect.height,
        s"decoder drifted on $id: $got vs $expect")
    }
  }

  // Real image fixture: pixels through the JDK's own encoders — the decode
  // side must round-trip genuine PNG/JPEG/GIF container bytes, not bytes we
  // crafted to match our own parser.
  private def encodeImage(fmt: String, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until w; y <- 0 until h)
      img.setRGB(x, y, (x * 31 + y * 97) & 0xffffff)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt encoder")
    bos.toByteArray
  }

  test("multimodal: imageDims round-trips real PNG/JPEG/GIF bytes written " +
    "by the JVM's own encoders") {
    for (fmt <- Seq("png", "jpg", "gif")) {
      val bytes = encodeImage(fmt, 37, 23)
      assert(Multimodal.imageDims(bytes).contains((37, 23)),
        s"$fmt: got ${Multimodal.imageDims(bytes)} from ${bytes.length} bytes")
    }
  }

  test("multimodal: imageDims walks JPEG marker segments (EXIF/comment " +
    "before a progressive SOF2) and refuses malformed bytes") {
    def seg(marker: Int, payload: Array[Byte]): Array[Byte] =
      Array(0xff.toByte, marker.toByte,
        ((payload.length + 2) >> 8).toByte, ((payload.length + 2) & 0xff).toByte
      ) ++ payload
    // SOI, APP1 (EXIF-ish junk), COM, then SOF2 (progressive): precision 8,
    // height 480, width 640
    val sof2 = Array[Byte](8, 0x01, 0xe0.toByte, 0x02, 0x80.toByte, 3)
    val jpeg = Array(0xff.toByte, 0xd8.toByte) ++
      seg(0xe1, "Exif  junkjunk".getBytes("ISO-8859-1")) ++
      seg(0xfe, "a comment".getBytes) ++ seg(0xc2, sof2)
    assert(Multimodal.imageDims(jpeg).contains((640, 480)))
    // DHT (0xC4) must be skipped, not read as a frame header
    val withDht = Array(0xff.toByte, 0xd8.toByte) ++
      seg(0xc4, Array[Byte](0, 1, 2, 3, 4, 5, 6)) ++ seg(0xc0, sof2)
    assert(Multimodal.imageDims(withDht).contains((640, 480)))
    // refusals: not an image, truncated PNG, desynced JPEG, empty
    assert(Multimodal.imageDims("plain text bytes".getBytes).isEmpty)
    assert(Multimodal.imageDims(encodeImage("png", 9, 9).take(20)).isEmpty)
    assert(Multimodal.imageDims(
      Array(0xff.toByte, 0xd8.toByte) ++ "garbage after SOI".getBytes).isEmpty)
    assert(Multimodal.imageDims(Array.empty[Byte]).isEmpty)
    // a TRUNCATED frame header (len < 8 can't hold precision+h+w) must be
    // refused, not have its "dims" read from the following segment's bytes
    val truncatedSof = Array(0xff.toByte, 0xd8.toByte) ++
      seg(0xc0, Array.empty[Byte]) ++ seg(0xdb, Array[Byte](1, 2, 3, 4, 5, 6))
    assert(Multimodal.imageDims(truncatedSof).isEmpty,
      "dims were read past a truncated SOF segment's payload")
  }

  test("multimodal: extractImageFeatures carries real dimensions for image " +
    "payloads and degrades to the stub for non-images, end-to-end from disk") {
    val dir = java.nio.file.Paths.get(tmp("graft_media_img"))
    val png = encodeImage("png", 64, 48)
    val jpg = encodeImage("jpg", 17, 11)
    java.nio.file.Files.write(dir.resolve("1.png"), png)
    java.nio.file.Files.write(dir.resolve("2.jpg"), jpg)
    java.nio.file.Files.write(dir.resolve("3.txt"), "not an image".getBytes)
    val feats = Multimodal
      .extractImageFeatures(Multimodal.mediaFromFiles(spark, dir.toString))
      .collect().map(f => f.doc_id -> f).toMap
    assert((feats(1L).width, feats(1L).height) == (64, 48))
    assert((feats(2L).width, feats(2L).height) == (17, 11))
    val stub = Multimodal.fakeDecode(Multimodal.MediaRow(
      3L, "not an image".getBytes, "txt", 12L))
    assert((feats(3L).width, feats(3L).height) == (stub.width, stub.height))
    // histograms stay the byte-level ones regardless of header parsing
    val pngStub = Multimodal.fakeDecode(
      Multimodal.MediaRow(1L, png, "png", png.length.toLong))
    assert(feats(1L).features.sameElements(pngStub.features))
  }

  test("multimodal: q77's synthetic containers decode to the formula dims " +
    "through the REAL header parser, and the raw residue takes the None " +
    "degradation — the gate entry's derivation, pinned at the unit level") {
    (0L to 40L).foreach { id =>
      val (bytes, fmt) = Multimodal.syntheticContainer(id)
      val decoded = Multimodal.imageDims(bytes)
      if (fmt == "raw") assert(decoded.isEmpty,
        s"id $id: non-image payload must not parse as an image")
      else assert(decoded == Some(((id % 509 + 1).toInt, (id % 389 + 1).toInt)),
        s"id $id ($fmt): header decode diverged from the derivation formula")
      // headerDecode (the gate's per-partition kernel) agrees
      val f = Multimodal.headerDecode(
        Multimodal.MediaRow(id, bytes, fmt, bytes.length.toLong))
      val expected = decoded.getOrElse(
        ((bytes.length % 640), (bytes.length % 480)))
      assert((f.width, f.height) == expected, s"id $id headerDecode dims")
    }
  }

  test("q85: the int8 serving probe's plan is the scale shape — queries " +
    "broadcast (corpus never shuffles whole) and the rank filter becomes a " +
    "partial WindowGroupLimit BEFORE the exchange, so the one shuffle " +
    "carries per-partition top-k survivors only") {
    val df = graft.operators.Vectors.q85QuantizedTopk(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"query side not broadcast:\n$plan")
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"),
      s"no partial WindowGroupLimit ahead of the top-k exchange:\n$plan")
    // r18: q85 serves FROM the materialized int8-at-rest layout — the scan
    // must read the quantized store parquet (true int8 scan bandwidth),
    // not re-quantize the float embeddings table per query...
    assert(plan.contains("graft_q8store"),
      s"q85 must scan the materialized quantized store layout:\n$plan")
    // ...and the served relation is IDENTICAL to the inline-quantizing
    // form (the store row is the codec row by construction), so the
    // oracle carries over unchanged
    val inline = graft.operators.Vectors.quantizedServingTopk(
      graft.TripleStore.table(spark, sf, "embeddings"), 10)
      .orderBy("query_id", "rank")
    assert(df.collect().toSeq == inline.collect().toSeq,
      "store-served q85 diverged from the inline-quantized serving form")
  }

  test("q86: the quantized-IVF gate row serves from the materialized int8 " +
    "lists layout, its store-scan assignment matches the assignStep route, " +
    "and the probe equals ivfProbeQuantized over the same layout") {
    import org.apache.spark.sql.functions._
    val df = Vectors.q86IvfQuantized(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // the gate row reads the materialized quantized index, not a rebuild
    assert(plan.contains("graft_ivfq"),
      s"q86 must scan the materialized quantized IVF layout:\n$plan")
    // probes broadcast; the lists side never shuffles whole
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"q86 probe side not broadcast:\n$plan")
    // membership identity: the one-scan store-side assignment (decode →
    // validity → normalize → argmax inline on the quantized rows) must
    // equal routing the decoded view through the shared assignStep kernel
    val p = Vectors.ivfQuantizedIndexPath(spark, sf)
    val lists = spark.read.parquet(s"$p/lists")
    val inline = lists.select("vec_id", "cluster")
      .as[(Long, Long)].collect().toMap
    val viaAssign = Vectors.ivfAssignBatch(
        Vectors.dequantizedView(spark.read.parquet(s"$p/lists")
          .select("vec_id", "max_abs_micro", "q")),
        spark.read.parquet(s"$p/centroids"))
      .select("vec_id", "cluster").as[(Long, Long)].collect().toMap
    assert(inline == viaAssign,
      "store-scan assignment diverged from the assignStep route")
    // and the row count covers every codec-valid vector
    val nValid = Vectors.quantizedStoreRows(
        TripleStore.table(spark, sf, "embeddings"))
      .filter(col("max_abs_micro") > 0).count()
    assert(lists.count() == nValid,
      "quantized lists dropped or invented vectors")
  }

  test("multimodal: q82 serves the q77 relation through the REAL binaryFile " +
    "source — the executed plan carries the binaryFile scan and the values " +
    "match the typed-map ingest path row for row") {
    val q82 = graft.functions.Multimodal.q82MediaFiles(spark, sf)
    val plan = q82.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("binaryfile"),
      s"q82's plan lost the binaryFile scan:\n$plan")
    val fromFiles = q82.collect().map(_.toSeq).toSeq
    val fromMap = graft.functions.Multimodal.q77MediaDims(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(fromFiles == fromMap,
      "binaryFile ingest diverged from the typed-map ingest")
  }

  test("multimodal: a non-conforming file name fails loudly with its path, " +
    "not as an opaque null-encoder error downstream") {
    val dir = java.nio.file.Paths.get(tmp("graft_media_bad"))
    java.nio.file.Files.write(dir.resolve("7.png"), Array[Byte](1, 2, 3))
    java.nio.file.Files.write(dir.resolve("README.txt"), "oops".getBytes)
    val ex = intercept[Exception] {
      Multimodal.mediaFromFiles(spark, dir.toString).collect()
    }
    // Spark wraps the raise_error in a SparkRuntimeException chain; the
    // descriptive message with the offending path must survive it
    def messages(t: Throwable): List[String] =
      if (t == null) Nil
      else Option(t.getMessage).toList ++ messages(t.getCause)
    val all = messages(ex).mkString("\n")
    assert(all.contains("mediaFromFiles") && all.contains("README.txt"),
      s"expected a descriptive failure naming the file, got:\n$all")
  }

  /** `documents` as media rows: the UTF-8 text bytes are the payload. */
  private def textMedia: org.apache.spark.sql.Dataset[Multimodal.MediaRow] =
    spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("media"),
        lit("text/plain").as("format"),
        octet_length(col("text")).cast("bigint").as("n_bytes"))
      .as[Multimodal.MediaRow]

  test("multimodal: typed batch feature extraction is deterministic with " +
    "fixed width and normalized histogram") {
    val media = textMedia
    val feats1 = Multimodal.extractImageFeatures(media).collect()
      .sortBy(_.doc_id)
    val feats2 = Multimodal.extractImageFeatures(media).collect()
      .sortBy(_.doc_id)
    assert(feats1.length == 500)
    assert(feats1.forall(_.features.length == 8))
    feats1.foreach { f =>
      val s = f.features.sum
      assert(math.abs(s - 1f) < 1e-3, s"histogram not normalized: $s")
    }
    assert(feats1.map(_.features.toSeq) sameElements feats2.map(_.features.toSeq))
  }

  test("banded near-dup candidate generation is an equi-join, never a " +
    "cartesian/nested-loop product") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    // the candidate join itself (lazy — cosineNearDupPairs materializes it
    // eagerly, which would hide its plan behind a LogicalRDD)
    val candPlan = Vectors.candidatePairs(
        Vectors.bandedProjection(emb, 2, 16))
      .queryExecution.executedPlan.toString
    // ...and the end-to-end scoring path
    val fullPlan = Vectors.cosineNearDupPairs(emb, 0.95, numBands = 2,
        planesPerBand = 16, maxBucketSize = 1 << 20)
      .queryExecution.executedPlan.toString
    for (plan <- Seq(candPlan, fullPlan)) {
      assert(!plan.contains("Cartesian"), s"cartesian product in ANN path:\n$plan")
      assert(!plan.contains("NestedLoop"), s"nested-loop join in ANN path:\n$plan")
    }
  }

  test("over-full-bucket guard terminates on an unsplittable cluster: " +
    "identical vectors exhaust the plane pool and stay one bucket") {
    val dim = Vectors.Dim
    val r = new scala.util.Random(7)
    val base = Array.fill(dim)(r.nextGaussian().toFloat)
    // 40 IDENTICAL vectors: every sign bit agrees, so no refinement level
    // can split them — the guard must stop at pool exhaustion, not loop
    val rows = (1L to 40L).map(id => (id, base))
    val df = rows.toDF("vec_id", "embedding")
    val refined = Vectors.refineOverfullBuckets(
      Vectors.bandedProjection(df, 1, 8), maxBucketSize = 4,
      firstReservedPlane = 8)
    assert(refined.count() == 40)
    val maxPop = refined.groupBy("band_idx", "band_val").count()
      .agg(max("count")).as[Long].head()
    assert(maxPop == 40, "identical vectors are legitimately one bucket")
    // bucket ids were extended to the full pool (8 + 7 refinement steps)
    assert(refined.select(length(col("band_val"))).as[Int].head() == 64)
  }

  test("multimodal: frame sampling covers the payload with stable indices " +
    "and stride-bounded count") {
    val media = textMedia
    val all = Multimodal.sampleFrames(media, frameBytes = 64, stride = 1)
      .collect().groupBy(_.doc_id)
    val payloads = media.collect().map(m => m.doc_id -> m.media).toMap
    all.foreach { case (id, frames) =>
      // stride 1: concatenating frames in index order rebuilds the payload
      val rebuilt = frames.sortBy(_.frame_idx).flatMap(_.frame)
      assert(rebuilt sameElements payloads(id), s"doc $id payload torn")
    }
    val sampled = Multimodal.sampleFrames(media, frameBytes = 64, stride = 4)
      .collect().groupBy(_.doc_id)
    sampled.foreach { case (id, frames) =>
      assert(frames.forall(_.frame_idx % 4 == 0))
      val expect = (all(id).length + 3) / 4
      assert(frames.length == expect, s"doc $id: ${frames.length} vs $expect")
    }
  }
}
