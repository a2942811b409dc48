package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{LocalSession, Scratch}
import graft.tools.Harness.{digest, timed}
import graft.operators.{Docs, Vectors}

/** Near-dup/text pillar at 10M-doc cardinality (r20, VERDICT r19 #2 — the
  * one pillar whose largest measured evidence was the r7 100k-doc stress
  * while dedup is at 1B and ANN at 100M). Runs the PRODUCTION kernels,
  * not copies (the ivfAssignVectors convention):
  *
  *   - q19 MinHash chain, stage-instrumented: `Docs.shingleArraysOf` →
  *     `Docs.minhashCandidates` (banding candidate volume MEASURED) →
  *     `Docs.minhashVerify` (the semi-join-pruned exact-Jaccard verify).
  *     The corpus plants a controlled dup rate (every `dupMod`-th doc has
  *     a one-word-mutated twin ⇒ exactly docs/dupMod true pairs of
  *     3-shingle Jaccard ≈ 0.85) over a Zipf-skewed vocabulary (word rank
  *     log-uniform in [1, vocab] — the frequency skew that stresses
  *     MinHash minima toward common shingles).
  *   - digest cross-check: on a `subsetDocs`-doc subset written as its own
  *     sf-style dir, the staged pipeline's digest must equal the GATE
  *     path's (`Docs.q19MinhashPairs`) — pinning bench ≡ gate composition.
  *   - q24 SimHash leg for comparison at the documented scale config
  *     (64-bit fingerprints, 2×32-bit bands — lossless for hamming ≤ 1;
  *     the 32-bit band domain keeps random collisions ~n²/2^33).
  *   - over-full-bucket guard: a cosine banding over `vectors` synthetic
  *     embeddings with a planted `hotRows` near-parallel cluster and a
  *     bucket cap derived from `hotRows` and `noise` so the cluster
  *     overflows one bucket; asserts the guard was EXERCISED (pre-refine
  *     max bucket > cap) and that refinement actually bounded it
  *     (post-refine max ≤ cap), then measures the candidate join over the
  *     refined banding.
  *
  * Exits non-zero on: planted-pair recall < 0.95, candidate volume above
  * the sub-quadratic budget (candPerDoc), digest mismatch vs the gate
  * path, or a guard violation.
  *
  * Usage: SPARK_DRIVER_MEM=48g \
  *   sbt "runMain graft.tools.NeardupScaleBench [docs] [wordsPerDoc]
  *        [vocab] [dupMod] [vectors] [hotRows] [subsetDocs] [noise]
  *        [numHashes] [bandRows]"
  */
object NeardupScaleBench {

  private val Dim = 64

  /** Zipf-ish word rank: log-uniform in [1, vocab] (p(r) ∝ 1/r), derived
    * from a 64-bit hash — deterministic, engine-free. */
  private def zipfWord(seed: Column, vocab: Int): Column =
    concat(lit("w"),
      floor(exp(log(lit(vocab.toDouble)) *
        (pmod(xxhash64(seed), lit(1000000L)).cast("double") / 1000000.0)))
        .cast("long"))

  /** The synthetic corpus: `docs` rows of `wordsPerDoc` Zipf-skewed words;
    * doc `b+1` for every `b ≡ 0 (mod dupMod)` is `b`'s near-dup twin —
    * same word sequence with ONE position replaced by a unique token, so
    * the true pair set is exactly {(b, b+1) : b ≡ 0} and each pair's
    * 3-shingle Jaccard ≈ (w-2-3)/(w-2+3) ≥ the q19 threshold. */
  private def synthDocs(spark: SparkSession, docs: Long, wordsPerDoc: Int,
      vocab: Int, dupMod: Int): DataFrame = {
    val isDup = (col("id") % dupMod) === 1
    val baseId = when(isDup, col("id") - 1).otherwise(col("id"))
    val mutPos = pmod(baseId, lit((wordsPerDoc - 2).toLong)) + 1
    val words = (0 until wordsPerDoc).map { i =>
      when(isDup && mutPos === i, concat(lit("MUT"), col("id")))
        .otherwise(zipfWord(concat(baseId.cast("string"), lit(s":$i")), vocab))
    }
    spark.range(docs)
      .select(col("id").as("doc_id"), concat_ws(" ", words: _*).as("text"))
  }

  /** Synthetic embeddings: uniform directions plus a `hotRows` cluster
    * around one center with relative noise `noise` — near-parallel enough
    * to overflow a coarse band bucket, decoherent enough that the guard's
    * reserved refinement planes split it. */
  private def synthVectors(spark: SparkSession, rows: Long, hotRows: Long,
      noise: Double): DataFrame = {
    def u(seed: Column): Column =
      pmod(xxhash64(seed), lit(2000L)).cast("double") / 1000.0 - 1.0
    val dims = (0 until Dim).map { j =>
      val hot = u(lit(s"center:$j")) + u(concat(col("id").cast("string"),
        lit(s":n$j"))) * noise
      val cold = u(concat(col("id").cast("string"), lit(s":u$j")))
      when(col("id") < hotRows, hot).otherwise(cold).cast("float")
    }
    spark.range(rows)
      .select(col("id").as("vec_id"), array(dims: _*).as("embedding"))
  }

  def main(args: Array[String]): Unit = {
    val docs = if (args.length > 0) args(0).toLong else 10000000L
    val wordsPerDoc = if (args.length > 1) args(1).toInt else 40
    val vocab = if (args.length > 2) args(2).toInt else 50000
    val dupMod = if (args.length > 3) args(3).toInt else 50
    val vectors = if (args.length > 4) args(4).toLong else 10000000L
    val hotRows = if (args.length > 5) args(5).toLong else 100000L
    val subsetDocs = if (args.length > 6) args(6).toLong else 200000L
    // hot-cluster relative noise: the dial for the per-plane sign-flip
    // rate (~0.09 at 0.25); the bucket cap below is derived from it
    val noise = if (args.length > 7) args(7).toDouble else 0.25
    // the MinHash SCALE banding (minhashCandidates' r20 dials): the gate's
    // 4 bands of 2 collide quadratically under the Zipf head at 10M docs
    // (measured: the candidate join OOMed a 60 GB driver); 24 hashes in
    // 6 bands of 4 keep planted recall ≥0.99 at J≈0.85 while suppressing
    // Zipf false candidates by J² more per band
    val numHashes = if (args.length > 8) args(8).toInt else 24
    val bandRows = if (args.length > 9) args(9).toInt else 4
    val spark = LocalSession.create()

    val fullDir = Scratch.path(spark, "graft_neardupscale_full")
    val subDir = Scratch.path(spark, "graft_neardupscale_subset")
    val corpus = synthDocs(spark, docs, wordsPerDoc, vocab, dupMod)
    corpus.write.mode("overwrite").parquet(s"$fullDir/documents.parquet")
    corpus.filter(col("doc_id") < subsetDocs)
      .write.mode("overwrite").parquet(s"$subDir/documents.parquet")

    // --- leg A: the q19 MinHash chain, stage-instrumented ----------------
    // the shingle table is materialized to PARQUET, not .cache()'d: at
    // 10M docs it is ~380M rows, and an on-heap/disk block cache of that
    // volume OOMs a 48g single-JVM driver (measured — Spark exit 52 while
    // putting rdd blocks); a compressed parquet scan per consumer is the
    // production shape anyway (the gate-scale q19 keeps its cache)
    val shPath = s"$fullDir/shingle_arrays.parquet"
    Docs.shingleArraysOf(spark.read.parquet(s"$fullDir/documents.parquet"))
      .write.mode("overwrite").parquet(shPath)
    val arrs = spark.read.parquet(shPath)
    val sh = arrs.select(col("doc_id"), explode(col("ss")).as("s"))
    val (cand, tCand) =
      timed(Docs.minhashCandidates(arrs, numHashes, bandRows))
    val nCand = cand.count()
    val (pairs, tVerify) = timed(Docs.minhashVerify(cand, sh))
    val nPairs = pairs.count()
    val truePairs = docs / dupMod
    // recall over the PLANTED pairs specifically (other found pairs —
    // Zipf-induced genuine overlaps — are legitimate, just not planted)
    val planted = pairs
      .filter(col("doc_a") % dupMod === 0 && col("doc_b") === col("doc_a") + 1)
      .count()
    val recall = planted.toDouble / truePairs

    // --- leg B: digest cross-check vs the gate path on the subset --------
    val stagedDigest = digest {
      Scratch.pinned(Docs.shingleArraysOf(
          spark.read.parquet(s"$subDir/documents.parquet")).cache()) { arrsS =>
        Docs.minhashVerify(Docs.minhashCandidates(arrsS),
          arrsS.select(col("doc_id"), explode(col("ss")).as("s")))
      }
    }
    val gateDigest = digest(Docs.q19MinhashPairs(spark, subDir))
    val digestOk = stagedDigest == gateDigest

    // --- leg C: the q24 SimHash comparison at the documented scale config
    val ((nSim, nSimPlanted), tSim) = timed {
      val sim = Docs.simhashNeardupPairs(spark, fullDir,
        simBits = 64, numBands = 2, maxHamming = 1L)
        .transform(Scratch.pin(_))
      (sim.count(),
        sim.filter(col("doc_a") % dupMod === 0 &&
          col("doc_b") === col("doc_a") + 1).count())
    }

    // --- leg E: the PRODUCTION path end-to-end (r22, VERDICT r21 #2) -----
    // Docs.neardupPairs at this run's banding config over the full corpus:
    // above the shingle-stage threshold it must run the staged-parquet
    // shape (no corpus-wide .cache(); the cached shape OOM'd a 48g driver
    // here at 10M docs) and reproduce the staged legs' pair set exactly.
    val (prodDigest, tProd) = timed(digest(
      Docs.neardupPairs(spark, fullDir, numHashes, bandRows)))
    val stagedPairsDigest = digest(pairs)
    val prodOk = prodDigest == stagedPairsDigest

    // --- leg D: the over-full-bucket guard under a planted hot cluster ---
    val vecs = Scratch.pin(synthVectors(spark, vectors, hotRows, noise))
    // a hot row keeps its center's sign on a plane w.p. ~1 - atan(noise)/π,
    // so the center's 24-plane bucket holds ~hotRows·stay^24 of them and
    // the two 8-plane refinement rounds leave ~hotRows·stay^40: the cap
    // sits at the geometric middle, below the first and above the second
    val stay = 1 - math.atan(noise) / math.Pi
    val MaxBucket = math.max(1, (hotRows * math.pow(stay, 32)).toInt)
    def maxBucket(b: DataFrame): Long =
      b.groupBy("band_idx", "band_val").agg(count(lit(1)).as("n"))
        .agg(max(col("n"))).head().getLong(0)
    val ((preMax, tBand), (refined, tRefine)) = Scratch.pinned(
        Vectors.bandedProjection(vecs, numBands = 2, planesPerBand = 24)
          .cache()) { banded =>
      (timed(maxBucket(banded)),
        timed(Scratch.pin(Vectors.refineOverfullBuckets(banded, MaxBucket,
          firstReservedPlane = 48))))
    }
    val postMax = maxBucket(refined)
    val (nVecCand, tVecCand) =
      timed(Vectors.candidatePairs(refined).count())

    Harness.emit("metric" -> "neardup_scale", "docs" -> docs,
      "prod_path_sec" -> tProd, "prod_digest_ok" -> prodOk,
      "num_hashes" -> numHashes, "band_rows" -> bandRows,
      "words_per_doc" -> wordsPerDoc, "vocab" -> vocab, "dup_mod" -> dupMod,
      "true_pairs" -> truePairs, "cand_pairs" -> nCand, "cand_sec" -> tCand,
      "verified_pairs" -> nPairs, "planted_found" -> planted,
      "recall" -> recall, "verify_sec" -> tVerify, "digest_ok" -> digestOk,
      "simhash_pairs" -> nSim, "simhash_planted" -> nSimPlanted,
      "simhash_sec" -> tSim, "vectors" -> vectors, "hot_rows" -> hotRows,
      "bucket_pre_max" -> preMax, "bucket_post_max" -> postMax,
      "max_bucket" -> MaxBucket, "band_sec" -> tBand,
      "refine_sec" -> tRefine, "vec_cand_pairs" -> nVecCand,
      "vec_cand_sec" -> tVecCand)
    spark.stop()

    // sub-quadratic budget: candidates per doc, generous but orders below
    // n²/2 (at 10M docs the all-pairs volume is 5·10¹³; 50/doc is 5·10⁸)
    val candPerDoc = 50.0
    val bad =
      (if (recall < 0.95) Seq(s"planted recall $recall") else Nil) ++
      (if (nCand > docs * candPerDoc)
        Seq(s"candidate volume $nCand > ${candPerDoc}x docs") else Nil) ++
      (if (!digestOk)
        Seq(s"staged digest $stagedDigest != gate digest $gateDigest")
       else Nil) ++
      (if (!prodOk)
        Seq(s"production-path digest $prodDigest != staged-leg digest " +
          s"$stagedPairsDigest")
       else Nil) ++
      (if (preMax <= MaxBucket)
        Seq(s"guard never exercised: pre-refine max bucket $preMax")
       else Nil) ++
      (if (postMax > MaxBucket)
        Seq(s"guard failed to bound: post-refine max bucket $postMax")
       else Nil)
    if (bad.nonEmpty) {
      System.err.println(s"[neardup_scale] FAILED: ${bad.mkString("; ")}")
      sys.exit(1)
    }
  }
}
