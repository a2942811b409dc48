package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{LocalSession, Scratch}
import graft.tools.Harness.{median3, timed}
import graft.operators.Vectors

/** ANN at 10M-vector cardinality (r16; the r13 run was 1M — the one
  * pillar still an order of magnitude behind the others' rehearsal
  * scale). Runs the PRODUCTION kernels, not copies:
  *
  *   - index build: `ivfAssignVectors` with the r16 TRAINING SAMPLE
  *     (k-means iterates on `xxhash64(vec_id) % trainMod == 0`; only the
  *     final assignment touches the full corpus) — the 100 TB build
  *     shape, where the quantizer needs a representative sample, not
  *     every row;
  *   - exact brute-force top-k (the float baseline recall is scored
  *     against);
  *   - IVF probe (`ivfProbe`, median of 3);
  *   - int8 serving scan (`quantizedServingTopk` — q85's query body on
  *     the 4×-smaller representation), with its own recall vs the float
  *     baseline;
  *   - incremental ingest: `ivfAppendBatch` of a crawl-sized batch into
  *     the on-disk layout, with the grown-layout row-count identity and
  *     the batchId replay suppression both ASSERTED, then a probe over
  *     the grown layout.
  *
  * Corpus: `nClusters` well-separated hash-derived centers + bounded
  * noise (deterministic, cluster-structured — recall is a meaningful
  * number, not a uniform-cloud coin flip), written to parquet first so
  * every leg reads disk like production (and the 10M frame never pins
  * the heap; the r15 PageRank rehearsal's lesson).
  *
  * Exits non-zero on: IVF recall < 0.6, int8 recall < 0.6, or an
  * append row-count identity violation.
  *
  * Usage: SPARK_DRIVER_MEM=48g \
  *   sbt "runMain graft.tools.VectorScaleBench [rows] [k] [nprobe]
  *        [trainMod] [batchRows] [store: float|int8]"
  *
  * `store=int8` (r17, the 100M rung) persists the corpus and lists as the
  * q58 codec's int8 rows and runs every leg against that representation —
  * see the mode comment in `main`.
  */
object VectorScaleBench {

  private val Dim = 64
  private val TopK = 10
  private val NumQueries = 5 // mirrors Vectors.NumQueries: vec_id < 5 probe

  /** center(id % nClusters) + noise, all hash-derived: deterministic,
    * cluster-structured, buildable without a data file. Unrolled to one
    * compiled expression per dimension (r19): the original
    * `transform(sequence(0, 63), j -> …)` form is a CodegenFallback HOF —
    * 12.8B interpreted lambda evals at 100M rows made corpus GENERATION
    * the run's longest phase (~4 h projected). Each element is the SAME
    * expression tree with `j` bound as a literal, so the corpus bytes are
    * identical and recall numbers stay comparable across rounds. */
  private def synthVectors(spark: SparkSession, rows: Long,
      nClusters: Int, idOffset: Long = 0L): DataFrame =
    spark.range(rows)
      .select((col("id") + idOffset).as("vec_id"),
        array((0 until Dim).map(j => expr(
          s"CAST((hash((id + $idOffset) % $nClusters, $j) % 1000) / 500.0" +
            s" + (hash(id + $idOffset, $j) % 100) / 500.0 AS FLOAT)")): _*)
          .as("embedding"))

  private def recallOf(exact: Map[Long, Set[Long]],
      approx: Map[Long, Set[Long]]): Double = {
    val rs = exact.map { case (q, ex) =>
      approx.getOrElse(q, Set.empty).intersect(ex).size.toDouble / ex.size
    }
    rs.sum / math.max(1, rs.size)
  }

  private def sets(rows: Array[org.apache.spark.sql.Row]): Map[Long, Set[Long]] =
    rows.groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap

  def main(args: Array[String]): Unit = {
    val rows = if (args.length > 0) args(0).toLong else 10000000L
    val k = if (args.length > 1) args(1).toInt else 64
    val nprobe = if (args.length > 2) args(2).toInt else 4
    val trainMod = if (args.length > 3) args(3).toLong else 10L
    val batchRows = if (args.length > 4) args(4).toLong else 100000L
    val spark = LocalSession.create()

    // int8-at-rest mode (r17, the 100M rung): the corpus is PERSISTED as
    // the q58 codec's storage row (quantizedStoreRows — ~6.4 GB of int8
    // payload at 100M × 64 dims, where float32 is ~26 GB and the
    // normalized float64 lists ~51 GB: the only representation that fits
    // the sandbox disk, and the 100 TB story q85 claims). Every leg then
    // exercises the int8-at-rest shapes: the build trains and assigns on
    // the DEQUANTIZED on-the-fly view, the lists layout stores
    // (vec_id, cluster, max_abs_micro, q), the probe decodes inside the
    // scan, the serving leg reads the quantized parquet directly
    // (quantizedServingTopkFromStore — true int8 scan bandwidth), and the
    // append runs ivfAppendBatchQuantized. The exact float baseline is
    // the deterministic generator re-evaluated on the fly (compute-only,
    // never stored) so recall is still scored against FLOAT truth.
    val int8AtRest = args.length > 5 && args(5) == "int8"
    val corpusPath = Scratch.path(spark, "graft_vecscale_corpus")
    lazy val floatPath = Scratch.path(spark, "graft_vecscale_float")
    val layout = Scratch.path(spark, "graft_vecscale_index")
    if (int8AtRest) {
      // the float corpus exists only TRANSIENTLY: written once, scanned
      // once by the exact baseline below, deleted before the build
      // materializes the quantized lists (26 GB float32 at 100M — the
      // disk budget that forces int8-at-rest in the first place). The
      // quantized store derives from the parquet, not the generator, so
      // quantization pays a scan, not a second interpreted generator pass.
      synthVectors(spark, rows, k).write.mode("overwrite").parquet(floatPath)
      Vectors.quantizedStoreRows(spark.read.parquet(floatPath))
        .write.mode("overwrite").parquet(corpusPath)
    } else
      synthVectors(spark, rows, k).write.mode("overwrite").parquet(corpusPath)
    val vecs = spark.read.parquet(corpusPath)
    val nVecs = vecs.count()

    // exact float baseline: brute-force cosine top-k for the 5 queries —
    // always against FLOAT truth (never the quantized store's own decode,
    // which would hide the codec's recall cost). stableRound, NOT the
    // builtin: the kernels this baseline scores rank on the stable form,
    // and a .xxxx5-boundary tie rounding differently here would perturb
    // the measured recall with a rounding artifact, not index behavior.
    def exactLeg(norm: DataFrame): (Array[org.apache.spark.sql.Row], Double) = {
      val queries = norm.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
        .transform(Scratch.pin(_))
      val w = Window.partitionBy("query_id")
        .orderBy(col("cos_sim").desc, col("neighbor_id"))
      timed(queries.crossJoin(norm)
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          graft.functions.StableRound.stableRound(
            call_function("vec_dot", col("qv"), col("v")), 4).as("cos_sim"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= TopK)
        .collect())
    }
    // int8 mode runs the exact leg FIRST (it needs the transient float
    // corpus, normalized inline), then frees the float parquet for the
    // build's shuffle; float mode keeps the r13/r16 order (exact reads
    // the already-normalized lists after the build)
    // int8 mode's exact scan works on the UN-normalized float rows:
    // cos = dot(qv, d) / ||d|| with both folds as TOP-LEVEL expressions —
    // O(d) interpreted work per candidate row. Normalizing the corpus side
    // first is a trap either way: inline normalize re-aggregates the norm
    // per ELEMENT (O(d²) interpreted — measured 431 s at 1M), and
    // materializing normalized rows behind an exchange is a 52 GB shuffle
    // at 100M (the disk budget again). Same arithmetic, same stableRound;
    // only the division point differs from the float mode's pre-normalized
    // scan — a measurement baseline, not a hashed relation.
    def exactLegRaw(raw: DataFrame): (Array[org.apache.spark.sql.Row], Double) = {
      val queries = raw.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"),
          call_function("vec_normalize", col("d")).as("qv"))
        .transform(Scratch.pin(_))
      val w = Window.partitionBy("query_id")
        .orderBy(col("cos_sim").desc, col("neighbor_id"))
      timed(queries.crossJoin(raw)
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          graft.functions.StableRound.stableRound(
            call_function("vec_dot", col("qv"), col("d")) /
              sqrt(call_function("vec_dot", col("d"), col("d"))),
            4).as("cos_sim"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= TopK)
        .collect())
    }
    val exactPre =
      if (int8AtRest) {
        val r = exactLegRaw(spark.read.parquet(floatPath)
          .select(col("vec_id"),
            col("embedding").cast("array<double>").as("d")))
        val fp = new org.apache.hadoop.fs.Path(floatPath)
        fp.getFileSystem(spark.sessionState.newHadoopConf()).delete(fp, true)
        Some(r)
      } else None

    // index build: spherical k-means (3 iterations, gate convention) on
    // the 1/trainMod sample, full-corpus final assignment, written as the
    // ivfIndexPath layout (cluster-clustered lists + centroid table) so
    // the append leg exercises the REAL on-disk maintenance path. In
    // int8-at-rest mode the stored list row joins the assignment back to
    // the quantized store (the float v is never materialized to disk).
    val (nAssigned, tBuild) = timed {
      val (assigned, centroids) = Vectors.ivfAssignVectors(
        if (int8AtRest) Vectors.dequantizedView(vecs) else vecs,
        k, iters = 3, trainSampleMod = trainMod)
      (if (int8AtRest)
        assigned.select("vec_id", "cluster").join(vecs, Seq("vec_id"))
      else assigned)
        .repartitionByRange(col("cluster"))
        .sortWithinPartitions("cluster", "vec_id")
        .write.mode("overwrite").parquet(s"$layout/lists")
      centroids.write.mode("overwrite").parquet(s"$layout/centroids")
      spark.read.parquet(s"$layout/lists").count()
    }
    val lists = spark.read.parquet(s"$layout/lists")
    val centroids = spark.read.parquet(s"$layout/centroids")

    val (exact, tExact) =
      exactPre.getOrElse(exactLeg(lists.select(col("vec_id"), col("v"))))
    val exactSets = sets(exact)

    // IVF probe over the on-disk layout, median of 3. int8-at-rest goes
    // through ivfProbeQuantized — the decode runs AFTER the cluster join
    // prunes to the probed lists (a decoded view hands ivfProbe a
    // below-the-join decode that every corpus row pays: 40× at 1M)
    def ivf() =
      if (int8AtRest) Vectors.ivfProbeQuantized(lists, centroids, nprobe, TopK)
      else Vectors.ivfProbe(lists, centroids, nprobe, TopK)
    val (approx, tIvf0, tIvf) = median3(ivf().collect())
    val ivfRecall = recallOf(exactSets, sets(approx))

    // int8 serving scan: q85's production kernel — over the STORED
    // quantized rows in int8-at-rest mode (true int8 scan bandwidth, no
    // inline quantization pass), inline-quantizing the float corpus
    // otherwise
    def int8() =
      if (int8AtRest) Vectors.quantizedServingTopkFromStore(vecs, TopK)
      else Vectors.quantizedServingTopk(vecs, TopK)
    val (int8Rows, tInt80, tInt8) = median3(int8().collect())
    val int8Recall = recallOf(exactSets, sets(int8Rows))

    // incremental ingest: one crawl batch through ivfAppendBatch (frozen
    // centroids, file-level append), identity + replay both asserted.
    // MATERIALIZED first (r20): feeding the generator frame directly
    // inlines the 64-dim decimal expression tree into the assignment
    // projection — at large k that single projection overflows janino's
    // 64 KB method limit and the whole stage falls back to interpreted
    // (observed at the k=4096 rung; a harness artifact — production
    // batches arrive as parquet attributes, which is what the checkpoint
    // restores here)
    val batch = synthVectors(spark, batchRows, k, idOffset = rows)
      .transform(Scratch.pin(_))
    def append(): Unit =
      if (int8AtRest) Vectors.ivfAppendBatchQuantized(spark, layout, batch,
        batchId = Some(0L), streamId = "vecscale")
      else Vectors.ivfAppendBatch(spark, layout, batch,
        batchId = Some(0L), streamId = "vecscale")
    val (_, tAppend) = timed(append())
    val grown = spark.read.parquet(s"$layout/lists").count()
    val appendOk = grown == nAssigned + batchRows
    // replay suppression: the same batchId must be a no-op
    append()
    val replayOk = spark.read.parquet(s"$layout/lists").count() == grown
    // the grown layout still probes (cold, informational)
    val grownLists = spark.read.parquet(s"$layout/lists")
    val (_, tIvfGrown) = timed(
      (if (int8AtRest)
        Vectors.ivfProbeQuantized(grownLists, centroids, nprobe, TopK)
      else Vectors.ivfProbe(grownLists, centroids, nprobe, TopK)).collect())

    Harness.emit("metric" -> "vector_scale", "vectors" -> nVecs, "dim" -> Dim,
      "store" -> (if (int8AtRest) "int8" else "float"),
      "k" -> k, "nprobe" -> nprobe, "train_mod" -> trainMod,
      "indexed" -> nAssigned, "build_sec" -> tBuild,
      "exact_topk_sec" -> tExact, "ivf_topk_sec" -> tIvf,
      "ivf_topk_cold_sec" -> tIvf0, "recall_at_10" -> ivfRecall,
      "int8_topk_sec" -> tInt8, "int8_topk_cold_sec" -> tInt80,
      "int8_recall_at_10" -> int8Recall,
      "append_rows" -> batchRows, "append_sec" -> tAppend,
      "append_identity_ok" -> appendOk, "replay_suppressed_ok" -> replayOk,
      "ivf_grown_cold_sec" -> tIvfGrown, "queries" -> exactSets.size)
    spark.stop()
    val bad =
      (if (ivfRecall < 0.6) Seq(s"ivf recall $ivfRecall") else Nil) ++
      (if (int8Recall < 0.6) Seq(s"int8 recall $int8Recall") else Nil) ++
      (if (!appendOk) Seq(s"append identity: $grown != $nAssigned+$batchRows")
       else Nil) ++
      (if (!replayOk) Seq("replayed batch not suppressed") else Nil)
    if (bad.nonEmpty) {
      System.err.println(s"[vector_scale] FAILED: ${bad.mkString("; ")}")
      sys.exit(1)
    }
  }
}
