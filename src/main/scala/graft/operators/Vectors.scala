package graft.operators

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.Scratch
import graft.TripleStore.table
import graft.functions.StableRound.{stableRound, stableRoundSql}

/** Similarity search over `embeddings` (`Array[Float]`, 64-dim).
  *
  * Two paths:
  *   - [[q21TopkCosine]]: brute-force cosine top-k — the exactness baseline.
  *     All dot products run in DOUBLE with a sequential left fold
  *     (`aggregate`/`zip_with`), so DuckDB's sequential `list_sum` computes
  *     bit-identical values; ranking keys on the ROUNDED score with vec_id
  *     tie-break so ordering never depends on sub-ulp float noise.
  *   - [[q22LshBuckets]]: the scale path — random-hyperplane LSH. A bucket
  *     is sign bits of projections onto ±1 hyperplanes derived
  *     deterministically from md5 (computed once on the driver, embedded as
  *     literals in both engines). ANN then probes ONE bucket (an equi-join),
  *     never the all-pairs cross product, and the bucket column is a
  *     shuffle/bucketing key for co-located joins. Bucket width is a
  *     parameter everywhere ([[bandedProjection]]): a fixed 2^8 partition
  *     leaves ~4M-vector buckets at 10^9 vectors, so the near-dup defaults
  *     are 16-plane bands and every banded path is backstopped by the
  *     over-full-bucket guard ([[refineOverfullBuckets]]), keeping the
  *     within-bucket self-join sub-quadratic regardless of skew.
  */
object Vectors {

  /** Width of the q22 gate bucket (kept narrow so the tiny-SF oracle stays
    * readable); the LIBRARY near-dup/ANN paths default wider — see
    * [[cosineNearDupPairs]] — because 2^8 buckets over 10^9 vectors leaves
    * ~4M-vector buckets and a quadratic self-join. Rule of thumb:
    * planesPerBand ≈ log2(corpus / target bucket size). */
  val NumPlanes = 8

  /** Pre-derived hyperplane pool: wide/banded/refined configs draw disjoint
    * plane ranges from here, so every bucket definition stays deterministic
    * and oracle-reproducible. */
  val MaxPlanes = 64
  val Dim = 64
  private val TopK = 10
  private val NumQueries = 5 // vec_id < 5 are the query vectors

  /** ±1 hyperplane components, deterministic in (plane, dim): the high bit
    * of md5("plane:dim")'s first hex digit. */
  lazy val planes: Array[Array[Int]] = {
    val md = MessageDigest.getInstance("MD5")
    Array.tabulate(MaxPlanes, Dim) { (j, i) =>
      val d = md.digest(s"$j:$i".getBytes(StandardCharsets.UTF_8))
      if (((d(0) >> 7) & 1) == 1) -1 else 1
    }
  }

  /** Sequential-fold double dot product of two float array columns —
    * served by the native compiled [[graft.plans.VecDot]] since r19
    * (bit-exact to the interpreted `aggregate(zip_with(...))` fold it
    * replaces, including the sequential add order DuckDB's `list_sum`
    * twin shares). */
  private def dot(a: String, b: String): Column =
    call_function("vec_dot", col(a), col(b))

  def q21TopkCosine(spark: SparkSession, dir: String): DataFrame = {
    // a zero-norm vector has no direction: it can neither query nor rank
    // (and under ANSI mode its cosine is a DIVIDE_BY_ZERO crash, not a
    // quiet NaN — surfaced by the adversarial-embeddings sweep)
    val e = table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        sqrt(dot("embedding", "embedding")).as("nrm"))
      .filter(col("nrm") > 0)
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("nrm").as("qn"))
    val cos = q.join(e, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        stableRound(dot("qe", "embedding") / (col("qn") * col("nrm")), 4)
          .as("cos_sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    cos.withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= TopK)
      .orderBy("query_id", "rank")
  }

  /** One hyperplane's sign bit of the `embedding` column. The projection
    * runs through the native [[graft.plans.VecDot]] (float×int widened to
    * double per element — both widenings exact, same sequential fold); a
    * ragged or null-element embedding yields a NULL projection and takes
    * the '0' bit, exactly as the interpreted zip_with-pad fold did. */
  private def signBit(planeIdx: Int): Column =
    when(call_function("vec_dot", col("embedding"),
      array(planes(planeIdx).map(lit).toSeq: _*)) >= 0, "1")
      .otherwise("0")

  /** Sign bits of planes [from, from + n) concatenated. */
  private def bitsCol(from: Int, n: Int): Column =
    concat((from until from + n).map(signBit): _*)

  /** The LSH bucket of an `embedding` column: [[NumPlanes]] hyperplane sign
    * bits, concatenated — THE single definition the single-bucket paths
    * share (buckets must agree across q22 and lshTopk). */
  private def lshBucket: Column = bitsCol(0, NumPlanes)

  /** (vec_id, embedding, bucket, nrm) projection shared by the LSH paths.
    * Zero-norm vectors appear in the q22 bucket CENSUS (assignment never
    * divides) but are excluded from every SCORING path, so census
    * occupancy is an upper bound on actual probe fan-in. */
  private def lshProjected(vectors: DataFrame, numPlanes: Int = NumPlanes): DataFrame =
    vectors.select(col("vec_id"), col("embedding"),
      bitsCol(0, numPlanes).as("bucket"), sqrt(dot("embedding", "embedding")).as("nrm"))

  /** Banded LSH projection: one row per (vector, band), band `b` drawing
    * planes [b·r, (b+1)·r) from the pool. Multi-band = the standard
    * recall/precision dial (candidate if ANY band matches): wider bands
    * shrink buckets ~2× per added plane, more bands recover the recall the
    * width costs. Emits (vec_id, embedding, band_idx, band_val). */
  def bandedProjection(vectors: DataFrame, numBands: Int,
      planesPerBand: Int): DataFrame = {
    require(numBands * planesPerBand <= MaxPlanes,
      s"banding needs ${numBands * planesPerBand} planes; pool has $MaxPlanes")
    vectors.select(col("vec_id"), col("embedding"),
        explode(array((0 until numBands).map(b =>
          struct(lit(b).as("band_idx"),
            bitsCol(b * planesPerBand, planesPerBand).as("band_val"))): _*))
          .as("band"))
      .select(col("vec_id"), col("embedding"),
        col("band.band_idx").as("band_idx"), col("band.band_val").as("band_val"))
  }

  /** The over-full-bucket guard: any (band_idx, band_val) bucket holding
    * more than `maxBucketSize` rows has its bucket id extended by `step`
    * further sign bits, repeated until every bucket fits or the plane pool
    * is exhausted. The split is decided PER BUCKET (every member of an
    * over-full bucket extends, consistently), so candidate generation stays
    * an equi-join. Truly identical vectors share all sign bits and stop at
    * pool exhaustion — they are legitimately one bucket.
    *
    * Cost shape at scale: each level is one aggregate (map-side combined:
    * the shuffle carries one row per bucket) + one broadcast left-join (the
    * over-full list has ≤ n/maxBucketSize entries by construction); a
    * healthy bucketing pays a single cheap aggregate and exits. */
  def refineOverfullBuckets(banded: DataFrame, maxBucketSize: Int,
      firstReservedPlane: Int, step: Int = 8): DataFrame = {
    var cur = banded
    var start = firstReservedPlane
    var done = false
    while (!done && start + step <= MaxPlanes) {
      val over = cur.groupBy("band_idx", "band_val")
        .agg(count(lit(1)).as("n_bucket"))
        .filter(col("n_bucket") > maxBucketSize)
        .select(col("band_idx"), col("band_val"), lit(true).as("is_over"))
      if (over.isEmpty) done = true
      else {
        cur = cur.join(broadcast(over), Seq("band_idx", "band_val"), "left_outer")
          .withColumn("band_val",
            when(col("is_over"), concat(col("band_val"), bitsCol(start, step)))
              .otherwise(col("band_val")))
          .drop("is_over")
        start += step
      }
    }
    cur
  }

  /** Bucket every vector by its 8 hyperplane sign bits and report bucket
    * occupancy (vec_id → bucket, plus the bucket's population — the join
    * fan-in an ANN probe of that bucket would touch). */
  def q22LshBuckets(spark: SparkSession, dir: String): DataFrame = {
    val bucketed = table(spark, dir, "embeddings")
      .select(col("vec_id"), lshBucket.as("bucket"))
    bucketed
      .withColumn("n_in_bucket",
        count(lit(1)).over(Window.partitionBy("bucket")).cast(LongType))
      .orderBy("vec_id")
  }

  /** DuckDB predicate: the embedding contains a NULL ELEMENT. Needed
    * because the engines' sums disagree on null elements: Spark's
    * sequential `aggregate` fold nulls the whole sum (so norms/sign-sums go
    * NULL and the row naturally drops out of every scoring/bucketing path),
    * while DuckDB's `list_sum` SKIPS nulls and would keep the row. Each
    * oracle twin applies this guard to mimic Spark's propagation. */
  private def hasNullElemSql: String =
    "len(list_filter(embedding, x -> x IS NULL)) > 0"

  /** DuckDB twin of [[lshBucket]]: the [[NumPlanes]] sign bits concatenated,
    * as a SQL expression over `embedding` — shared by the q22 and q38
    * oracles (buckets must agree across both). A null-element vector takes
    * the '0' bit on every plane, matching Spark's `when(NULL >= 0, ...)
    * .otherwise("0")`. */
  private def bucketBitsSql: String = planes.take(NumPlanes).map { p =>
    val lit = p.mkString("[", ", ", "]")
    s"""CASE WHEN NOT ($hasNullElemSql)
       |  AND list_sum(list_transform(range(len(embedding)),
       |  i -> CAST(embedding[i+1] AS DOUBLE) * ($lit)[i+1])) >= 0
       |  THEN '1' ELSE '0' END""".stripMargin
  }.mkString(" ||\n ")

  val q22Sql: String =
    s"""WITH b AS (SELECT vec_id, $bucketBitsSql AS bucket FROM embeddings)
       |SELECT vec_id, bucket,
       |       CAST(count(*) OVER (PARTITION BY bucket) AS BIGINT) AS n_in_bucket
       |FROM b ORDER BY vec_id""".stripMargin

  // --- IVF (inverted-file) ANN: coarse k-means quantizer + probed lists ----

  /** Sphere-normalized `(vec_id, v)` projection of a `(vec_id, embedding)`
    * frame. A zero vector cannot be sphere-normalized (ANSI: the division
    * would be a DIVIDE_BY_ZERO crash, not NaN) and has no direction to
    * cluster — same exclusion as every other scoring path; a null element
    * nulls the fold and drops the same way. */
  private def sphereNormalized(vectors: DataFrame): DataFrame =
    vectors
      // native Cast handles array<float> → array<double> element-wise in
      // codegen — same exact widening the interpreted transform lambda did
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .filter(call_function("vec_dot", col("v"), col("v")) > 0)
      .select(col("vec_id"),
        call_function("vec_normalize", col("v")).as("v"))

  /** One FROZEN-centroid assignment step over already-normalized vectors:
    * a MAP-ONLY per-row argmax over the collected k-row centroid table,
    * ties to the higher cluster id. The shared kernel of [[ivfAssign]]'s
    * iterations and [[ivfAssignBatch]]'s incremental maintenance — one
    * definition so the two paths cannot drift.
    *
    * Shape (r19, VERDICT #2): frozen-centroid assignment is per-row math,
    * so it must not pay a shuffle. The previous crossJoin + `max_by`
    * groupBy form shuffled one row per VECTOR carrying the full float64
    * list — ~51 GB of exchange payload at 100M vectors, the measured
    * superlinear knee in the 100M build (hash-aggregate spill ~55 GB).
    * This form binds the k collected centroids into the per-row argmax
    * (k is broadcast-sized by construction) via the native
    * [[graft.plans.NearestCentroid]] kernel (r20) — each `sim_j` is the
    * native [[graft.plans.VecDot]] sequential fold and the (sim, cluster)
    * max rule is exactly `max_by(cluster, struct(sim, cluster))`'s
    * (lexicographic, NaN greatest, ties to the higher cluster id), so the
    * assignment relation is value-identical to the crossJoin form FOR
    * NON-NULL VECTORS — the only kind the library paths produce
    * ([[sphereNormalized]] drops NULL/zero vectors). A NULL vector
    * (SQL-reachable) now yields a NULL cluster via the kernel's
    * nullSafeEval, where the retired greatest form assigned it to the
    * highest cluster id (all-NULL-sim tie rule) — a deliberate
    * improvement, pinned as intended in PlansSpec (ADVICE r20). The
    * q66/q78 oracles' unrolled k-means CTEs carry over unchanged. Zero
    * exchange, whole-stage codegen, and plan/codegen size O(1) in k (the
    * r19 `greatest`-over-k-struct-literals form carried O(k·d) plan
    * literals — the production-k ceiling VERDICT r19 #1 names).
    *
    * NOTE the one visible behavior change vs the lazy crossJoin form:
    * this is EAGER — the centroid table materializes (driver collect of
    * k rows) at plan-CONSTRUCTION time, and an empty table raises loudly
    * where the old form lazily produced an empty assignment. Every
    * caller in the library hands it a materialized k-row table; a loud
    * failure on a degenerate quantizer beats a silently empty index. */
  private def assignStep(e: DataFrame, cents: DataFrame): DataFrame =
    e.select(col("vec_id"),
      nearestClusterCol(collectCentroids(cents), col("v")).as("cluster"),
      col("v"))

  /** The k-row centroid table onto the driver — bounded by construction
    * (the quantizer is broadcast-sized; k is the whole point of IVF). */
  private def collectCentroids(cents: DataFrame): Array[(Long, Seq[Double])] = {
    val cs = cents.select(col("cluster"), col("c")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    require(cs.nonEmpty, "collectCentroids: empty centroid table")
    cs
  }

  /** The per-row argmax column over collected centroids — the native
    * [[graft.plans.NearestCentroid]] kernel with the centroid MATRIX and
    * cluster-id vector each bound as ONE nested-array literal (r20,
    * VERDICT r19 #1): plan size and generated code are O(1) in k, where
    * the r19 `greatest(struct(vec_dot(v, c_j), cluster_j))_j.cluster`
    * form carried O(k·d) literal nodes and a k-ary `greatest` — fine at
    * the gate k=8 / rehearsal k=64, a 64 KB-codegen-limit ceiling at
    * production k ≈ 10⁴⁺. Above the
    * [[graft.plans.NearestCentroidBc]] element threshold (r21 — the
    * literal's remaining cost: ~14 MB of task binary per stage at
    * k=4096·d=64, a few hundred MB at production k ≈ 10⁵) the binding
    * switches to a BROADCAST VARIABLE fetched once per executor.
    * Membership is bit-identical in both modes (the kernels' contract:
    * same sequential-fold sims, same struct-ordering max rule — PlansSpec
    * pins kernel ≡ greatest form AND broadcast ≡ literal on real
    * embeddings), so the q66/q78/q86 oracles carry over unchanged. Shared
    * by [[assignStep]] and the store-scan assignment in
    * [[ivfQuantizedIndexPath]] so the two cannot drift. `v` is referenced
    * exactly once. */
  private def nearestClusterCol(cs: Array[(Long, Seq[Double])],
      v: Column): Column =
    graft.plans.NearestCentroidBc.assignColumn(
      org.apache.spark.sql.SparkSession.active, cs, v)

  /** Spherical k-means coarse quantizer, fully declarative (no closures in
    * the per-vector path): assignment is a crossJoin with the k-row
    * centroid table + `max_by` per vector (codegen'd, k·N small since k is
    * tiny); the update step re-averages per (cluster, dimension) and
    * re-normalizes. Deterministic: seeds are the k lowest vec_ids.
    *
    * At 100 TB the centroid table is broadcast-sized by construction and
    * the only shuffle is the per-vector `max_by` groupBy — the index build
    * is linear per iteration. */
  def ivfAssign(spark: SparkSession, dir: String, k: Int,
      iters: Int): (DataFrame, DataFrame) =
    ivfAssignVectors(table(spark, dir, "embeddings"), k, iters)

  /** [[ivfAssign]] over an explicit `(vec_id, embedding)` frame — the same
    * build for corpora that are not the sf dir's embeddings table (the
    * scale rehearsal feeds synthetic vectors through it).
    *
    * `trainSampleMod` (r16, the 10M-rehearsal knob): k-means TRAINS on
    * the deterministic `xxhash64(vec_id) % mod == 0` subsample and only
    * the final assignment touches the full corpus. At 100 TB this is the
    * only build shape that works — the quantizer needs a statistically
    * representative sample, not every row, and the per-iteration cost
    * drops by the sample factor while the broadcast centroid table and
    * the one full-corpus assignment pass are unchanged. `mod = 1` (the
    * default and the gate config, whose DuckDB oracle unrolls the
    * full-corpus iterations) is byte-identical to the r15 behavior;
    * seeds are the k lowest vec_ids OF THE TRAIN SET, so the sampled
    * build stays deterministic and replayable. */
  def ivfAssignVectors(vectors: DataFrame, k: Int,
      iters: Int, trainSampleMod: Long = 1L): (DataFrame, DataFrame) = {
    require(trainSampleMod >= 1, s"trainSampleMod: $trainSampleMod")
    val e = sphereNormalized(vectors)
    val train =
      if (trainSampleMod == 1L) e
      else e.filter(pmod(xxhash64(col("vec_id")), lit(trainSampleMod)) === 0)
    // a sampled trainer must still carry >= k rows or the quantizer is
    // degenerate (fewer seeds than clusters -> empty/short centroid set ->
    // silently empty assignment); fail loudly naming the knob. Guarded to
    // the sampled path so the mod=1 gate config pays no extra job.
    if (trainSampleMod > 1L) {
      val nTrain = train.limit(k).count()
      require(nTrain == k,
        s"ivfAssignVectors: the training subsample (xxhash64(vec_id) % " +
          s"$trainSampleMod == 0) holds only $nTrain rows — fewer than " +
          s"k=$k clusters; lower trainSampleMod or k")
    }
    // localCheckpoint BEFORE the first assignStep collects the seeds
    // (ADVICE r19): the seed frame's lineage is the full sphereNormalized
    // scan + a global sort-limit — without the checkpoint, iteration 1
    // would execute that scan once just to seed the argmax literals and
    // once more inside its own aggregation
    var centroids = train.orderBy("vec_id").limit(k)
      .select(col("vec_id").as("cluster"), col("v").as("c"))
      .localCheckpoint(true)
    def assign(cents: DataFrame): DataFrame = assignStep(train, cents)
    for (_ <- 1 to iters) {
      val means = assign(centroids)
        .select(col("cluster"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cluster", "pos").agg(avg(col("x")).as("m"))
        .groupBy("cluster")
        .agg(expr("transform(array_sort(collect_list(struct(pos, m))), s -> s.m)")
          .as("c"))
        .select(col("cluster"),
          call_function("vec_normalize", col("c")).as("c"))
      // a cluster that attracted no vectors this round emits no mean; keep
      // its previous centroid so the quantizer always returns k lists
      val kept = centroids.select(col("cluster"), col("c").as("c_prev"))
        .join(means.select(col("cluster"), col("c").as("c_new")),
          Seq("cluster"), "left_outer")
        .select(col("cluster"), coalesce(col("c_new"), col("c_prev")).as("c"))
      centroids = kept.localCheckpoint(true)
    }
    // the FINAL assignment covers the full corpus regardless of the
    // training sample — every vector gets a list
    (assignStep(e, centroids).select("vec_id", "cluster", "v"), centroids)
  }

  /** The IVF PROBE: `nprobe` nearest centroid lists per query, exact cosine
    * only within them — work scales with the probed share of the index,
    * never all-pairs. `idx` is the assigned-lists relation
    * (vec_id, cluster, v) and `centroids` the k-row (cluster, c) table,
    * from [[ivfAssign]] directly or read back from [[ivfIndexPath]]'s
    * layout (parquet doubles round-trip exactly, so both sources yield
    * identical results). */
  def ivfProbe(idx: DataFrame, centroids: DataFrame, nprobe: Int,
      topk: Int): DataFrame = {
    val queries = idx.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val probes = queries.crossJoin(broadcast(centroids))
      .select(col("query_id"), col("qv"), col("cluster"),
        call_function("vec_dot", col("qv"), col("c")).as("sim"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("sim").desc, col("cluster"))))
      .filter(col("rk") <= nprobe)
      .select(col("query_id"), col("qv"), col("cluster"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    probes.join(idx, Seq("cluster"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        stableRound(call_function("vec_dot", col("qv"), col("v")), 4)
          .as("cos_sim"))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= topk)
  }

  /** [[ivfProbe]] over an INT8-AT-REST lists layout (rows
    * `(vec_id, cluster, max_abs_micro, q)` — [[ivfAppendBatchQuantized]]'s
    * projection): identical routing and ranking, with the float decode
    * placed AFTER the cluster join, so only the PROBED nprobe/k share of
    * the index ever pays it. This ordering is the operator's reason to
    * exist: handing [[ivfProbe]] a decoded VIEW of the quantized lists
    * plants the (interpreted, higher-order) decode in a projection BELOW
    * the join, where every corpus row pays it before pruning — measured
    * 40× the float probe's wall at 1M (VectorScaleBench r17). Queries
    * decode through the `vec_id` pushdown (NumQueries rows); candidates
    * score as `dot(qv, d) / ||d||` — the same cosine [[ivfProbe]] computes
    * over a pre-normalized side, re-associated so no per-element lambda
    * captures an expensive column (the float results can differ from the
    * view form only within one ulp before the 4-decimal stable round;
    * PipelineSpec pins row-for-row equality on the embeddings fixture).
    * Sentinel rows are excluded like the serving kernel's validity
    * filter. */
  def ivfProbeQuantized(lists: DataFrame, centroids: DataFrame,
      nprobe: Int, topk: Int): DataFrame = {
    // native kernels (r19): decode/normalize/dot previously ran through
    // transform/aggregate/zip_with — CodegenFallback, interpreted per
    // probed row (and the interpreted era forced two layout contortions,
    // both now moot: the norm-once-into-a-column dance against the O(d²)
    // per-element re-aggregation trap, and the never-normalize-the-
    // candidate-side rule). int8_decode / vec_normalize / vec_dot compute
    // the same IEEE arithmetic compiled (VectorKernels' bit-exactness
    // contract), so results are identical row for row.
    val decode = call_function("int8_decode", col("q"), col("max_abs_micro"))
    val valid = lists.filter(col("max_abs_micro") > 0)
    val queries = valid.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), decode.as("d"))
      .select(col("query_id"),
        call_function("vec_normalize", col("d")).as("qv"))
    val probes = queries.crossJoin(broadcast(centroids))
      .select(col("query_id"), col("qv"), col("cluster"),
        call_function("vec_dot", col("qv"), col("c")).as("sim"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("sim").desc, col("cluster"))))
      .filter(col("rk") <= nprobe)
      .select(col("query_id"), col("qv"), col("cluster"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    // probes is queries × nprobe rows — ALWAYS broadcast (without the hint
    // the stats-blind window output drives the planner to shuffle the full
    // lists side into a sort-merge join: measured as the probe's dominant
    // cost at 1M)
    broadcast(probes)
      .join(valid.select("vec_id", "cluster", "max_abs_micro", "q"),
        Seq("cluster"))
      .filter(col("vec_id") =!= col("query_id"))
      // decode AFTER the join: only probed rows pay it. `d` is referenced
      // three times below, so CollapseProject keeps this projection
      // materialized (multi-use non-cheap aliases don't inline) — one
      // decode per candidate, not three.
      .select(col("query_id"), col("qv"), col("vec_id").as("neighbor_id"),
        decode.as("d"))
      .select(col("query_id"), col("neighbor_id"),
        stableRound(
          // RAGGED-PAIR GUARD (q85's discipline, extended here with the
          // q86 gate row): vec_dot alone would yield a silent NULL score
          // (Spark sorts it last, DuckDB's range()-indexed twin would
          // compute a PARTIAL dot instead) — both engines must fail
          // LOUDLY with the same named error. Unreachable while every
          // codec-valid vector is one dimensionality, which is exactly
          // why it must be loud when that stops being true.
          when(size(col("qv")) =!= size(col("d")),
            raise_error(lit(RaggedMsg)))
            .otherwise(call_function("vec_dot", col("qv"), col("d")) /
              sqrt(call_function("vec_dot", col("d"), col("d")))), 4)
          .as("cos_sim"))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= topk)
  }

  /** The one ragged-pair error text all quantized serving paths share —
    * [[graft.plans.Int8Dot]] raises it natively (q85), the quantized
    * probe raises it via the CASE guard above (q86), and both DuckDB
    * twins carry it in their `error()` branches. */
  private[graft] val RaggedMsg =
    "int8_dot: ragged quantized vectors — query/corpus dims differ"

  /** Build-then-probe in one call (the test/ad-hoc path; the serving path
    * probes the [[ivfIndexPath]] layout instead of rebuilding). */
  def ivfTopk(spark: SparkSession, dir: String, k: Int, nprobe: Int,
      topk: Int): DataFrame = {
    val (assigned, centroids) = ivfAssign(spark, dir, k, iters = 3)
    ivfProbe(assigned.localCheckpoint(true), centroids, nprobe, topk)
  }

  /** Once-per-JVM materialization of the IVF index as a parquet LAYOUT
    * — assigned lists clustered by `cluster` (range-partitioned + sorted,
    * so a probe's list join row-group-skips) and the k-row centroid table.
    * An ANN index IS an ETL artifact: built once per corpus version,
    * served by every query after — the same materialization class as the
    * sharded store (q28) and bucketed tables (q31). */
  def ivfIndexPath(spark: SparkSession, dir: String, k: Int,
      iters: Int = 3): String =
    Scratch.once(("ivfIndex", dir, k, iters)) {
      val out = Scratch.path(spark, "graft_ivf")
      val (assigned, centroids) = ivfAssign(spark, dir, k, iters)
      assigned.repartitionByRange(col("cluster"))
        .sortWithinPartitions("cluster", "vec_id")
        .write.mode("overwrite").parquet(s"$out/lists")
      centroids.write.mode("overwrite").parquet(s"$out/centroids")
      out
    }

  /** Incremental IVF maintenance, step 1: assign a NEW batch of vectors
    * into an EXISTING (frozen) centroid table — one broadcast crossJoin +
    * `max_by`, no k-means rerun. Because assignment is per-vector given
    * frozen centroids, the batch-assigned lists are IDENTICAL to what a
    * full rebuild over corpus ∪ batch would assign with the same centroids
    * (PipelineSpec asserts this) — the ANN twin of q52's daily-crawl
    * increment: the expensive artifact (centroids) is reused, the cheap
    * map-side step (assignment) runs on just the new data.
    *
    * What this does NOT do: move centroids. A drifting corpus degrades
    * list balance over time; the production cadence is incremental appends
    * per crawl batch + a periodic full [[ivfAssign]] rebuild (the same
    * compaction rhythm as q52's dedup store), with list-size skew deciding
    * when.
    *
    * EAGERNESS NOTE (ADVICE r19): although this returns a DataFrame, the
    * call itself runs a Spark job — [[assignStep]] collects the k-row
    * centroid table at plan-CONSTRUCTION time to bind the argmax matrix,
    * and raises loudly on an empty table (a degenerate quantizer must
    * never assign silently). */
  def ivfAssignBatch(batch: DataFrame, centroids: DataFrame): DataFrame =
    assignStep(sphereNormalized(batch), centroids)
      .select("vec_id", "cluster", "v")

  /** Incremental IVF maintenance, step 2: append a batch's assigned lists
    * to the cluster-clustered [[ivfIndexPath]] layout. The appended files
    * are themselves range-partitioned + sorted by cluster, so their
    * parquet min/max stats keep probe-side list pruning effective — a
    * probe reads old files ∪ new files of just its probed clusters.
    * (Parquet append is file-level, so no existing data is rewritten;
    * compaction back into one clustered generation is the periodic-rebuild
    * job above.)
    *
    * REPLAY CONTRACT: the parquet append itself is NOT idempotent — the
    * same batch applied twice duplicates its vec_ids in the lists layout,
    * shifting probe ranks (the same non-idempotence class the dedup
    * store's `_applied_upto` marker guards). Callers without a `batchId`
    * get at-most-once as THEIR obligation. With a `batchId`, an
    * already-applied batch is suppressed (loudly, on stderr) via an
    * underscore-prefixed marker file in the lists dir — invisible to the
    * parquet reader, mirroring the dedup store's guard INCLUDING its
    * scope: batch ids restart at 0 per stream, so the marker carries
    * `streamId` (the owning streaming query's persisted id, or any stable
    * source identity) and a different stream's batch 0 appends normally
    * instead of being swallowed by a prior stream's marker. Marker I/O goes
    * through the Hadoop `FileSystem` of `indexPath` — the layout lives on
    * HDFS/object stores in production, where a `java.nio` probe would
    * always report "no marker" and silently disarm the guard. The marker
    * lands AFTER the data commit, so a crash inside that window can still
    * duplicate on retry; the periodic full-rebuild compaction clears any
    * such remnant, and a compactor can also dedup on vec_id directly. */
  def ivfAppendBatch(spark: SparkSession, indexPath: String,
      batch: DataFrame, batchId: Option[Long] = None,
      streamId: String = "default"): Unit =
    ivfAppendRows(spark, indexPath, batchId, streamId)(
      cents => ivfAssignBatch(batch, cents))

  /** [[ivfAppendBatch]] for an INT8-AT-REST lists layout (rows are
    * `(vec_id, cluster, max_abs_micro, q)` — [[quantizedStoreRows]]'s
    * projection plus the assigned cluster): the same frozen-centroid
    * assignment kernel decides the cluster, the stored row is the q58
    * codec's. The assignment joins back to the batch's quantized rows on
    * vec_id — batch-bounded, and broadcast at crawl cardinality. Same
    * marker/replay contract as the float form (shared [[ivfAppendRows]]
    * body). */
  def ivfAppendBatchQuantized(spark: SparkSession, indexPath: String,
      batch: DataFrame, batchId: Option[Long] = None,
      streamId: String = "default"): Unit =
    ivfAppendRows(spark, indexPath, batchId, streamId) { cents =>
      ivfAssignBatch(batch, cents).select("vec_id", "cluster")
        .join(quantizedStoreRows(batch), Seq("vec_id"))
    }

  /** The shared append body: the replay-marker CAS, the cluster-clustered
    * file-level append, the marker commit — one owner so the float and
    * int8-at-rest layouts cannot drift on the replay contract. `rows`
    * receives the frozen centroid table and must return the layout's row
    * projection with a `cluster` column. */
  private def ivfAppendRows(spark: SparkSession, indexPath: String,
      batchId: Option[Long], streamId: String)(
      rows: DataFrame => DataFrame): Unit = {
    val scope = streamId.replaceAll("[^A-Za-z0-9._-]", "_")
    val marker = batchId.map(id => new org.apache.hadoop.fs.Path(
      s"$indexPath/lists", s"_applied_${scope}_batch_$id"))
    lazy val fs = marker.get.getFileSystem(
      spark.sessionState.newHadoopConf())
    if (marker.exists(fs.exists(_)))
      System.err.println(s"[graft.Vectors] ivfAppendBatch: batch " +
        s"${batchId.get} of stream $scope already applied at $indexPath: " +
        "replay suppressed")
    else {
      rows(spark.read.parquet(s"$indexPath/centroids"))
        .repartitionByRange(col("cluster"))
        .sortWithinPartitions("cluster", "vec_id")
        .write.mode("append").parquet(s"$indexPath/lists")
      marker.foreach(m => fs.create(m, false).close())
      ()
    }
  }

  // --- Q66: the IVF top-k QUERY form, oracle-gated --------------------------

  /** q66 gate config: 8 coarse lists, probe the 2 nearest, top-5 neighbors.
    * Small enough that the unrolled DuckDB twin stays readable; large enough
    * that probing (nprobe < k) actually excludes lists. */
  val IvfGateK = 8
  val IvfGateNprobe = 2
  val IvfGateTopK = 5

  /** Q66: the IVF probe over the materialized [[ivfIndexPath]] layout as a
    * gate query (the index build is session-scoped ETL, like q28's reshard
    * and q31's bucketed tables; PipelineSpec asserts the disk-index probe
    * ≡ the in-memory build-then-probe). Every stage is deterministic —
    * seeds are the k lowest vec_ids, assignment/probe argmaxes tie-break on
    * cluster id, final ranking on (rounded cos_sim, neighbor_id) — so the
    * approximate-ANN *query shape* still has an EXACT oracle: DuckDB
    * re-runs the same 3 spherical k-means iterations unrolled as CTEs
    * ([[q66Sql]]). Float-safety note: centroid means feed only DISCRETE
    * argmax decisions (which list a vector joins, which lists a query
    * probes); the emitted cos_sim is computed from the original normalized
    * vectors with the same sequential-fold dot product both engines share
    * (q21 precedent), so a last-ulp mean difference cannot leak into the
    * hashed values — only into an (improbable) exact argmax tie. */
  def q66IvfTopk(spark: SparkSession, dir: String): DataFrame = {
    val p = ivfIndexPath(spark, dir, IvfGateK)
    ivfProbe(spark.read.parquet(s"$p/lists"),
        spark.read.parquet(s"$p/centroids"), IvfGateNprobe, IvfGateTopK)
      .orderBy("query_id", "rank")
  }

  /** One k-means assignment step as DuckDB SQL: each vector in `src` to its
    * max-sim centroid in `cents`, ties to the HIGHER cluster id (the twin of
    * Spark's `max_by(cluster, struct(sim, cluster))`). */
  private def ivfAssignSql(src: String, cents: String): String =
    s"""SELECT vec_id, cluster, v FROM (
       |  SELECT e.vec_id, c.cluster, e.v,
       |         row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |           list_sum(list_transform(range($Dim), i -> e.v[i+1] * c.c[i+1])) DESC,
       |           c.cluster DESC) AS rk
       |  FROM $src e CROSS JOIN $cents c)
       |WHERE rk = 1""".stripMargin

  /** One centroid-update step as DuckDB SQL: per-(cluster, dim) mean of the
    * assigned vectors, re-normalized to the sphere; a cluster that attracted
    * no vectors keeps its previous centroid (the `coalesce` in
    * [[ivfAssign]]). */
  private def ivfUpdateSql(assigned: String, prev: String): String =
    s"""SELECT p.cluster,
       |       CASE WHEN m.cm IS NULL THEN p.c
       |            ELSE list_transform(m.cm, x ->
       |              x / sqrt(list_sum(list_transform(m.cm, y -> y * y)))) END AS c
       |FROM $prev p LEFT JOIN (
       |  SELECT cluster, list(m ORDER BY pos) AS cm FROM (
       |    SELECT cluster, t.i AS pos, avg(v[t.i + 1]) AS m
       |    FROM $assigned, range($Dim) t(i) GROUP BY cluster, t.i)
       |  GROUP BY cluster) m ON p.cluster = m.cluster""".stripMargin

  val q66Sql: String =
    s"""WITH en AS (
       |  SELECT vec_id, list_transform(v0, x -> x / sqrt(ss)) AS v FROM (
       |    SELECT vec_id, v0, CASE WHEN $hasNullElemSql THEN NULL
       |      ELSE list_sum(list_transform(v0, x -> x * x)) END AS ss FROM (
       |      SELECT vec_id, embedding,
       |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v0
       |      FROM embeddings))
       |  WHERE ss > 0),
       |c0 AS (SELECT vec_id AS cluster, v AS c FROM en ORDER BY vec_id LIMIT $IvfGateK),
       |a1 AS (${ivfAssignSql("en", "c0")}),
       |c1 AS (${ivfUpdateSql("a1", "c0")}),
       |a2 AS (${ivfAssignSql("en", "c1")}),
       |c2 AS (${ivfUpdateSql("a2", "c1")}),
       |a3 AS (${ivfAssignSql("en", "c2")}),
       |c3 AS (${ivfUpdateSql("a3", "c2")}),
       |idx AS (${ivfAssignSql("en", "c3")}),
       |probes AS (
       |  SELECT query_id, qv, cluster FROM (
       |    SELECT q.vec_id AS query_id, q.v AS qv, c.cluster,
       |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |             list_sum(list_transform(range($Dim), i -> q.v[i+1] * c.c[i+1])) DESC,
       |             c.cluster ASC) AS rk
       |    FROM idx q CROSS JOIN c3 c WHERE q.vec_id < $NumQueries)
       |  WHERE rk <= $IvfGateNprobe)
       |SELECT query_id, neighbor_id, cos_sim, rank FROM (
       |  SELECT query_id, neighbor_id, cos_sim,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |           ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM (SELECT p.query_id, i.vec_id AS neighbor_id,
       |               ${stableRoundSql(
                         s"list_sum(list_transform(range($Dim), " +
                           "j -> p.qv[j+1] * i.v[j+1]))", 4)} AS cos_sim
       |        FROM probes p JOIN idx i USING (cluster)
       |        WHERE i.vec_id <> p.query_id))
       |WHERE rank <= $IvfGateTopK ORDER BY query_id, rank""".stripMargin

  // --- Q78: incremental IVF ingest, driver-gated ----------------------------

  /** q78's epoch split: the standing corpus is `vec_id % 10 < 9`, the
    * ingested crawl batch the remaining tenth — the ANN twin of q76's
    * two-epoch dedup shape. */
  private def ingestSplit(all: DataFrame): (DataFrame, DataFrame) =
    (all.filter(col("vec_id") % 10 < 9), all.filter(col("vec_id") % 10 === 9))

  /** Q78: incremental IVF INGEST driver-gated — the maintenance path
    * ([[ivfAssignBatch]]/[[ivfAppendBatch]]) whose distributed execution
    * was previously spec-only. The index is built from the standing corpus
    * (k-means trained on corpus₀ ONLY — seeds and iterations never see the
    * batch), epoch 1 is appended into the cluster-clustered layout through
    * the REAL append path, the SAME batch is then deliberately re-applied
    * with the same (streamId, batchId) — the replay guard must suppress
    * it, and the oracle PROVES it did: a duplicated epoch would occupy two
    * rank slots per duplicated neighbor and hash-mismatch — and the grown
    * layout is probed by [[ivfProbe]] verbatim (q66's query form).
    *
    * Oracle validity: assignment under FROZEN centroids is per-vector, so
    * lists(corpus₀) ∪ assign(epoch₁) ≡ assign(corpus₀ ∪ epoch₁) with the
    * same centroids (PipelineSpec asserts it); the DuckDB twin therefore
    * trains the unrolled k-means CTEs on the corpus₀ subset and assigns
    * the FULL vector set against the final centroids. Memoized per sf dir
    * (the ingest mutates the layout; q76's pattern) with the probe result
    * persisted and re-read on later calls. */
  def q78IvfIngest(spark: SparkSession, dir: String): DataFrame = {
    val out = Scratch.once(("ivfIngest", dir)) {
      val base = Scratch.path(spark, "graft_ivf_ingest")
      val (idx, resultPath) = (s"$base/index", s"$base/result")
      val (corpus0, epoch1) = ingestSplit(table(spark, dir, "embeddings"))
      val (assigned, centroids) =
        ivfAssignVectors(corpus0, IvfGateK, iters = 3)
      assigned.repartitionByRange(col("cluster"))
        .sortWithinPartitions("cluster", "vec_id")
        .write.mode("overwrite").parquet(s"$idx/lists")
      centroids.write.mode("overwrite").parquet(s"$idx/centroids")
      ivfAppendBatch(spark, idx, epoch1, batchId = Some(0L), streamId = "q78")
      // the replay: same stream, same batch id — MUST be suppressed (the
      // at-least-once redelivery the marker exists for), exercised in the
      // gate run itself so the guard's distributed execution is graded
      ivfAppendBatch(spark, idx, epoch1, batchId = Some(0L), streamId = "q78")
      ivfProbe(spark.read.parquet(s"$idx/lists"),
          spark.read.parquet(s"$idx/centroids"), IvfGateNprobe, IvfGateTopK)
        .coalesce(1).write.mode("overwrite").parquet(resultPath)
      resultPath
    }
    spark.read.parquet(out).orderBy("query_id", "rank")
  }

  /** DuckDB oracle for q78: q66's unrolled-CTE template with the k-means
    * CTEs (seeds + 3 iterations) restricted to the corpus₀ subset and the
    * final assignment over the UNION corpus — the frozen-centroid append
    * relation stated directly. */
  val q78Sql: String =
    s"""WITH en AS (
       |  SELECT vec_id, list_transform(v0, x -> x / sqrt(ss)) AS v FROM (
       |    SELECT vec_id, v0, CASE WHEN $hasNullElemSql THEN NULL
       |      ELSE list_sum(list_transform(v0, x -> x * x)) END AS ss FROM (
       |      SELECT vec_id, embedding,
       |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v0
       |      FROM embeddings))
       |  WHERE ss > 0),
       |en0 AS (SELECT * FROM en WHERE vec_id % 10 < 9),
       |c0 AS (SELECT vec_id AS cluster, v AS c FROM en0 ORDER BY vec_id LIMIT $IvfGateK),
       |a1 AS (${ivfAssignSql("en0", "c0")}),
       |c1 AS (${ivfUpdateSql("a1", "c0")}),
       |a2 AS (${ivfAssignSql("en0", "c1")}),
       |c2 AS (${ivfUpdateSql("a2", "c1")}),
       |a3 AS (${ivfAssignSql("en0", "c2")}),
       |c3 AS (${ivfUpdateSql("a3", "c2")}),
       |idx AS (${ivfAssignSql("en", "c3")}),
       |probes AS (
       |  SELECT query_id, qv, cluster FROM (
       |    SELECT q.vec_id AS query_id, q.v AS qv, c.cluster,
       |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |             list_sum(list_transform(range($Dim), i -> q.v[i+1] * c.c[i+1])) DESC,
       |             c.cluster ASC) AS rk
       |    FROM idx q CROSS JOIN c3 c WHERE q.vec_id < $NumQueries)
       |  WHERE rk <= $IvfGateNprobe)
       |SELECT query_id, neighbor_id, cos_sim, rank FROM (
       |  SELECT query_id, neighbor_id, cos_sim,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |           ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM (SELECT p.query_id, i.vec_id AS neighbor_id,
       |               ${stableRoundSql(
                         s"list_sum(list_transform(range($Dim), " +
                           "j -> p.qv[j+1] * i.v[j+1]))", 4)} AS cos_sim
       |        FROM probes p JOIN idx i USING (cluster)
       |        WHERE i.vec_id <> p.query_id))
       |WHERE rank <= $IvfGateTopK ORDER BY query_id, rank""".stripMargin

  /** Lazy candidate-pair self-join over a banded projection: strictly an
    * equi-join on (band_idx, band_val) — exposed so plan tests can assert
    * the cartesian-free shape before [[cosineNearDupPairs]] materializes
    * it. */
  private[graft] def candidatePairs(banded: DataFrame): DataFrame =
    banded.as("x").join(banded.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_val") === col("y.band_val") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"))
      .distinct()

  /** Embedding-cosine near-duplicate pairs: banded LSH + the over-full-
    * bucket guard, exact cosine only on candidates — the all-pairs
    * comparison never happens. Defaults are the SCALE config (2 bands × 16
    * planes = 65,536 buckets per band): near-identical vectors agree on
    * every sign bit with high probability, so each band catches them, while
    * independent vectors collide w.p. ~2^-16 per band. `maxBucketSize`
    * bounds the worst bucket's self-join fan-in regardless of data skew
    * ([[refineOverfullBuckets]]). Input: any DataFrame with
    * (vec_id, embedding). */
  def cosineNearDupPairs(vectors: DataFrame, threshold: Double,
      numBands: Int = 2, planesPerBand: Int = 16,
      maxBucketSize: Int = 1 << 20): DataFrame = {
    // cached: the refined banding feeds both sides of the candidate join —
    // without it the dominant cost (numBands × planesPerBand folds/vector)
    // doubles. Scoped to this call: the candidate set (bounded by the bucket
    // guard) is materialized eagerly, then the cache dropped.
    // zero-norm vectors carry no direction: excluded ONCE, up front —
    // banding them would only inflate one bucket (all sign bits fire),
    // skew the over-full-bucket guard and generate candidate pairs the
    // scoring join must then discard
    val proj = vectors.select(col("vec_id"), col("embedding"),
      sqrt(dot("embedding", "embedding")).as("nrm"))
      .filter(col("nrm") > 0)
    val banded = refineOverfullBuckets(
      bandedProjection(proj.select("vec_id", "embedding"), numBands,
        planesPerBand),
      maxBucketSize, numBands * planesPerBand).cache()
    val cand =
      try candidatePairs(banded).localCheckpoint(true)
      finally { banded.unpersist(); () }
    cand
      .join(proj.select(col("vec_id").as("id_a"), col("embedding").as("va"),
        col("nrm").as("na")), Seq("id_a"))
      .join(proj.select(col("vec_id").as("id_b"), col("embedding").as("vb"),
        col("nrm").as("nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        stableRound(dot("va", "vb") / (col("na") * col("nb")), 4).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** q38's similarity floor: low enough that same-bucket pairs (already
    * sign-correlated on 8 planes) clear it in meaningful numbers at gate
    * scale, high enough that the filter stage is actually exercised. */
  val NearDupThreshold = 0.3

  /** Q38: the embedding near-dup pipeline END-TO-END as a gate query —
    * banded LSH candidates (gate config: 1 band × [[NumPlanes]] planes, the
    * same md5-derived buckets as q22), exact cosine on candidates only,
    * threshold filter. Every stage is deterministic, so unlike a
    * recall-style ANN result this has an EXACT SQL oracle: DuckDB rebuilds
    * the buckets from the same plane literals, self-joins within bucket,
    * and scores with the same sequential-fold double dot product. The
    * library scale config ([[cosineNearDupPairs]] defaults, 2×16 planes +
    * bucket guard) is property-tested in PipelineSpec; this entry pins the
    * pipeline's exact semantics under the driver's hash compare. */
  def q38CosineNeardup(spark: SparkSession, dir: String): DataFrame =
    cosineNearDupPairs(table(spark, dir, "embeddings"), NearDupThreshold,
      numBands = 1, planesPerBand = NumPlanes)
      .orderBy("id_a", "id_b")

  val q38Sql: String =
    s"""WITH b AS (
       |  SELECT vec_id, embedding, $bucketBitsSql AS bucket,
       |         CASE WHEN $hasNullElemSql THEN NULL
       |         ELSE sqrt(list_sum(list_transform(range(len(embedding)),
       |           i -> CAST(embedding[i+1] AS DOUBLE) * CAST(embedding[i+1] AS DOUBLE)))) END AS nrm
       |  FROM embeddings)
       |SELECT * FROM (
       |  SELECT x.vec_id AS id_a, y.vec_id AS id_b,
       |         ${stableRoundSql(
                   "list_sum(list_transform(range(len(x.embedding)), " +
                     "i -> CAST(x.embedding[i+1] AS DOUBLE) * CAST(y.embedding[i+1] AS DOUBLE))) " +
                     "/ (x.nrm * y.nrm)", 4)} AS cos_sim
       |  FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
       |  WHERE x.nrm > 0 AND y.nrm > 0)
       |WHERE cos_sim >= $NearDupThreshold ORDER BY id_a, id_b""".stripMargin

  /** LSH-bucketed approximate top-k: compare only within a bucket. Used by
    * PipelineSpec to measure recall vs [[q21TopkCosine]]; not a gate query
    * (approximate results have no SQL-exact oracle by construction). */
  def lshTopk(spark: SparkSession, dir: String, k: Int,
      numPlanes: Int = NumPlanes): DataFrame = {
    // cache feeds both sides of the bucket self-join; call-scoped — the
    // n×k result is materialized eagerly, then the cache dropped
    val e = lshProjected(table(spark, dir, "embeddings"), numPlanes).cache()
    try {
      // zero-norm vectors keep their bucket assignment (the q22 census and
      // this path share one bucket definition) but can neither query nor
      // rank — the division below excludes them on BOTH join sides
      val q = e.filter(col("nrm") > 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          col("bucket").as("qb"), col("nrm").as("qn"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("cos_sim").desc, col("neighbor_id"))
      q.join(e, col("qb") === col("bucket") && col("vec_id") =!= col("query_id")
          && col("nrm") > 0)
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          stableRound(dot("qe", "embedding") / (col("qn") * col("nrm")), 4)
            .as("cos_sim"))
        .withColumn("rank", row_number().over(w).cast(LongType))
        .filter(col("rank") <= k)
        .localCheckpoint(true)
    } finally { e.unpersist(); () }
  }

  // --- Q68: the LSH top-k QUERY form, oracle-gated --------------------------

  /** Q68: [[lshTopk]]'s query shape as a gate query — the LSH sibling of
    * q66's IVF probe, closing the last ANN form without a CORRECTNESS row.
    * Queries follow the q21/q66 convention (`vec_id < NumQueries`), compare
    * only within the query's [[lshBucket]] (the SAME 8-sign-bit definition
    * the q22 census and q38 pairs gate), rank by (rounded cos_sim,
    * neighbor_id). Everything is deterministic — md5-derived planes, shared
    * sequential-fold dot, explicit tie-breaks — so the approximate-ANN
    * query shape still has an EXACT oracle ([[q68Sql]]), q66 precedent.
    * A query whose bucket holds fewer than [[TopK]] neighbors returns
    * fewer rows (approximation by construction, priced by PipelineSpec's
    * recall measurement vs q21); zero-norm vectors are excluded from both
    * sides, q21 precedent.
    *
    * Scale shape: the query side is tiny by construction and BROADCAST, so
    * the corpus never shuffles — the probe is one map-side bucket-equality
    * join + a window over n_queries·bucket_size rows. The full-corpus
    * variant (every vector queries) is [[lshTopk]]: same bucket definition,
    * same ranking, self-join instead of broadcast. */
  def q68LshTopk(spark: SparkSession, dir: String): DataFrame = {
    val e = lshProjected(table(spark, dir, "embeddings"))
      .filter(col("nrm") > 0)
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("bucket").as("qb"), col("nrm").as("qn"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    e.join(broadcast(q),
        col("qb") === col("bucket") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        stableRound(dot("qe", "embedding") / (col("qn") * col("nrm")), 4)
          .as("cos_sim"))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= TopK)
      .orderBy("query_id", "rank")
  }

  val q68Sql: String =
    s"""WITH b AS (
       |  SELECT vec_id, embedding, $bucketBitsSql AS bucket,
       |         CASE WHEN $hasNullElemSql THEN NULL
       |         ELSE sqrt(list_sum(list_transform(range(len(embedding)),
       |           i -> CAST(embedding[i+1] AS DOUBLE) * CAST(embedding[i+1] AS DOUBLE)))) END AS nrm
       |  FROM embeddings)
       |SELECT query_id, neighbor_id, cos_sim, rank FROM (
       |  SELECT query_id, neighbor_id, cos_sim,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |           ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM (
       |    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |           ${stableRoundSql(
                     "list_sum(list_transform(range(len(q.embedding)), " +
                       "i -> CAST(q.embedding[i+1] AS DOUBLE) * CAST(e.embedding[i+1] AS DOUBLE))) " +
                       "/ (q.nrm * e.nrm)", 4)} AS cos_sim
       |    FROM b q JOIN b e ON q.bucket = e.bucket AND e.vec_id <> q.vec_id
       |    WHERE q.vec_id < $NumQueries AND q.nrm > 0 AND e.nrm > 0))
       |WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin

  // --- Q71: ANN recall floor, driver-checked --------------------------------

  /** Recall floor for [[q71AnnRecall]] in whole percent, on the IVF probe:
    * the gate fails LOUDLY (raise_error on the Spark side, boolean flip vs
    * the oracle on both) if q66's recall vs the exact baseline drops below
    * this. Measured across the four replay corpora at round 10 — IVF
    * (k=8, nprobe=2, top-5): 92 / 92 / 100 / 100 % — and set WITH MARGIN
    * under the minimum, so it trips on a real retrieval regression
    * (centroid/assignment drift, probe-selection break, ranking change),
    * not on corpus noise. */
  val RecallFloorPct = 60

  /** Q71: the ANN family's recall, DRIVER-CHECKED. The exact brute-force
    * baseline (the retired q21's kernel, still [[q21TopkCosine]]), the IVF
    * probe (q66) and the LSH probe (q68) are all deterministic, so their
    * per-query intersection sizes are hash-exact quantities DuckDB can
    * recompute — the recall of the approximate indexes finally sits in
    * CORRECTNESS_r{N}.json instead of only in a spec. One row per query at
    * the q66 config (top-[[IvfGateTopK]]):
    * (query_id, n_exact, n_hits_ivf, n_hits_lsh, floor_ok).
    *
    * `floor_ok` gates TOTAL IVF hits against [[RecallFloorPct]] of total
    * exact rows (per-query floors would be brittle — one hard query is
    * legitimate ANN behavior), and the Spark side raises instead of
    * emitting `false`: a recall regression is a loud gate failure, not a
    * silently-matching row. The LSH column is deliberately NOT floored:
    * single-bucket 8-plane LSH top-k over near-orthogonal Gaussian
    * embeddings has ~0–10 % uniform-top-k recall BY DESIGN (its gate
    * utility is high-precision near-dup retrieval — q19/q38 — not
    * uniform top-k; measured r10, BENCH_NOTES), so a floor there would
    * gate noise. It rides along so the number stays visible every round.
    *
    * Scale shape: all three inputs are top-k relations over [[NumQueries]]
    * queries — k·q rows each — so the intersection joins, grouped counts,
    * and the broadcast totals row are driver-trivial at any corpus
    * size; the heavy lifting happens inside q21/q66/q68's own plans. */
  def q71AnnRecall(spark: SparkSession, dir: String,
      floorPct: Int = RecallFloorPct): DataFrame = {
    // pinned: three branches read `exact` (two semi-join probes + the
    // n_exact aggregate). Its kernel is the full-corpus cosine ranking —
    // the query's dominant cost — so single-computation is made STRUCTURAL
    // (k·q-row checkpoint) rather than left to exchange-reuse/AQE, the
    // same convention as ivfTopk/lshTopk's pinned inputs.
    val exact = q21TopkCosine(spark, dir)
      .filter(col("rank") <= IvfGateTopK)
      .select("query_id", "neighbor_id")
      .localCheckpoint(true)
    def hitsVs(approx: DataFrame, out: String): DataFrame = exact
      .join(approx, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as(out))
    val ivfHits = hitsVs(q66IvfTopk(spark, dir)
      .select("query_id", "neighbor_id"), "n_hits_ivf")
    val lshHits = hitsVs(q68LshTopk(spark, dir)
      .filter(col("rank") <= IvfGateTopK)
      .select("query_id", "neighbor_id"), "n_hits_lsh")
    // the int8 serving row's recall vs the float baseline (r15): brute
    // force over QUANTIZED vectors, so its misses measure pure codec
    // ranking error, not index selectivity — unfloored like LSH (the IVF
    // floor already gates index health), visible every round
    val int8Hits = hitsVs(q85QuantizedTopk(spark, dir)
      .filter(col("rank") <= IvfGateTopK)
      .select("query_id", "neighbor_id"), "n_hits_int8")
    val perq = exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
      .join(ivfHits, Seq("query_id"), "left_outer")
      .join(lshHits, Seq("query_id"), "left_outer")
      .join(int8Hits, Seq("query_id"), "left_outer")
      .select(col("query_id"), col("n_exact"),
        coalesce(col("n_hits_ivf"), lit(0L)).as("n_hits_ivf"),
        coalesce(col("n_hits_lsh"), lit(0L)).as("n_hits_lsh"),
        coalesce(col("n_hits_int8"), lit(0L)).as("n_hits_int8"))
    // corpus-wide totals as a broadcast 1-ROW AGGREGATE crossJoined back in
    // (the pageRank nCount convention) — NOT a Window.partitionBy(): the
    // empty-frame window is equally bounded here (k·q rows) but logs a
    // `WindowExec: No Partition Defined` warning on every run, noise that
    // trains readers to ignore the one unbounded-window warning that would
    // matter elsewhere
    val totals = perq.agg(sum(col("n_hits_ivf")).as("_tot_ivf"),
      sum(col("n_exact")).as("_tot_exact"))
    perq.crossJoin(broadcast(totals))
      .withColumn("floor_ok",
        when(col("_tot_ivf") * 100 >= col("_tot_exact") * floorPct, lit(true))
          .otherwise(raise_error(concat(
            lit("q71: ANN recall floor broken: IVF hits "),
            col("_tot_ivf"),
            lit(" of "), col("_tot_exact"),
            lit(s" exact rows < $floorPct%")))))
      .drop("_tot_ivf", "_tot_exact")
      .orderBy("query_id")
  }

  // lazy: references q85Sql, declared later in this object body
  lazy val q71Sql: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |         CASE WHEN $hasNullElemSql THEN NULL
       |         ELSE sqrt(list_sum(list_transform(range(len(embedding)),
       |           i -> CAST(embedding[i+1] AS DOUBLE) * CAST(embedding[i+1] AS DOUBLE)))) END AS nrm
       |  FROM embeddings),
       |e2 AS (SELECT * FROM e WHERE nrm > 0),
       |exact AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id, CAST(row_number() OVER (
       |        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id)
       |      AS BIGINT) AS rank
       |    FROM (
       |      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |             ${stableRoundSql(
                       "list_sum(list_transform(range(len(q.embedding)), " +
                         "i -> CAST(q.embedding[i+1] AS DOUBLE) * CAST(e.embedding[i+1] AS DOUBLE))) " +
                         "/ (q.nrm * e.nrm)", 4)} AS cos_sim
       |      FROM e2 q JOIN e2 e ON e.vec_id <> q.vec_id
       |      WHERE q.vec_id < $NumQueries))
       |  WHERE rank <= $IvfGateTopK),
       |ivf AS (SELECT query_id, neighbor_id FROM ($q66Sql)),
       |lsh AS (SELECT query_id, neighbor_id FROM ($q68Sql)
       |        WHERE rank <= $IvfGateTopK),
       |int8 AS (SELECT query_id, neighbor_id FROM ($q85Sql)
       |         WHERE rank <= $IvfGateTopK),
       |perq AS (
       |  SELECT x.query_id, CAST(count(*) AS BIGINT) AS n_exact,
       |         CAST(count(i.query_id) AS BIGINT) AS n_hits_ivf,
       |         CAST(count(l.query_id) AS BIGINT) AS n_hits_lsh,
       |         CAST(count(v.query_id) AS BIGINT) AS n_hits_int8
       |  FROM exact x
       |  LEFT JOIN ivf i ON x.query_id = i.query_id
       |                 AND x.neighbor_id = i.neighbor_id
       |  LEFT JOIN lsh l ON x.query_id = l.query_id
       |                 AND x.neighbor_id = l.neighbor_id
       |  LEFT JOIN int8 v ON x.query_id = v.query_id
       |                  AND x.neighbor_id = v.neighbor_id
       |  GROUP BY x.query_id)
       |SELECT query_id, n_exact, n_hits_ivf, n_hits_lsh, n_hits_int8,
       |       (sum(n_hits_ivf) OVER () * 100 >= sum(n_exact) OVER () * $RecallFloorPct)
       |         AS floor_ok
       |FROM perq ORDER BY query_id""".stripMargin

  // --- Q58: int8 symmetric quantization -------------------------------------

  /** Per-vector symmetric int8 quantization — the 4× storage/bandwidth
    * shrink an embedding store runs before serving ANN at 100 TB:
    * `q_i = round(x_i * 127 / max|x|)`, plus the scale needed to
    * dequantize. Rounding is an explicit `floor(v + 0.5)` (not `round`) so
    * both engines share ONE deterministic tie rule, and the per-vector
    * scale is emitted as integer micro-units for the same reason. The
    * quantized vector itself travels as a CSV string + checksum: the gate
    * hash then never depends on how either engine's client formats nested
    * arrays. Degenerate vectors — zero (no direction to scale), any
    * non-finite element (max|x| becomes NaN/Inf), any NULL element (mx is
    * forced to NULL in both engines — their native max/sum primitives
    * disagree on null-skipping, ADVICE r7), or magnitudes beyond
    * 1e12 (the micro-unit scale would overflow int64; no real embedding
    * regime) — quantize to all zeros with a −1 sentinel scale instead of
    * dividing by zero, casting NaN, or overflowing. The scale's resolution
    * is one micro-unit, so magnitudes below 1e-6 have NO representable
    * scale (micro would round to 0 and dequantize everything to zero) —
    * they take the sentinel too, keeping the emitted scale's relative
    * error ≤ 0.5 micro-units always. The single vector-level validity
    * predicate `1e-6 ≤ mx ≤ 1e12` covers every degenerate case identically
    * in both engines BECAUSE both order NaN greater than every number
    * (`NaN ≤ 1e12` is false in Spark and DuckDB alike), and a NaN/Inf
    * element always surfaces as `mx = NaN/Inf`. An EMPTY vector yields
    * ('', 0) and a NULL vector yields (NULL, NULL) on both engines — the
    * oracle needs explicit CASEs because DuckDB's `array_to_string([])`
    * and `list_sum([])` return NULL where Spark's `array_join`/`aggregate`
    * return ''/0 (both spec-pinned).
    *
    * Scale shape: map-only row-local array arithmetic — one scan, one
    * projection, no shuffle but the presentation sort. */
  def q58Quantize(spark: SparkSession, dir: String): DataFrame =
    quantizedInts(table(spark, dir, "embeddings"))
      .select(col("vec_id"), col("max_abs_micro"),
        expr("array_join(transform(q, x -> CAST(x AS STRING)), ',')").as("q8_csv"),
        expr("aggregate(q, 0L, (a, x) -> a + x)").as("q8_sum"))
      .orderBy("vec_id")

  /** The int8 codec's SHARED projection — `(vec_id, mx, max_abs_micro, q)`
    * with [[q58Quantize]]'s exact arithmetic (explicit `floor(v + 0.5)`
    * tie rule, micro-unit integer scale, −1 sentinel for every degenerate
    * class) — one owner so the storage row (q58) and the serving probe
    * (q85) cannot drift. */
  private def quantizedInts(vectors: DataFrame): DataFrame =
    vectors
      .select(col("vec_id"), col("embedding"),
        // a NULL ELEMENT forces mx to NULL so the vector takes the -1
        // sentinel: without this, Spark's array_max would SKIP the null
        // (mx real, vector "valid") and the null would then poison q8_sum
        // to NULL while array_join silently dropped it from the CSV —
        // diverging from DuckDB's null-skipping list_sum (ADVICE r7)
        expr("""CASE WHEN exists(embedding, v -> v IS NULL)
                |THEN CAST(NULL AS DOUBLE)
                |ELSE array_max(transform(embedding, v -> abs(CAST(v AS DOUBLE))))
                |END""".stripMargin).as("mx"))
      .select(col("vec_id"), col("mx"),
        expr("""CASE WHEN mx >= 0.000001D AND mx <= 1000000000000.0D
                |THEN CAST(floor(mx * 1000000.0D + 0.5D) AS BIGINT)
                |ELSE -1L END""".stripMargin).as("max_abs_micro"),
        expr("""CASE WHEN mx >= 0.000001D AND mx <= 1000000000000.0D
                |THEN transform(embedding, v ->
                |  CAST(floor(CAST(v AS DOUBLE) * 127.0D / mx + 0.5D) AS BIGINT))
                |ELSE transform(embedding, v -> 0L)
                |END""".stripMargin).as("q"))

  // --- Q85: top-k served FROM the quantized vectors -------------------------

  /** Q85: the int8 SERVING row — top-k cosine computed from the QUANTIZED
    * vectors (q58 proves the codec; this is the query that runs against
    * the 4×-smaller store, the bandwidth shape a 100 TB embedding corpus
    * serves ANN from). The cosine needs no dequantization at all: a valid
    * vector dequantizes to `q · s` for one positive scalar
    * `s = max_abs_micro / (1e6 · 127)`, and scalars cancel in cosine — so
    * the probe is an INTEGER dot product and two integer norms (|q_i| ≤
    * 127, 64 dims ⇒ every sum fits a long exactly), with floats appearing
    * only in the final division. Both engines therefore compute from
    * IDENTICAL integer inputs and the result is bit-exact before the
    * 4-decimal round; the round itself is the bit-stable floor form
    * ([[graft.functions.StableRound]] — the builtin `round` diverges
    * between engines at .xxxx5 shortest-repr boundaries), so the rounded
    * rank key is bit-exact too — the approximate-codec query form with an
    * EXACT oracle, q66's discipline. Sentinel vectors (scale −1: zero, null
    * element, non-finite, out-of-regime — [[q58Quantize]]'s classes) have
    * no serving representation and are excluded from both sides; a valid
    * vector's max element quantizes to ±127, so its integer norm is never
    * zero and the division is safe under ANSI.
    *
    * Scale shape: the [[NumQueries]] query rows BROADCAST; the quantized
    * corpus is scanned map-only (one integer fold per row, validity filter
    * pushed into the scan), and the `row_number ≤ k` rank filter triggers
    * Spark's partial `WindowGroupLimit` BEFORE the exchange — each scan
    * partition forwards at most k·n_queries candidate rows, so the one
    * shuffle carries top-k survivors, never the corpus
    * (PipelineSpec pins both plan claims). Recall vs the exact float
    * baseline rides in q71's artifact (`n_hits_int8`) every round. */
  def q85QuantizedTopk(spark: SparkSession, dir: String): DataFrame =
    quantizedServingTopkFromStore(
      spark.read.parquet(quantizedStorePath(spark, dir)), TopK)
      .orderBy("query_id", "rank")

  /** Once-per-JVM materialization of the embeddings table as the
    * int8-at-rest store layout ([[quantizedStoreRows]]'s parquet) — the
    * ETL-artifact convention of [[ivfIndexPath]], memoized per sf dir.
    * q85 serves FROM this layout (r18, the q31-vs-q3 / q77-vs-q82
    * discipline): the gate row
    * now reads the PRODUCTION at-rest representation — true int8 scan
    * bandwidth, the 100 TB serving shape VectorScaleBench measures at
    * 100M — instead of inline-quantizing the float table per query. The
    * oracle is unchanged: the stored row is [[quantizedInts]]'s codec row
    * by construction, so the served relation is identical. */
  def quantizedStorePath(spark: SparkSession, dir: String): String =
    Scratch.once(("quantizedStore", dir)) {
      val out = Scratch.path(spark, "graft_q8store")
      quantizedStoreRows(table(spark, dir, "embeddings"))
        .write.mode("overwrite").parquet(out)
      out
    }

  /** The int8 serving kernel over an explicit `(vec_id, embedding)` frame
    * — q85's exact query body, exposed so the 10M-vector rehearsal
    * (VectorScaleBench) runs the PRODUCTION serving scan, not a copy
    * (the ivfAssignVectors convention). Queries follow the gate
    * convention: `vec_id < ` [[NumQueries]]. */
  def quantizedServingTopk(vectors: DataFrame, topk: Int): DataFrame =
    quantizedServingTopkFromStore(quantizedInts(vectors), topk)

  /** The q58 codec's STORAGE projection `(vec_id, max_abs_micro, q)` — the
    * row an int8-at-rest embedding store persists (4× smaller than float32
    * at rest, and the only representation that fits a 100M × 64-dim corpus
    * on this sandbox's disk: ~6.4 GB of payload vs ~26 GB float32 /
    * ~51 GB float64). [[dequantizedView]] is its decode;
    * [[quantizedServingTopkFromStore]] serves directly from it. */
  def quantizedStoreRows(vectors: DataFrame): DataFrame =
    quantizedInts(vectors).select("vec_id", "max_abs_micro", "q")

  /** Decode of [[quantizedStoreRows]] back to a float `(vec_id, embedding)`
    * view — map-only row-local arithmetic over the int8 scan (the
    * 100 TB shape: int8 at rest, float views derived on demand, nothing
    * rematerialized). Sentinel rows (scale −1: zero/degenerate vectors
    * with no serving representation) are excluded, mirroring the serving
    * kernel's validity filter. */
  def dequantizedView(qstore: DataFrame): DataFrame =
    qstore.filter(col("max_abs_micro") > 0)
      .select(col("vec_id"),
        call_function("int8_decode", col("q"), col("max_abs_micro"))
          .as("embedding"))

  /** [[quantizedServingTopk]]'s body over an ALREADY-quantized store row
    * set ([[quantizedStoreRows]]'s projection, or [[quantizedInts]]'s
    * superset) — one owner so the inline-quantizing gate form and the
    * int8-at-rest serving scan (VectorScaleBench's 100M rung reads the
    * stored representation, paying int8 scan bandwidth, not float) cannot
    * drift. */
  def quantizedServingTopkFromStore(qstore: DataFrame,
      topk: Int): DataFrame = {
    // native int8 kernels (r19): the norm and dot previously ran through
    // aggregate/zip_with — CodegenFallback, interpreted per row, the
    // measured ~39 MB/s/core decode bound at the 100M rung. int8_norm2 /
    // int8_dot compute the same exact integer arithmetic compiled, so the
    // served relation is bit-identical and q85's oracle carries over
    // unchanged. The RAGGED-PAIR GUARD (r15 ADVICE) moved INTO int8_dot:
    // a length mismatch raises the same loud named error (never a partial
    // dot), mirrored verbatim by the DuckDB twin's `error()` guard in
    // [[q85Sql]].
    val qv = qstore
      .filter(col("max_abs_micro") > 0)
      .select(col("vec_id"), col("q"),
        call_function("int8_norm2", col("q")).as("n2"))
    val queries = qv.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("q").as("qq"),
        col("n2").as("qn2"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    qv.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        graft.functions.StableRound.stableRound(
          call_function("int8_dot", col("qq"), col("q")).cast("double") /
            (sqrt(col("qn2").cast("double")) * sqrt(col("n2").cast("double"))),
          4).as("cos_sim"))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= topk)
  }

  val q85Sql: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |         CASE WHEN $hasNullElemSql THEN NULL
       |         ELSE list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))) END AS mx
       |  FROM embeddings),
       |qz AS (
       |  SELECT vec_id,
       |         list_transform(embedding, v ->
       |           CAST(floor(CAST(v AS DOUBLE) * 127.0 / mx + 0.5) AS BIGINT)) AS q
       |  FROM e WHERE mx >= 0.000001 AND mx <= 1000000000000.0),
       |n AS (SELECT vec_id, q,
       |             CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS n2
       |      FROM qz)
       |SELECT query_id, neighbor_id, cos_sim, rank FROM (
       |  SELECT query_id, neighbor_id, cos_sim,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |           ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM (SELECT qn.vec_id AS query_id, en.vec_id AS neighbor_id,
       |               ${graft.functions.StableRound.stableRoundSql(
                         // ragged-pair guard: same named failure as the
                         // Spark side's raise_error (r15 ADVICE)
                         "CASE WHEN len(qn.q) <> len(en.q) " +
                           "THEN CAST(error('int8_dot: ragged quantized " +
                           "vectors — query/corpus dims differ') AS DOUBLE) " +
                           "ELSE CAST(list_sum(list_transform(range(len(qn.q)), " +
                           "i -> qn.q[i+1] * en.q[i+1])) AS DOUBLE) " +
                           "/ (sqrt(CAST(qn.n2 AS DOUBLE)) * sqrt(CAST(en.n2 AS DOUBLE))) END",
                         4)}
       |                 AS cos_sim
       |        FROM n qn JOIN n en ON en.vec_id <> qn.vec_id
       |        WHERE qn.vec_id < $NumQueries))
       |WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin

  // --- Q86: the IVF probe over the INT8-AT-REST lists layout -----------------

  /** Once-per-JVM materialization of the QUANTIZED IVF index — the
    * 100 TB serving combination ([[ivfProbeQuantized]] over int8-at-rest
    * lists) as an ETL artifact, closing the last production serving path
    * without its own CORRECTNESS row (VERDICT r18 #3; q66 gates the float
    * layout). The corpus of record is the int8 store
    * ([[quantizedStorePath]]); k-means trains on its DEQUANTIZED view
    * (the store is the source of truth — the VectorScaleBench int8 mode's
    * build shape), and the lists rows are the store rows plus the
    * assigned cluster.
    *
    * The assignment happens IN the store scan: one map-only pass computes
    * decode → validity → normalize → [[nearestClusterCol]] argmax
    * directly on the quantized rows, so the only exchange in the build is
    * the cluster-clustered write's range partitioning — carrying int8
    * payload, never a float64 list (VERDICT r18 #2's shape, applied to
    * the layout this round adds). Membership is identical to routing the
    * decoded view through [[assignStep]] (same normalize, same argmax
    * kernel — PipelineSpec pins it). */
  def ivfQuantizedIndexPath(spark: SparkSession, dir: String, k: Int,
      iters: Int = 3): String =
    Scratch.once(("ivfQIndex", dir, k, iters)) {
      val out = Scratch.path(spark, "graft_ivfq")
      val qstore = spark.read.parquet(quantizedStorePath(spark, dir))
      val (_, centroids) =
        ivfAssignVectors(dequantizedView(qstore), k, iters)
      val cs = collectCentroids(centroids)
      qstore.filter(col("max_abs_micro") > 0)
        .withColumn("d",
          call_function("int8_decode", col("q"), col("max_abs_micro")))
        .filter(call_function("vec_dot", col("d"), col("d")) > 0)
        .withColumn("v", call_function("vec_normalize", col("d")))
        .select(col("vec_id"),
          nearestClusterCol(cs, col("v")).as("cluster"),
          col("max_abs_micro"), col("q"))
        .repartitionByRange(col("cluster"))
        .sortWithinPartitions("cluster", "vec_id")
        .write.mode("overwrite").parquet(s"$out/lists")
      centroids.write.mode("overwrite").parquet(s"$out/centroids")
      out
    }

  /** Q86: [[ivfProbeQuantized]] over the materialized int8 lists layout —
    * q66's query convention (k = [[IvfGateK]], nprobe = [[IvfGateNprobe]],
    * top-[[IvfGateTopK]]) against the at-rest representation the 100M
    * rehearsal serves. Deterministic end to end (codec exact in both
    * engines, decode/normalize/dot bit-shared via the native kernels'
    * contract, every argmax tie-broken), so the quantized index's query
    * shape has an EXACT oracle: [[q86Sql]] rebuilds the codec rows,
    * decodes, unrolls the same 3 k-means iterations over the decoded
    * sphere, and scores candidates as `dot(qv, d) / ||d||` with the same
    * sequential folds. */
  def q86IvfQuantized(spark: SparkSession, dir: String): DataFrame = {
    val p = ivfQuantizedIndexPath(spark, dir, IvfGateK)
    ivfProbeQuantized(spark.read.parquet(s"$p/lists"),
        spark.read.parquet(s"$p/centroids"), IvfGateNprobe, IvfGateTopK)
      .orderBy("query_id", "rank")
  }

  val q86Sql: String =
    s"""WITH eq AS (
       |  SELECT vec_id, q, CAST(floor(mx * 1000000.0 + 0.5) AS BIGINT) AS mam
       |  FROM (
       |    SELECT vec_id, mx,
       |           list_transform(embedding, v ->
       |             CAST(floor(CAST(v AS DOUBLE) * 127.0 / mx + 0.5) AS BIGINT)) AS q
       |    FROM (SELECT vec_id, embedding,
       |                 CASE WHEN $hasNullElemSql THEN NULL
       |                 ELSE list_max(list_transform(embedding,
       |                   v -> abs(CAST(v AS DOUBLE)))) END AS mx
       |          FROM embeddings)
       |    WHERE mx >= 0.000001 AND mx <= 1000000000000.0)),
       |dec AS (
       |  SELECT vec_id,
       |         list_transform(q, x -> CAST(x AS DOUBLE) * mam / 127000000.0) AS d
       |  FROM eq),
       |en AS (
       |  SELECT vec_id, list_transform(d, x -> x / sqrt(ss)) AS v
       |  FROM (SELECT vec_id, d,
       |               list_sum(list_transform(d, x -> x * x)) AS ss
       |        FROM dec)
       |  WHERE ss > 0),
       |c0 AS (SELECT vec_id AS cluster, v AS c FROM en ORDER BY vec_id LIMIT $IvfGateK),
       |a1 AS (${ivfAssignSql("en", "c0")}),
       |c1 AS (${ivfUpdateSql("a1", "c0")}),
       |a2 AS (${ivfAssignSql("en", "c1")}),
       |c2 AS (${ivfUpdateSql("a2", "c1")}),
       |a3 AS (${ivfAssignSql("en", "c2")}),
       |c3 AS (${ivfUpdateSql("a3", "c2")}),
       |idx AS (${ivfAssignSql("en", "c3")}),
       |probes AS (
       |  SELECT query_id, qv, cluster FROM (
       |    SELECT q.vec_id AS query_id, q.v AS qv, c.cluster,
       |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |             list_sum(list_transform(range($Dim), i -> q.v[i+1] * c.c[i+1])) DESC,
       |             c.cluster ASC) AS rk
       |    FROM idx q CROSS JOIN c3 c WHERE q.vec_id < $NumQueries)
       |  WHERE rk <= $IvfGateNprobe)
       |SELECT query_id, neighbor_id, cos_sim, rank FROM (
       |  SELECT query_id, neighbor_id, cos_sim,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |           ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM (SELECT p.query_id, i.vec_id AS neighbor_id,
       |               ${stableRoundSql(
                         // ragged-pair guard: the same loud named error
                         // as the Spark side's CASE (a range()-indexed
                         // fold would otherwise SKIP the out-of-range
                         // NULLs and score a partial dot)
                         "CASE WHEN len(p.qv) <> len(dc.d) " +
                           "THEN CAST(error('int8_dot: ragged quantized " +
                           "vectors — query/corpus dims differ') AS DOUBLE) " +
                           s"ELSE list_sum(list_transform(range($Dim), " +
                           "j -> p.qv[j+1] * dc.d[j+1])) " +
                           s"/ sqrt(list_sum(list_transform(range($Dim), " +
                           "j -> dc.d[j+1] * dc.d[j+1]))) END", 4)} AS cos_sim
       |        FROM probes p JOIN idx i USING (cluster)
       |                      JOIN dec dc ON dc.vec_id = i.vec_id
       |        WHERE i.vec_id <> p.query_id))
       |WHERE rank <= $IvfGateTopK ORDER BY query_id, rank""".stripMargin

  val q58Sql: String =
    s"""WITH e AS (
      |  SELECT vec_id, embedding,
      |    CASE WHEN $hasNullElemSql THEN NULL
      |    ELSE list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))) END AS mx
      |  FROM embeddings),
      |q AS (
      |  SELECT vec_id, mx,
      |    CASE WHEN mx >= 0.000001 AND mx <= 1000000000000.0
      |      THEN list_transform(embedding, v ->
      |        CAST(floor(CAST(v AS DOUBLE) * 127.0 / mx + 0.5) AS BIGINT))
      |      ELSE list_transform(embedding, v -> CAST(0 AS BIGINT))
      |    END AS q
      |  FROM e)
      |SELECT vec_id,
      |  CASE WHEN mx >= 0.000001 AND mx <= 1000000000000.0
      |    THEN CAST(floor(mx * 1000000.0 + 0.5) AS BIGINT)
      |    ELSE CAST(-1 AS BIGINT) END AS max_abs_micro,
      |  CASE WHEN q IS NULL THEN NULL WHEN len(q) = 0 THEN ''
      |    ELSE array_to_string(list_transform(q, x -> CAST(x AS VARCHAR)), ',')
      |  END AS q8_csv,
      |  CASE WHEN q IS NULL THEN NULL
      |    ELSE COALESCE(CAST(list_sum(q) AS BIGINT), 0) END AS q8_sum
      |FROM q ORDER BY vec_id""".stripMargin
}
