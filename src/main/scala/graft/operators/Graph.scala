package graft.operators

import scala.jdk.CollectionConverters.SeqHasAsJava

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Scratch
import graft.TripleStore
import graft.TripleStore.triples

/** Graph analytics over the triple table (the BASELINE north star: RDF
  * triples as an edge list — SURVEY §1.4 "Graph view"). Edges are the
  * entity-valued triples: `subject -[predicate]-> object` where the object
  * is itself an entity reference (`<...>`), e.g.
  * `<order_k> -<orderedBy>-> <cust_c> -<inNation>-> <nation_n>`.
  */
object Graph {

  /** Default [[ccStar]] local-finish threshold: switch to the in-driver
    * union-find once a round's contracted edge set is at most this many
    * edges. Sized to the driver heap for the WORST-case node type — string
    * ids at ~150 MB of boxed pairs; numeric id types (q60's BIGINT doc
    * ids, INT) box far smaller, so the same 1M-edge bound holds with
    * headroom for every type the generic finish supports. */
  val LocalFinishDefault: Long = 1L << 20

  /** Entity-valued edge list. */
  def edges(spark: SparkSession, dir: String): DataFrame =
    triples(spark, dir)
      .filter(col("object").startsWith("<"))
      .select(col("subject").as("src"), col("predicate").as("rel"),
        col("object").as("dst"))

  /** Q25: per-node out/in degree — one shuffle per side (map-side combined
    * counts), then an outer join of two small aggregates. */
  def q25NodeDegrees(spark: SparkSession, dir: String): DataFrame = {
    val e = edges(spark, dir)
    val out = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("out_deg"))
    val in  = e.groupBy(col("dst").as("node")).agg(count(lit(1)).as("in_deg"))
    out.join(in, Seq("node"), "full_outer")
      .select(col("node"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
      .orderBy("node")
  }

  val q25Sql: String =
    s"""WITH ${TripleStore.TriplesCte},
       |e AS (SELECT subject AS src, object AS dst FROM triples
       |      WHERE object LIKE '<%'),
       |o AS (SELECT src AS node, count(*) AS out_deg FROM e GROUP BY 1),
       |i AS (SELECT dst AS node, count(*) AS in_deg FROM e GROUP BY 1)
       |SELECT COALESCE(o.node, i.node) AS node,
       |       CAST(COALESCE(out_deg, 0) AS BIGINT) AS out_deg,
       |       CAST(COALESCE(in_deg, 0) AS BIGINT) AS in_deg
       |FROM o FULL OUTER JOIN i ON o.node = i.node
       |ORDER BY node""".stripMargin

  /** PageRank over the directed entity graph (the classic RDF-analytics
    * companion to degrees/components — BASELINE's GraphX north star,
    * re-expressed declaratively).
    *
    * Each iteration is: contributions = rank/out_deg shipped along edges
    * (one join against the static out-degree table), then one groupBy-sum
    * per destination plus the damping update. Dangling mass (nodes with no
    * out-edges) is redistributed uniformly so ranks stay a probability
    * distribution — computed as a 1-row anti-join aggregate broadcast into
    * the update plan, NOT a driver-side collect, so the whole iteration is
    * ONE Spark job (the `localCheckpoint` materialization; asserted via a
    * job-count listener in GraphSpec). `localCheckpoint` truncates lineage
    * per iteration (on a cluster: `checkpoint` to a checkpoint dir). At
    * 100 TB the per-iteration shuffles repeat on the same keys every round
    * (src for the contribution join, dst for the fan-in): hash-partitioning
    * the edge table on src once wins a measured ~23% of wall at 10M edges
    * (PageRankScaleBench — already-clustered rows shuffle cheaper; the
    * compile-time exchange itself is NOT elided by the checkpoint's
    * preserved partitioning), and the true exchange-FREE edge side is
    * [[pageRankBucketed]] over a bucketed catalog table (r14: shipped,
    * plan-asserted, measured — see BENCH_NOTES). */
  def pageRank(edgeDf: DataFrame, iters: Int = 10,
      damping: Double = 0.85): DataFrame =
    pageRankLoop(pinSer(edgeDf.select(col("src"), col("dst"))),
      iters, damping)

  /** The graph loop's O(|V|)/O(|E|) frames are pinned with SERIALIZED block
    * storage. The deserialized default (MEMORY_AND_DISK) inflates each row
    * to a boxed object graph (~3× the UnsafeRow bytes) and re-inflates
    * every disk-evicted block back into the memory store on read
    * (`maybeCacheDiskValuesInMemory`) — at 99M nodes the retained
    * rank/node/out-degree frames OOM'd an 80 GiB heap exactly there (r15
    * 100M-edge rehearsal stack: `DeserializedValuesHolder.getBuilder`).
    * Serialized blocks stay UnsafeRow-compact and page from disk without
    * re-inflation; at gate scale (≤165k nodes) the extra deser CPU is
    * unmeasurable. */
  private def pinSer(df: DataFrame): DataFrame =
    Scratch.pin(df, level = StorageLevel.MEMORY_AND_DISK_SER)

  /** [[pageRank]] over a BUCKETED catalog edge table ([[writeBucketedEdges]])
    * — the 100× plan win PageRankScaleBench identified but pre-partitioning
    * could NOT deliver (a checkpoint's preserved partitioning still plans
    * the compile-time Exchange; measured +23% wall from cheaper shuffling
    * of clustered rows, exchange count unchanged). A table bucketed on
    * `src` carries `HashPartitioning(src)` out of the SCAN, so every
    * iteration's contribution join AND the out-degree build read the
    * multi-TB edge relation with NO Exchange — per-iteration movement
    * drops to the |V|-row rank side plus the dst fan-in (GraphSpec asserts
    * the elision in the executed plan; PageRankScaleBench measures it at
    * 10M edges). The edge table needs no checkpoint: it is already a
    * materialized artifact, the same ETL class as q31's bucketed store.
    *
    * [[ccStar]] is deliberately NOT wired to a bucketed table: its edge
    * set CONTRACTS every round (each round rewrites the relation), so a
    * static bucketed layout would serve only round 1 — the bucketing win
    * belongs to loops whose big side is static, which PageRank's is. */
  def pageRankBucketed(spark: SparkSession, edgeTable: String,
      iters: Int = 10, damping: Double = 0.85): DataFrame =
    pageRankMaterialized(spark.table(edgeTable), iters, damping)

  /** [[pageRank]] over an edge relation that is ALREADY materialized on
    * disk (a catalog table or a parquet directory) but not necessarily
    * bucketed: skips [[pageRank]]'s defensive memory-pinning checkpoint and
    * lets every iteration re-scan the store. This is the only loop shape
    * that survives the target scale — a 100 TB edge relation cannot be
    * memory-resident, and the r15 100M-edge rehearsal proved the pinned
    * variant doesn't survive even 10×: two eager localCheckpoint copies of
    * a 99M-edge frame (the caller's + [[pageRank]]'s internal one) OOM'd a
    * 48 GiB heap mid-loop (PageRankScaleBench, BENCH_NOTES r15). */
  def pageRankMaterialized(edgeDf: DataFrame, iters: Int = 10,
      damping: Double = 0.85): DataFrame =
    pageRankLoop(edgeDf.select(col("src"), col("dst")), iters, damping)

  /** Bucketed edge layout for [[pageRankBucketed]]: bucketBy(src) +
    * in-bucket sort, the [[graft.TripleStore.writeBucketed]] machinery on
    * the graph's join key. */
  def writeBucketedEdges(edges: DataFrame, tableName: String,
      numBuckets: Int): Unit = {
    graft.TripleStore.dropTableAndLocation(edges.sparkSession, tableName)
    edges.select(col("src"), col("dst"))
      .write.mode("overwrite")
      .bucketBy(numBuckets, "src").sortBy("src")
      .format("parquet")
      .saveAsTable(tableName)
  }

  /** The shared iteration loop: `edges` must be MATERIALIZED (an eager
    * localCheckpoint or an on-disk table) — it is re-read once per
    * iteration plus twice at build time, never recomputed from lineage. */
  private def pageRankLoop(edges: DataFrame, iters: Int,
      damping: Double): DataFrame = {
    // superseded rounds are released as they go: waiting for GC +
    // ContextCleaner loses the race at scale — back-to-back 10M-edge runs
    // OOMed an 8 GiB heap on accumulated superseded rank blocks before this
    // (PageRankScaleBench r13). Safe once the next round is EAGERLY
    // materialized: nothing references the old blocks. (A bucketed-table
    // edge side has nothing to release.)
    val nodes = pinSer(edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct())
    // node count as a broadcast-able 1-ROW AGGREGATE, not a driver count():
    // materialized once (an eager checkpoint job, same cost the count paid)
    // and then ridden into the init and every iteration's plan exactly like
    // the dangling-mass scalar — the whole build is driver-action-free
    // (GraphSpec's listener asserts no count/head action fires)
    val nCount = Scratch.pin(
      nodes.agg(count(lit(1)).cast("double").as("n_nodes")))
    val outDeg = pinSer(edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("out_deg")))
    var ranks = pinSer(nodes.crossJoin(broadcast(nCount))
      .select(col("node"), (lit(1.0) / col("n_nodes")).as("rank")))
    for (_ <- 1 to iters) {
      // mass parked on dangling nodes (not in outDeg), as a broadcast
      // 1-row scalar — stays inside the iteration's single job
      val dangling = ranks.join(outDeg, Seq("node"), "left_anti")
        .agg(coalesce(sum(col("rank")), lit(0.0)).as("dangling_mass"))
      val contribs = edges
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .join(outDeg.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"),
          (col("rank") / col("out_deg")).as("c"))
        .groupBy("node").agg(sum(col("c")).as("in_mass"))
      val next = pinSer(nodes.join(contribs, Seq("node"), "left_outer")
        .crossJoin(broadcast(dangling))
        .crossJoin(broadcast(nCount))
        .select(col("node"),
          ((lit(1.0) - lit(damping)) / col("n_nodes") +
            lit(damping) * (coalesce(col("in_mass"), lit(0.0)) +
              col("dangling_mass") / col("n_nodes"))).as("rank")))
      Scratch.release(ranks) // superseded — next is already materialized
      ranks = next
    }
    // the auxiliaries are dead once the final (checkpointed) ranks exist
    Seq(edges, nodes, nCount, outDeg).foreach(Scratch.release)
    ranks
  }

  /** q75's fixed iteration count: enough rounds that rank has propagated
    * across the graph's full diameter (order→cust→nation→region is 3 hops)
    * and the dangling-mass redistribution has fed back at least once, while
    * keeping the unrolled DuckDB oracle and the fingerprint derivation
    * cheap. Determinism discipline is q66's: a FIXED unrolled computation,
    * scores normalized before hashing. */
  private[graft] val PageRankIters = 3

  /** Reference for GraphSpec's q81 check: [[pageRank]]'s n-scaled emission,
    * not a gate entry of its own. Scores are n-scaled (`rank * n_nodes`, mean
    * 1.0 — the usual "importance relative to uniform" reading) and rounded to
    * 6 decimals: every arithmetic step is written identically in the oracle,
    * so the only engine divergence is summation order inside the per-node
    * contribution aggregates — bounded in-degree sums whose fp wobble (~1e-13
    * relative) sits eight orders of magnitude inside the rounding half-ulp.
    * q81 gates the same iterations and emission ([[q75Sql]] verbatim) over
    * the bucketed edge scan, and GraphSpec pins q81 ≡ this row-for-row after
    * rounding. */
  def q75PageRank(spark: SparkSession, dir: String): DataFrame = {
    val e = edges(spark, dir)
    nScaledRanks(e, pageRank(e, iters = PageRankIters))
  }

  /** Shared q75/q81 gate emission: n-scaled (`rank * n_nodes`, mean 1.0)
    * scores rounded to 6 decimals in node order — ONE copy of the
    * arithmetic both entries must keep in lockstep with [[q75Sql]]. */
  private def nScaledRanks(e: DataFrame, ranks: DataFrame): DataFrame = {
    val nCount = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .agg(count(lit(1)).cast("double").as("n_nodes"))
    ranks.crossJoin(broadcast(nCount))
      .select(col("node"),
        // stableRound (d=6, admitted by the r16 integral-v subcase): the
        // builtin diverges between engines at .xxxxx5 shortest-repr
        // boundaries — same class as every other hashed rounded column
        graft.functions.StableRound
          .stableRound(col("rank") * col("n_nodes"), 6).as("rank"))
      .orderBy("node")
  }

  /** Once-per-JVM bucketed edge-table materialization for q81 —
    * [[TripleStore.bucketedMergeTables]]'s injective name tag applied to
    * [[writeBucketedEdges]]. */
  def bucketedEdgeTable(spark: SparkSession, dir: String,
      numBuckets: Int = 4): String = {
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_") +
      "_" + java.lang.Integer.toHexString(dir.hashCode) + s"_$numBuckets"
    val name = s"graft_edges_bkt$tag"
    Scratch.once(("bucketedEdges", dir, numBuckets)) {
      writeBucketedEdges(edges(spark, dir), name, numBuckets)
    }
    name
  }

  /** Q81: [[pageRankBucketed]] driver-gated — the exchange-free edge side's
    * DISTRIBUTED execution carrying its own CORRECTNESS row, the
    * q31-vs-q3 discipline applied to the graph loop: same iteration count,
    * same n-scaling and 6-decimal rounding as [[q75PageRank]], q75's
    * oracle verbatim, but the loop reads the `bucketBy(src)` catalog table
    * ([[bucketedEdgeTable]]) so every iteration's contribution join and
    * the out-degree build scan the edge relation with NO Exchange.
    * GraphSpec pins the plan claim (bucket-aware scan, strictly fewer
    * exchanges than the plain loop); this entry lets the driver check the
    * values. The only arithmetic divergence vs q75 is aggregate summation
    * order off a differently-partitioned edge scan — the same ~1e-13
    * wobble already eight orders inside the rounding half-ulp. */
  def q81PageRankBucketed(spark: SparkSession, dir: String): DataFrame = {
    val table = bucketedEdgeTable(spark, dir)
    nScaledRanks(spark.table(table),
      pageRankBucketed(spark, table, iters = PageRankIters))
  }

  /** DuckDB oracle for q75: [[PageRankIters]] iterations unrolled as CTEs,
    * each the literal transcription of [[pageRank]]'s update — dangling
    * mass as a scalar subquery, contributions as a grouped sum, the same
    * `(1-d)/n + d*(contrib + dangling/n)` association — so both engines
    * execute the same IEEE arithmetic up to aggregate summation order. */
  val q75Sql: String = {
    val iters = (1 to PageRankIters).map { i =>
      val p = s"r${i - 1}"
      s"""d$i AS (SELECT COALESCE(sum(rank), 0) AS dm FROM $p
         |      LEFT JOIN outdeg USING (node) WHERE d IS NULL),
         |c$i AS (SELECT e.dst AS node, sum(r.rank / o.d) AS m
         |      FROM e JOIN $p r ON e.src = r.node
         |      JOIN outdeg o ON e.src = o.node GROUP BY 1),
         |r$i AS (SELECT nodes.node,
         |        (1 - 0.85) / (SELECT n FROM nn)
         |        + 0.85 * (COALESCE(c$i.m, 0)
         |                  + (SELECT dm FROM d$i) / (SELECT n FROM nn)) AS rank
         |      FROM nodes LEFT JOIN c$i ON nodes.node = c$i.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${TripleStore.TriplesCte},
       |e AS (SELECT subject AS src, object AS dst FROM triples
       |      WHERE object LIKE '<%'),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
       |outdeg AS (SELECT src AS node, count(*) AS d FROM e GROUP BY 1),
       |r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),
       |$iters
       |SELECT node, ${graft.functions.StableRound.stableRoundSql(
                        "rank * (SELECT n FROM nn)", 6)} AS rank
       |FROM r$PageRankIters ORDER BY node""".stripMargin
  }

  /** DuckDB oracle for q33: connected components WITHOUT iteration. The
    * derived entity graph is a forest of region-rooted DAGs
    * (order→cust→nation→region, diameter ≤ 3), so each node's component is
    * identified by the region it reaches within 3 hops, and its label is
    * the component's minimum node id. This is deliberately a DIFFERENT
    * algorithm than [[ccStar]] — an independent derivation the driver can
    * run in plain SQL. */
  val q33Sql: String =
    s"""WITH ${TripleStore.TriplesCte},
       |e AS (SELECT subject AS src, object AS dst FROM triples
       |      WHERE object LIKE '<%'),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |reach AS (
       |  SELECT node, node AS r FROM nodes
       |  UNION
       |  SELECT src AS node, dst AS r FROM e
       |  UNION
       |  SELECT a.src AS node, b.dst AS r FROM e a JOIN e b ON a.dst = b.src
       |  UNION
       |  SELECT a.src AS node, c.dst AS r FROM e a
       |  JOIN e b ON a.dst = b.src JOIN e c ON b.dst = c.src
       |),
       |comp AS (
       |  SELECT node, min(r) FILTER (WHERE r LIKE '<region_%') AS region
       |  FROM reach GROUP BY node),
       |lab AS (SELECT region, min(node) AS label FROM comp GROUP BY region)
       |SELECT c.node AS node, l.label AS label
       |FROM comp c JOIN lab l ON c.region = l.region
       |ORDER BY node""".stripMargin

  /** Connected components via alternating large-star/small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — the power-law-safe form of min-label propagation, and the
    * repo's ONE connected-components implementation (the naive propagation
    * loop was deleted in r9 once this was label-equivalent, convergence-
    * safe, and gated; GraphSpec now checks labels against an in-test
    * union-find instead).
    *
    * Why it matters at 100 TB: min-label propagation funnels EVERY
    * neighbor's label through a single `groupBy(node)` key per round, so a
    * hub with 10^8 neighbors makes one reducer key carry 10^8 rows each
    * iteration. The star rounds instead rewrite the EDGE SET toward stars:
    *   - large-star: each node links its strictly-larger neighbors to
    *     `m = min(N(u) ∪ {u})`;
    *   - small-star: each node links its smaller-or-equal neighbors (and
    *     itself) to that minimum.
    * Each round is the same one-shuffle groupBy shape, but edges pointing
    * INTO a hub migrate to the hub's component minimum after one round —
    * per-key fan-in shrinks geometrically instead of persisting for the
    * graph's full diameter, and total work is O(|E| · log diameter) with
    * high probability. Node ids are compared in Spark's string order; any
    * total order works.
    *
    * Converges when the edge set reaches a fixed point (all stars): every
    * remaining edge is `(node, component_min)`. Output: `(node, label)`
    * including isolated self-loop-only nodes.
    *
    * Driver-job budget: ONE blocking job per round. Each round's edge set is
    * marked with a LAZY checkpoint and the star-fixed-point probe's aggregate
    * action is what materializes it — the probe job computes the round's
    * partitions (cached/truncated by the checkpoint machinery as they
    * stream through) AND the fixed-point flag in the same job, where the
    * earlier eager-checkpoint-then-probe shape paid two blocking jobs per
    * round. On an iterative query that converges in ~5–10 rounds the job
    * count is the latency floor (BENCH_NOTES r10: the r9 driver-bench q60
    * anomaly), so halving it matters more than any per-job cost.
    *
    * `checkpointDir`: by default rounds materialize via `localCheckpoint`
    * (executor memory+disk) — fastest, but the blocks are pinned to live
    * executors, so on a real cluster a lost executor kills the query and
    * long jobs can't release the memory. Passing a directory switches every
    * round to a RELIABLE checkpoint (`sparkContext.setCheckpointDir` +
    * `Dataset.checkpoint`): blocks go to the (typically HDFS/object-store)
    * checkpoint dir, surviving executor loss, at the cost of one extra
    * write job per round — the right trade on a 1000-executor 100 TB run,
    * the wrong one on local[32]. NOTE the dir is `SparkContext`-GLOBAL
    * (Spark has no per-query checkpoint dir): setting it here is
    * last-writer-wins across the session, so concurrent reliable-mode
    * callers should share one dir. In both modes a superseded round's
    * blocks or files are released as soon as the next round's land (each
    * round's lineage is truncated at its own checkpoint, so older
    * generations are dead weight that would otherwise accumulate per round
    * × per invocation); the FINAL round and the input snapshot back the
    * returned lazy DataFrame and stay — the caller owns them once done
    * consuming the result.
    *
    * `localFinishEdges`: star contraction shrinks the edge set
    * GEOMETRICALLY, so the last several rounds each pay a full
    * probe-job + 3-exchange round to contract an edge set that already
    * fits in driver memory. Once a round's probe reports at most this many
    * edges (the probe's aggregate returns the count for free — same single
    * job), the remaining rounds are replaced by ONE collect of the
    * contracted set and an in-driver union-find that emits the star fixed
    * point directly — on an iterative query whose latency floor is its
    * driver-blocking job count (BENCH_NOTES r10: the r9 q60 anomaly), this
    * cuts the tail of small rounds to two jobs total. The threshold bounds
    * DRIVER MEMORY, not input size: at 100 TB the early rounds run fully
    * distributed and the switch happens exactly when the survivor set is
    * provably small (~150 MB of boxed strings at the 1M default — size it
    * to the driver heap; 0 disables the finish entirely). Labels are
    * IDENTICAL either way: union-find keeps each component's minimum as
    * its root, the same fixed point the star rounds converge to. */
  def ccStar(edgeDf: DataFrame, maxIter: Int = 20,
      checkpointDir: Option[String] = None,
      localFinishEdges: Long = LocalFinishDefault): DataFrame = {
    checkpointDir.foreach(edgeDf.sparkSession.sparkContext.setCheckpointDir)
    // LAZY materialization mark: the next action through the result both
    // computes and pins it. Reliable mode writes checkpoint files in a
    // follow-up job after that action (Spark's reliable-checkpoint
    // contract); local mode persists partitions as the action computes them.
    def mark(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint(eager = false)
      else Scratch.pin(df, eager = false)
    // one materialization of the input: the edge list feeds canon here AND
    // both sides of the closing node-domain union — without this the source
    // scan (a parquet read for the store graph) runs three times
    val edges0 = mark(edgeDf.select(col("src"), col("dst")))
    def canon(df: DataFrame): DataFrame = df
      .select(greatest(col("hi"), col("lo")).as("hi"),
        least(col("hi"), col("lo")).as("lo"))
      .filter(col("hi") =!= col("lo")).distinct()
    var e = mark(canon(edges0.select(col("src").as("hi"), col("dst").as("lo"))))
    // Fixed-point test WITHOUT running an extra no-op round: a set of
    // disjoint stars (every `hi` points at exactly one `lo`, and no `lo` is
    // itself a `hi`) is exactly the algorithm's fixed point — applying
    // either star step to a star set reproduces it. ONE aggregate job that
    // BOTH materializes the lazily-marked round (its map side computes every
    // partition of `df`, which the checkpoint mark pins as they stream
    // through) AND computes the flag: group the node domain (hi ∪ lo) and
    // flag a violation when a node is both a hi and a lo, or a hi has two
    // distinct parents (min ≠ max — cheaper than countDistinct's expand).
    // The same job also returns the round's EDGE COUNT (sum of per-node hi
    // rows — the set is distinct, so that IS |E|) to drive the local-finish
    // switch. This replaces a full ~4-shuffle detection round, the earlier
    // two-probe (two-job) variant, and (r10) the eager-checkpoint-then-
    // probe two-job-per-round shape.
    def probe(df: DataFrame): (Boolean, Long) = {
      // the null filler must carry the NODE type: a hard-coded string cast
      // would union-coerce a numeric `lo` column to string (legal but a
      // silent re-type of every row through the aggregate)
      val loType = df.schema("lo").dataType
      val r = df
        .select(col("hi").as("node"), col("lo"), lit(1L).as("as_hi"))
        .union(df.select(col("lo").as("node"),
          lit(null).cast(loType).as("lo"), lit(0L).as("as_hi")))
        .groupBy("node")
        .agg(min(col("lo")).as("lo_min"), max(col("lo")).as("lo_max"),
          min(col("as_hi")).as("hi_min"), max(col("as_hi")).as("hi_max"),
          sum(col("as_hi")).as("n_hi"))
        .agg(
          coalesce(sum(when(col("hi_max") === 1 &&
            (col("hi_min") === 0 || col("lo_min") =!= col("lo_max")), 1L)
            .otherwise(0L)), lit(0L)).as("violations"),
          coalesce(sum(col("n_hi")), lit(0L)).as("n_edges"))
        .head()
      (r.getLong(0) == 0L, r.getLong(1))
    }
    // node-id types the driver-side union-find can't order identically to
    // Catalyst stay fully distributed (threshold 0 = finish disabled)
    val finishEdges =
      if (localFinishSupported(e.schema("hi").dataType)) localFinishEdges
      else 0L
    var (stable, nEdges) = probe(e) // input may already be stars
    var iter = 0
    while (!stable && nEdges > finishEdges && iter < maxIter) {
      // large-star over BOTH directions. The per-u neighborhood minimum is
      // a window aggregate, NOT a groupBy + join-back: min-over-partition
      // rides the one shuffle that partitions by u, where the join-back
      // shape paid a second exchange (or an AQE broadcast decision) per
      // step — measured 1.85× faster end-to-end at sf0.1. Large-star's
      // output needs no re-canonicalization: v > u >= m guarantees
      // hi > lo, and duplicate pairs are tolerated by the small-star
      // window below — the one distinct per round happens after
      // small-star, so each round is three exchanges total.
      val nbrs = e.select(col("hi").as("u"), col("lo").as("v"))
        .union(e.select(col("lo").as("u"), col("hi").as("v")))
      val large = nbrs
        .withColumn("m",
          least(col("u"), min(col("v")).over(Window.partitionBy("u"))))
        .filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
      // small-star over the big->small pointer set (hi > lo by
      // construction); the center rows (hi, m) can duplicate per leaf and
      // branch 1 can emit (m, m) for the min itself — the final
      // distinct/filter absorbs both
      val withM = large
        .withColumn("m", min(col("lo")).over(Window.partitionBy("hi")))
      val small = mark(withM
          .select(col("lo").as("hi"), col("m").as("lo"))
        .union(withM.select(col("hi"), col("m").as("lo")))
        .filter(col("hi") =!= col("lo")).distinct())
      val (s, n) = probe(small)
      stable = s; nEdges = n
      // once round N is written, round N-1 is unreachable by any lineage:
      // release it, or a long-lived session leaks one edge-set copy per
      // round per invocation into executor storage or the checkpoint dir
      if (Scratch.materialized(small)) Scratch.release(e)
      e = small
      iter += 1
    }
    if (!stable && nEdges <= finishEdges) {
      // Local finish: the contracted set fits the threshold — ONE collect
      // (cheap: the probe just materialized/pinned these partitions) and an
      // in-driver union-find replace the remaining O(log) rounds. The
      // collected round is dead the moment the local star set exists in
      // driver memory (the result plan no longer reads it).
      val finished = localStarSet(e)
      Scratch.release(e)
      e = finished
      stable = true
    }
    // A hit iteration cap without the star fixed point would mean the edge
    // set is only partially contracted — the groupBy/min below would then
    // hand back non-minimal, SPLIT component labels with no error. Refuse
    // loudly instead of silently mislabeling (expected rounds are
    // O(log diameter); 20 covers any graph a 100 TB store can hold).
    require(stable,
      s"ccStar did not reach the star fixed point within $maxIter rounds; " +
        "raise maxIter — returning labels here would silently split components")
    // fixed point = stars: each non-root appears as `hi` pointing at its
    // component min; roots and isolated (self-loop-only) nodes label
    // themselves. The node domain is fed UN-deduplicated — the closing
    // groupBy already dedupes, so a separate distinct+materialization of
    // the node set would be a wasted upfront shuffle.
    edges0.select(col("src").as("node"))
      .union(edges0.select(col("dst").as("node")))
      .join(e.select(col("hi").as("node"), col("lo").as("label")),
        Seq("node"), "left_outer")
      .groupBy("node")
      .agg(min(coalesce(col("label"), col("node"))).as("label"))
  }

  /** [[ccStar]]'s local finish: collect the (threshold-bounded) contracted
    * edge set, union-find it on the driver with each component's MINIMUM
    * kept as the root, and hand back the star fixed point as a
    * LocalRelation `(hi, lo)` — accurate size stats, so the closing label
    * join broadcasts it instead of shuffling the full node domain twice.
    * Order-insensitive (the root is the component min no matter how the
    * collected rows interleave), so the output is deterministic.
    *
    * GENERIC over the node type — the star rounds compare node ids with
    * Catalyst's ordering on whatever the edge columns carry (q33 feeds
    * `<entity>` strings, q60 feeds BIGINT doc ids), so the driver-side
    * finish must use the SAME total order or the two materialization paths
    * would crown different roots. For strings that order is UTF8String's
    * BINARY (UTF-8 byte) comparison, which disagrees with Java
    * `String.compareTo` (UTF-16 code-unit order) exactly at the
    * astral/U+FFFF boundary the store's fixtures pin — so strings compare
    * through [[org.apache.spark.unsafe.types.UTF8String]], not `<`. */
  private def localStarSet(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val proj = df.select("hi", "lo")
    val schema = proj.schema
    val lt = localNodeLt(schema.head.dataType).getOrElse(
      // unreachable: ccStar gates the local finish on localFinishSupported
      throw new IllegalStateException(
        s"ccStar local finish on unsupported node id type " +
          s"${schema.head.dataType}"))
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x // path compression: point the walked chain at the root
      while (c != r) { val next = parent(c); parent(c) = r; c = next }
      r
    }
    val nodes = scala.collection.mutable.HashSet.empty[Any]
    proj.collect().foreach { row =>
      val a = row.get(0); val b = row.get(1)
      nodes += a; nodes += b
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
    }
    val rows: java.util.List[org.apache.spark.sql.Row] =
      nodes.iterator.map(n => (n, find(n))).collect {
        case (n, r) if n != r => org.apache.spark.sql.Row(n, r)
      }.toSeq.asJava
    spark.createDataFrame(rows, schema)
  }

  /** Strict less-than matching Catalyst's ascending order for the atomic
    * node-id types a graph edge list can carry; `None` for anything else.
    * [[localFinishSupported]] is DERIVED from this (`isDefined`), so the
    * supported set and the comparator can never drift apart — a split list
    * would turn the documented stay-distributed fallback into a mid-query
    * throw the moment one side gained a type the other lacked. */
  private def localNodeLt(dt: org.apache.spark.sql.types.DataType)
      : Option[(Any, Any) => Boolean] = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType => Some {
        (a, b) =>
          org.apache.spark.unsafe.types.UTF8String
            .fromString(a.asInstanceOf[String])
            .compareTo(org.apache.spark.unsafe.types.UTF8String
              .fromString(b.asInstanceOf[String])) < 0
      }
      case LongType =>
        Some((a, b) => a.asInstanceOf[Long] < b.asInstanceOf[Long])
      case IntegerType =>
        Some((a, b) => a.asInstanceOf[Int] < b.asInstanceOf[Int])
      case ShortType =>
        Some((a, b) => a.asInstanceOf[Short] < b.asInstanceOf[Short])
      case ByteType =>
        Some((a, b) => a.asInstanceOf[Byte] < b.asInstanceOf[Byte])
      case _ => None
    }
  }

  /** True when [[localStarSet]] can finish a graph whose node ids have this
    * type; anything else keeps the contraction fully distributed. */
  private[operators] def localFinishSupported(
      dt: org.apache.spark.sql.types.DataType): Boolean =
    localNodeLt(dt).isDefined
}
