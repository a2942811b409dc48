package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.obs.Work
import graft.operators.Graph

class GraphSpec extends AnyFunSuite with TempDirs {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  /** Test-only oracle replacing the deleted min-label propagation loop
    * (r9 consolidation: ccStar is the one CC implementation in main):
    * component-minimum labels via in-memory union-find, roots kept at the
    * component min so find(x) IS x's label. */
  private def unionFindLabels(
      edges: Seq[(String, String)]): Map[String, String] = {
    val parent = scala.collection.mutable.Map[String, String]()
    def find(x: String): String = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (s, d) =>
      val (rs, rd) = (find(s), find(d))
      if (rs < rd) parent(rd) = rs else if (rd < rs) parent(rs) = rd
    }
    parent.keys.map(n => n -> find(n)).toMap
  }

  test("ccStar: two known components converge to min labels") {
    // component 1: a-b-c (chain); component 2: x-y; isolated edge z->z
    val edges = Seq(
      ("<a>", "<b>"), ("<b>", "<c>"),
      ("<x>", "<y>"),
      ("<z>", "<z>")).toDF("src", "dst")
    val got = Graph.ccStar(edges)
      .as[(String, String)].collect().toMap
    assert(got == Map(
      "<a>" -> "<a>", "<b>" -> "<a>", "<c>" -> "<a>",
      "<x>" -> "<x>", "<y>" -> "<x>",
      "<z>" -> "<z>"))
  }

  test("pageRank: ranks form a distribution, the hub dominates, dangling " +
    "mass is redistributed") {
    // star into <h> plus a back-edge; <d> receives from <h>... no: <h> -> <a>
    // only, and <d> is dangling (no out-edges) via <c> -> <d>
    val edges = Seq(
      ("<a>", "<h>"), ("<b>", "<h>"), ("<c>", "<h>"),
      ("<h>", "<a>"), ("<c>", "<d>")).toDF("src", "dst")
    val ranks = Graph.pageRank(edges, iters = 20)
      .as[(String, Double)].collect().toMap
    assert(math.abs(ranks.values.sum - 1.0) < 1e-6,
      s"ranks not a distribution: ${ranks.values.sum}")
    assert(ranks("<h>") > ranks("<a>"), s"$ranks")
    assert(ranks("<a>") > ranks("<b>"), s"$ranks")
    assert(ranks("<b>") == ranks("<c>"), s"$ranks")
    assert(ranks.values.forall(_ > 0))
  }

  test("model check: pageRank == naive in-memory power iteration on " +
    "random graphs (parallel edges, self-loops, dangling nodes, " +
    "disconnected pieces all occur routinely)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val genEdges = for {
      n <- Gen.choose(2, 8)
      m <- Gen.choose(1, 20)
      es <- Gen.listOfN(m, for {
        s <- Gen.choose(0, n - 1); d <- Gen.choose(0, n - 1)
      } yield (s"<n$s>", s"<n$d>"))
    } yield es
    val (iters, damp) = (3, 0.85)
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8),
      Prop.forAll(genEdges) { es =>
        val got = Graph.pageRank(es.toDF("src", "dst"), iters)
          .as[(String, Double)].collect().toMap
        // independent model: dense per-node fold, parallel edges counted
        // with multiplicity (pageRank does not dedupe the edge list)
        val nodes = (es.map(_._1) ++ es.map(_._2)).distinct.sorted
        val n = nodes.size.toDouble
        val outDeg = es.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
        var rank = nodes.map(_ -> 1.0 / n).toMap
        for (_ <- 1 to iters) {
          val dangling = nodes.filterNot(outDeg.contains).map(rank).sum
          val contrib = scala.collection.mutable.Map
            .empty[String, Double].withDefaultValue(0.0)
          es.foreach { case (s, t) => contrib(t) += rank(s) / outDeg(s) }
          rank = nodes.map(v => v ->
            ((1 - damp) / n + damp * (contrib(v) + dangling / n))).toMap
        }
        got.keySet == rank.keySet &&
          nodes.forall(v => math.abs(got(v) - rank(v)) < 1e-9)
      })
    assert(res.passed, res.status.toString)
  }

  test("pageRank on the store: region hubs outrank every order node") {
    val e = Graph.edges(spark, "/root/testdata/sf0.001")
    val ranks = Graph.pageRank(e, iters = 5)
    assert(math.abs(ranks.agg(sum("rank")).head().getDouble(0) - 1.0) < 1e-6)
    val minRegion = ranks.filter(col("node").startsWith("<region_"))
      .agg(min("rank")).head().getDouble(0)
    val maxOrder = ranks.filter(col("node").startsWith("<order_"))
      .agg(max("rank")).head().getDouble(0)
    assert(minRegion > maxOrder,
      s"region floor $minRegion vs order ceiling $maxOrder")
  }

  test("ccStar == union-find component minima on the store graph") {
    val e = Graph.edges(spark, "/root/testdata/sf0.001")
    val star = Graph.ccStar(e).as[(String, String)].collect().toMap
    val uf = unionFindLabels(
      e.select("src", "dst").as[(String, String)].collect().toSeq)
    assert(star == uf)
  }

  test("ccStar: skewed hub plus chain — labels match min-label propagation " +
    "and converge to the component minimum") {
    // a hub wired to 2,000 leaves (the fan-in min-label propagation funnels
    // through one reducer key every round), bridged to a long chain, plus a
    // disjoint pair and an isolated self-loop. localFinishEdges = 0 pins
    // the DISTRIBUTED star rounds (the default would collect this tiny set
    // after the first probe and never contract).
    val hub = (1 to 2000).map(i => ("<hub>", f"<leaf_$i%04d>"))
    val chain = (1 until 30).map(i => (f"<chain_$i%02d>", f"<chain_${i + 1}%02d>"))
    val bridge = Seq(("<leaf_0001>", "<chain_01>"))
    val rest = Seq(("<p>", "<q>"), ("<solo>", "<solo>"))
    val edgeSeq = hub ++ chain ++ bridge ++ rest
    val edges = edgeSeq.toDF("src", "dst")
    val star = Graph.ccStar(edges, localFinishEdges = 0)
      .as[(String, String)].collect().toMap
    assert(star == unionFindLabels(edgeSeq))
    // and the local-finish path (default threshold) agrees exactly
    assert(Graph.ccStar(edges).as[(String, String)].collect().toMap == star)
    // the big component's min is <chain_01>; every hub/leaf/chain node joins
    assert(star("<hub>") == "<chain_01>")
    assert(star("<leaf_2000>") == "<chain_01>")
    assert(star("<chain_30>") == "<chain_01>")
    assert(star("<q>") == "<p>" && star("<solo>") == "<solo>")
  }

  test("ccStar on BIGINT node ids: local finish and distributed rounds " +
    "agree with union-find (r10 driver regression: q60's doc-id graph)") {
    // q60 feeds ccStar LONG doc ids, not entity strings — r10's local
    // finish assumed strings and threw ClassCastException on the first
    // collected row, killing q60 in the driver's bench AND verify. The
    // fixture must NOT already be a star set (a star input makes the first
    // probe report stable and the local finish never runs — a vacuous pin):
    // hi 5 carries TWO parents (3, 4), so contraction is forced on both
    // materialization shapes, and (100, 4) chains a third node into the
    // same component so the union-find does real root merging.
    val edgeSeq = Seq((5L, 3L), (5L, 4L), (100L, 4L), (9L, 9L),
      (200L, 150L))
    val edges = edgeSeq.toDF("src", "dst")
    val expect = Map(3L -> 3L, 4L -> 3L, 5L -> 3L, 100L -> 3L,
      9L -> 9L, 200L -> 150L, 150L -> 150L)
    val local = Graph.ccStar(edges).as[(Long, Long)].collect().toMap
    val dist = Graph.ccStar(edges, localFinishEdges = 0)
      .as[(Long, Long)].collect().toMap
    assert(local == expect)
    assert(dist == expect)
  }

  test("ccStar local finish orders strings like Catalyst (UTF-8 binary), " +
    "not like java.lang.String (UTF-16 code units)") {
    // U+FFFF's UTF-8 bytes (EF BF BF) sort BELOW the astral chars'
    // (F0 90 80 8x), while Java's UTF-16 comparison puts the surrogates
    // (D800 DC0x) below U+FFFF — so the two orders disagree on this
    // component's minimum. A 3-node chain keeps the input non-star (one
    // canonical hi with two parents), forcing the local finish to actually
    // union-find; its label must be the UTF-8 minimum on BOTH
    // materialization paths, or a local finish would crown a different
    // root than the star rounds.
    val a0 = "𐀀" // U+10000
    val a1 = "𐀁" // U+10001
    val bmp = "￿" // U+FFFF
    assert(a0 < bmp && a1 < bmp,
      "Java order must put astral below U+FFFF for this pin to bite")
    val edges = Seq((a0, a1), (a1, bmp)).toDF("src", "dst")
    val local = Graph.ccStar(edges).as[(String, String)].collect().toMap
    val dist = Graph.ccStar(edges, localFinishEdges = 0)
      .as[(String, String)].collect().toMap
    val expect = Map(a0 -> bmp, a1 -> bmp, bmp -> bmp)
    assert(local == expect)
    assert(dist == expect)
  }

  test("ccStar property: local finish ≡ distributed rounds ≡ union-find " +
    "partition, over random graphs on adversarial string AND Long ids") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // id pools deliberately include the orderings' disagreement points:
    // U+FFFF vs astral-plane (UTF-8 byte order vs UTF-16 code-unit order),
    // empty string, combining accents — plus plain ids
    val stringPool = Vector("", "a", "z~", "é", "0", "￿",
      "𐀀", "𐀁", "m-id", "ÿ")
    val longPool = Vector(0L, 1L, 3L, 7L, 9L, 12L, 100L, -5L, Long.MaxValue,
      42L)
    def genEdges[T](pool: Vector[T]): Gen[List[(T, T)]] =
      Gen.chooseNum(1, 12).flatMap(n => Gen.listOfN(n,
        for {a <- Gen.oneOf(pool); b <- Gen.oneOf(pool)} yield (a, b)))
    // order-free oracle: the PARTITION into components (set of node sets),
    // independent of which member each algorithm crowns as the root —
    // exact equality of the two ccStar paths separately pins that the
    // driver-side comparator agrees with Catalyst's order on the roots
    def ufPartition[T](edges: List[(T, T)]): Set[Set[T]] = {
      val parent = scala.collection.mutable.Map[T, T]()
      def find(x: T): T = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb
      }
      parent.keys.groupBy(find).values.map(_.toSet).toSet
    }
    def check[T](edges: List[(T, T)], toDf: List[(T, T)] =>
        org.apache.spark.sql.DataFrame): Prop = {
      val df = toDf(edges)
      val local = Graph.ccStar(df).collect()
        .map(r => (r.get(0), r.get(1))).toMap
      val dist = Graph.ccStar(df, localFinishEdges = 0).collect()
        .map(r => (r.get(0), r.get(1))).toMap
      val partition = local.groupBy(_._2).values.map(_.keys.toSet).toSet
      Prop(local == dist) :| s"local $local != distributed $dist" &&
        Prop(partition == ufPartition(edges)) :|
          s"partition $partition != union-find ${ufPartition(edges)}"
    }
    val prop =
      Prop.forAll(genEdges(stringPool)) { es =>
        check[String](es, _.toDF("src", "dst")) } &&
      Prop.forAll(genEdges(longPool)) { es =>
        check[Long](es, _.toDF("src", "dst")) }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }

  test("ccStar refuses to return labels when the iteration cap is hit " +
    "before the star fixed point") {
    // a 30-node chain is far from star-shaped after one round; a silent
    // return here would hand back split components (ADVICE r6). The local
    // finish is disabled — it would (correctly) solve any under-threshold
    // set without iterating, which is exactly what this test must not let
    // mask a cap regression on the distributed path.
    val chain = (1 until 30).map(i => (f"<c_$i%02d>", f"<c_${i + 1}%02d>"))
    val e = chain.toDF("src", "dst")
    val ex = intercept[IllegalArgumentException] {
      Graph.ccStar(e, maxIter = 1, localFinishEdges = 0)
    }
    assert(ex.getMessage.contains("star fixed point"))
    // and the same input converges fine under the default cap
    val ok = Graph.ccStar(e, localFinishEdges = 0)
      .as[(String, String)].collect().toMap
    assert(ok.values.toSet == Set("<c_01>"))
  }

  test("pageRankBucketed: a bucketBy(src) edge table elides the edge-side " +
    "Exchange in the contribution join (the 100x static-side win " +
    "pre-partitioning could not deliver) and agrees with the plain loop") {
    import org.apache.spark.sql.DataFrame
    // graph with hubs, dangling nodes, parallel edges
    val es = (0 until 300).map(i =>
      (s"<n${i % 23}>", s"<n${(i * 7 + 1) % 29}>")).toDF("src", "dst")
    Graph.writeBucketedEdges(es, "graft_pr_edges_bkt", 4)
    val plainDir = tmp("graft_pr_plain") + "/e"
    es.write.parquet(plainDir)
    // value equivalence: same arithmetic, different physical distribution —
    // only aggregate summation order may differ (sub-ulp)
    val want = Graph.pageRank(es, iters = 4).as[(String, Double)]
      .collect().toMap
    val got = Graph.pageRankBucketed(spark, "graft_pr_edges_bkt", iters = 4)
      .as[(String, Double)].collect().toMap
    assert(got.keySet == want.keySet)
    assert(want.forall { case (k, v) => math.abs(got(k) - v) < 1e-12 },
      "bucketed ranks diverged from the plain loop")
    // plan: iteration-1 contribution subplan over each edge source, SMJ
    // forced (at test scale the planner would broadcast the tiny sides —
    // at 100 TB nothing here is broadcastable except the scalars) and AQE
    // off for a deterministic compile-time tree
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevA = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def contribPlan(e: DataFrame): String = {
        val ranks = e.select(col("src").as("node"))
          .union(e.select(col("dst").as("node"))).distinct()
          .withColumn("rank", lit(1.0)).localCheckpoint(true)
        val outDeg = e.groupBy(col("src").as("node"))
          .agg(count(lit(1)).as("out_deg")).localCheckpoint(true)
        e.join(ranks.withColumnRenamed("node", "src"), Seq("src"))
          .join(outDeg.withColumnRenamed("node", "src"), Seq("src"))
          .select(col("dst").as("node"),
            (col("rank") / col("out_deg")).as("c"))
          .groupBy("node").agg(sum(col("c")).as("in_mass"))
          .queryExecution.executedPlan.toString
      }
      def exchanges(p: String) = "Exchange hashpartitioning".r.findAllIn(p).size
      val bkt = contribPlan(spark.table("graft_pr_edges_bkt"))
      val plain = contribPlan(spark.read.parquet(plainDir))
      // the bucketed scan itself must satisfy the join's distribution: no
      // Exchange whose child scans the edge table (textually: the plan has
      // strictly fewer exchanges AND the scan advertises bucket selection)
      assert(bkt.contains("SelectedBucketsCount"),
        s"edge scan is not bucket-aware:\n$bkt")
      assert(exchanges(bkt) < exchanges(plain),
        s"bucketing elided no Exchange: bucketed=${exchanges(bkt)} " +
          s"plain=${exchanges(plain)}\n--- bucketed\n$bkt\n--- plain\n$plain")
      // absolute shape: the plain tree shuffles the edge relation for the
      // src-join; the bucketed tree must not (only the checkpointed rank /
      // out-degree sides and the dst fan-in may move)
      assert(exchanges(plain) - exchanges(bkt) >= 1)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.set("spark.sql.adaptive.enabled", prevA)
    }
  }

  test("pageRankMaterialized: the loop over an on-disk (unbucketed) edge " +
    "relation agrees with the memory-checkpointed loop — the only input " +
    "shape that survived the 100M-edge rehearsal (r15: two pinned copies " +
    "of the frame OOM'd a 48 GiB heap)") {
    val es = (0 until 240).map(i =>
      (s"<m${i % 17}>", s"<m${(i * 5 + 2) % 19}>")).toDF("src", "dst")
    val dir = tmp("graft_pr_mat") + "/e"
    es.write.parquet(dir)
    val want = Graph.pageRank(es, iters = 4).as[(String, Double)]
      .collect().toMap
    val got = Graph.pageRankMaterialized(spark.read.parquet(dir), iters = 4)
      .as[(String, Double)].collect().toMap
    assert(got.keySet == want.keySet)
    assert(want.forall { case (k, v) => math.abs(got(k) - v) < 1e-12 },
      "materialized-input ranks diverged from the checkpointed loop")
  }

  test("q81 gate entry: bucketed PageRank reproduces q75's relation " +
    "exactly on the driver corpus, and the edge table is memoized") {
    val dir = "/root/testdata/sf0.001"
    // identical arithmetic + 6-decimal rounding + total order ⇒ the gate
    // relations must be EQUAL as sequences, not merely close. Exact
    // equality is deliberate, not flaky: both entries hash against the
    // SAME oracle on every corpus, so a summation-order wobble flipping a
    // rounding boundary would already fail the gate itself — this test is
    // exactly as stable as the driver's hash compare (the q75 scaladoc's
    // boundary-distance argument: ~1e-13 wobble, 0.5e-6 half-ulp).
    val want = Graph.q75PageRank(spark, dir)
      .as[(String, Double)].collect().toSeq
    val got = Graph.q81PageRankBucketed(spark, dir)
      .as[(String, Double)].collect().toSeq
    assert(got == want, "q81 diverged from q75 after rounding")
    // memoization: a second call must not REWRITE the table — compare the
    // physical files+mtimes, not the returned name (which is a pure
    // function of the inputs and would match even with the memo broken)
    def tableSig(t: String): Set[(String, Long)] = {
      val wh = new java.net.URI(
        spark.conf.get("spark.sql.warehouse.dir")).getPath
      val files = new java.io.File(wh, t.toLowerCase).listFiles()
      assert(files != null && files.nonEmpty, s"no files under table $t")
      files.map(f => (f.getName, f.lastModified)).toSet
    }
    val t1 = Graph.bucketedEdgeTable(spark, dir)
    val s1 = tableSig(t1)
    val t2 = Graph.bucketedEdgeTable(spark, dir)
    assert(t1 == t2, "edge-table memoization returned distinct tables")
    assert(tableSig(t2) == s1,
      "second call rewrote the bucketed edge table — memo broken")
  }

  test("pageRank fuses the dangling-mass scalar into the iteration plan — " +
    "no per-iteration driver action") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = { events.add(funcName); () }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val edges = Seq(
        ("<a>", "<h>"), ("<b>", "<h>"), ("<c>", "<h>"),
        ("<h>", "<a>"), ("<c>", "<d>")).toDF("src", "dst")
      // Work.of drains the bus after the loop, so every action the loop
      // ran has reached the listener; its jobs show the loop did run
      val (_, work) = Work.of(spark)(Graph.pageRank(edges, iters = 5))
      assert(work.jobs > 0, "the rank loop ran no jobs")
      val evs = events.toArray(Array.empty[String]).toSeq
      // the unfused implementations ran .head() per iteration (dangling
      // mass) and .count() at setup (node count); the fused plan runs
      // neither — both scalars ride as broadcast 1-row aggregates
      assert(!evs.contains("head"),
        s"per-iteration driver action leaked back in: $evs")
      assert(!evs.contains("count"),
        s"setup driver action leaked back in: $evs")
    } finally spark.listenerManager.unregister(listener)
  }

  test("ccStar with a reliable checkpoint dir: same labels, checkpoint " +
    "files land in the dir, and superseded rounds' files are deleted") {
    val dir = new java.io.File(tmp("graft_ccstar_ckpt"))
    val hub = (1 to 50).map(i => ("<hub>", f"<leaf_$i%02d>"))
    // the chain forces MULTIPLE contraction rounds (its middle nodes are
    // both a hi and a lo), so the superseded-round cleanup actually runs
    val chain = Seq(("<b>", "<a>"), ("<c>", "<b>"), ("<d>", "<c>"),
      ("<e>", "<d>"), ("<f>", "<e>"), ("<g>", "<f>"))
    val edgeSeq = hub ++ chain ++ Seq(("<p>", "<q>"), ("<solo>", "<solo>"))
    val got = Graph.ccStar(edgeSeq.toDF("src", "dst"),
        checkpointDir = Some(dir.toString), localFinishEdges = 0)
      .as[(String, String)].collect().toMap
    assert(got == unionFindLabels(edgeSeq))
    // reliable mode must have written real checkpoint data (rdd-* dirs
    // under the UUID subdir setCheckpointDir creates) — and kept ONLY the
    // two generations the lazy result still reads (the input snapshot and
    // the final round); every superseded round's dir must be gone
    def rddDirs(f: java.io.File): Array[java.io.File] =
      Option(f.listFiles).getOrElse(Array.empty)
        .flatMap(c => if (c.getName.startsWith("rdd-")) Array(c) else rddDirs(c))
    assert(rddDirs(dir).length == 2,
      s"expected exactly input-snapshot + final-round checkpoints under " +
        s"$dir, found: ${rddDirs(dir).map(_.getName).mkString(",")}")
  }

  test("ccStar local finish under a reliable checkpoint dir: same labels, " +
    "and the collected round's files are deleted too") {
    val dir = new java.io.File(tmp("graft_ccstar_lf_ckpt"))
    val chain = Seq(("<b>", "<a>"), ("<c>", "<b>"), ("<d>", "<c>"),
      ("<e>", "<d>"))
    val edgeSeq = chain ++ Seq(("<p>", "<q>"), ("<solo>", "<solo>"))
    val got = Graph.ccStar(edgeSeq.toDF("src", "dst"),
        checkpointDir = Some(dir.toString))
      .as[(String, String)].collect().toMap
    assert(got == unionFindLabels(edgeSeq))
    // under the default threshold the first probe hands the whole set to
    // the driver: the canonical round's checkpoint is dead the moment the
    // local star set exists, so ONLY the input snapshot's files survive
    def rddDirs(f: java.io.File): Array[java.io.File] =
      Option(f.listFiles).getOrElse(Array.empty)
        .flatMap(c => if (c.getName.startsWith("rdd-")) Array(c) else rddDirs(c))
    assert(rddDirs(dir).length == 1,
      s"expected only the input snapshot's checkpoint under $dir, found: " +
        rddDirs(dir).map(_.getName).mkString(","))
  }

  test("ccStar local finish replaces the round tail with probe + collect: " +
    "a multi-round chain builds AND labels in a fixed small job budget") {
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // a chain this long needs multiple distributed contraction rounds —
      // each a blocking probe job plus 3 exchanges. The local finish must
      // spend exactly ONE probe and ONE collect instead, regardless of the
      // chain's diameter.
      val chain = (1 until 40).map(i => (f"<c_$i%02d>", f"<c_${i + 1}%02d>"))
      val (labels, work) = Work.of(spark) {
        Graph.ccStar(chain.toDF("src", "dst"))
          .as[(String, String)].collect().toMap
      }
      assert(labels.values.toSet == Set("<c_01>"))
      // probe (head: 1–2 incremental jobs) + local-finish collect + the
      // final label collect — far under the ~5 jobs even TWO distributed
      // rounds would add on top
      assert(work.jobs <= 4,
        s"local finish did not bound the job count: ${work.jobs} " +
          "jobs for an under-threshold chain (expected probe + collect + " +
          "label collect)")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("ccStar build pays no eager materialization jobs: an already-star " +
    "input costs only the fused probe action") {
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val stars = Seq(("<b>", "<a>"), ("<c>", "<a>")).toDF("src", "dst")
      // build only — the result DataFrame stays lazy
      val (_, work) = Work.of(spark)(Graph.ccStar(stars))
      // The build's only action is the fused isStarSet probe; its isEmpty
      // may take 1–2 incremental executeTake jobs. The retired
      // eager-checkpoint shape paid 2 extra materialization jobs (edges0,
      // e) BEFORE the probe — 4+ total.
      assert(work.jobs <= 2,
        s"eager materialization jobs leaked back in: ${work.jobs} " +
          "jobs for an already-star build (expected the fused probe)")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("ccStar on the store: every order reaches its region's component") {
    val e = Graph.edges(spark, "/root/testdata/sf0.001")
    val cc = Graph.ccStar(e)
    // order -> cust -> nation -> region chains: component count equals the
    // number of distinct regions (every region label is a component root),
    // and every label is a region-or-smaller minimum, i.e. starts with '<'.
    val nComponents = cc.select("label").distinct().count()
    val nRegions = spark.read
      .parquet("/root/testdata/sf0.001/region.parquet").count()
    assert(nComponents == nRegions)
    // all orders got a label strictly smaller than their own id
    val orders = cc.filter(col("node").startsWith("<order_"))
    assert(orders.filter(col("label") >= col("node")).count() == 0)
  }
}
