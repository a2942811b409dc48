package graft.bench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.functions._

import graft.{TripleStore, Triple}
import graft.operators.Lww

/** The triple store the `serve` and `ingest` workloads run against: the
  * engine's sf0.01-shaped base tables (15,000 orders, 1,500 customers, 25
  * nations: 48,025 triples) replicated `Replicas` times with suffixed
  * subjects (144,075 triples), as `graft.ScaleBench` replicates sf0.1 21
  * times to the paper's 10.2M. */
final class StoreData(seed: Long) {
  val Replicas = 3
  val customers: IndexedSeq[Gen.Customer] = Gen.customers(seed, 1500)
  val orders: IndexedSeq[Gen.Order] = Gen.orders(seed, 15000, customers.size)
  private val base = Gen.expectedTriples(customers, orders)
  private val baseSubjects = base.keys.toIndexedSeq.sorted

  def liveTriples: Long = base.values.map(_.size.toLong).sum * Replicas
  def subjectCount: Int = baseSubjects.size * Replicas
  /** Subject `i` of the replicated store, 0 <= i < subjectCount. */
  def subject(i: Int): String =
    s"${baseSubjects(i % baseSubjects.size)}_r${i / baseSubjects.size}"
  /** The store's triples for one replicated subject. */
  def expected(subject: String): Seq[Triple] = {
    val cut = subject.lastIndexOf("_r")
    base(subject.substring(0, cut)).map(_.copy(subject = subject))
  }
  /** Every replicated order subject in code-point order (ASCII, so String
    * order), the key order of the range-sharded layouts. */
  lazy val sortedOrderSubjects: IndexedSeq[String] =
    (0 until Replicas).flatMap(r => orders.map(o => s"<order_${o.o_orderkey}>_r$r"))
      .sorted

  /** Writes the base tables under `dir` and returns the replicated triples. */
  def triples(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    Gen.writeStoreTables(spark, dir, customers, orders)
    TripleStore.triples(spark, dir)
      .crossJoin(spark.range(Replicas).select(col("id").as("rep")))
      .select(concat(col("subject"), lit("_r"), col("rep")).as("subject"),
        col("predicate"), col("object"), col("ts_ms"))
  }
}

/** Zipf(s = 1) over `n` keys, rank 1 most likely, drawn by inverse CDF. */
final class Zipf(n: Int, rng: java.util.SplittableRandom) {
  private val cdf = {
    val w = Array.tabulate(n)(i => 1.0 / (i + 1))
    var acc = 0.0
    val c = w.map { x => acc += x; acc }
    c.map(_ / acc)
  }
  /** Zero-based rank. */
  def next(): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** `serve`: the paper's three headline operations against a range-sharded
  * store — point search, single upsert (`Lww.upsertPoint`), and the merge
  * of a node's 1,000 pending updates (`Lww.merge` over the changelog's key
  * range) — in a seeded closed loop from one client. */
object Serve {
  /** One cycle of the closed loop: 10 searches, 1 upsert, 1 merge, in a
    * seeded order. No source gives the operations' traffic mix; the ratio is
    * set by the samples each percentile needs in one run (a p90 needs 100
    * searches, a p50 ten upserts or merges), not by observed traffic. The
    * run prints each operation's share of loop time beside `ops_per_s`
    * (`loop_share`). */
  private val Cycle = Seq.fill(10)("search") ++ Seq("upsert", "merge")
  private val Ops = Seq("search", "upsert", "merge")
  /** The fewest cycles for which the search p90 has 10 samples beyond it. */
  private val MinCycles = 10
  private val Pending = 1000

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val data = new StoreData(ctx.seed)
    val (path, setupS) = ctx.setupMedian(3) { i =>
      val dir = s"${ctx.work}/serve$i"
      TripleStore.writeSharded(data.triples(spark, s"$dir/base"), s"$dir/store",
        numShards = 3)
      Main.warmPageCache(new File(s"$dir/store"))
      s"$dir/store"
    }
    val store = spark.read.parquet(path)
    // key popularity: Zipf over a seeded permutation of the subjects
    val perm = ctx.shuffled(0 until data.subjectCount)
    val zipf = new Zipf(data.subjectCount, ctx.rng)
    val seen = scala.collection.mutable.HashSet[String]()
    var draws, repeats = 0
    def nextSubject(): String = {
      val s = data.subject(perm(zipf.next()))
      draws += 1
      if (!seen.add(s)) repeats += 1
      s
    }

    var upserts = 0
    def once(kind: String): Unit = kind match {
      case "search" =>
        val s = nextSubject()
        ctx.rec.run("search") {
          ctx.tracer.op("search")(store.filter(col("subject") === s).collect())
        } { case (rows, _) =>
          val got = rows.map(r => Triple(r.getString(0), r.getString(1),
            r.getString(2), r.getLong(3))).toSet
          val want = data.expected(s).toSet
          if (got == want && rows.length == want.size) None
          else Some(s"search $s returned ${rows.length} rows, expected ${want.size}")
        }
      case "upsert" =>
        val s = nextSubject()
        val old = data.expected(s).head
        upserts += 1
        val obj = s"UPDATED-$upserts"
        ctx.rec.run("upsert") {
          ctx.tracer.op("upsert")(Lww.upsertPoint(store, s, old.predicate, obj,
            4102444800000L).collect())
        } { case (rows, _) =>
          def kind(k: String) = rows.filter(_.getAs[String]("row_kind") == k)
            .map(_.getAs[String]("object")).toSeq
          if (kind("old_row") == Seq(old.`object`) && kind("new_row") == Seq(obj))
            None
          else Some(s"upsert $s returned ${rows.mkString(" ")}")
        }
      case "merge" =>
        val (changelog, remoteWins) = pending(ctx, data)
        ctx.rec.run("merge") {
          ctx.tracer.op("merge")(merge(store, changelog))
        } { case ((n, remote), _) =>
          if (n == Pending && remote == remoteWins) None
          else Some(s"merge returned $n rows ($remote remote wins), " +
            s"expected $Pending ($remoteWins)")
        }
    }

    // warm-up: two of each operation, checked, their latencies dropped
    for (_ <- 1 to 2; k <- Ops) once(k)
    ctx.rec.latencies.clear()
    // one cycle per second asked for: a count fixed by the arguments, so a
    // slow host does not change what a run measures
    val cycles = math.max(MinCycles, math.round(ctx.seconds).toInt)
    val opMs = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
    val cycleS = scala.collection.mutable.ArrayBuffer[Double]()
    ctx.measure {
      for (_ <- 1 to cycles) {
        val c0 = System.nanoTime()
        for (k <- ctx.shuffled(Cycle)) {
          val t0 = System.nanoTime()
          once(k)
          opMs(k) += (System.nanoTime() - t0) / 1e6
        }
        cycleS += (System.nanoTime() - c0) / 1e9
      }
    }
    val wallS = cycleS.sum

    def p(k: String, pct: Double, beyond: Int) =
      Stats.percentile(ctx.rec.samples(k), pct, beyond).getOrElse(Double.NaN)
    val e2e = Map(
      "ops_per_s" -> Stats.median(cycleS.toSeq.map(Cycle.size / _)),
      "op_p50_ms" -> Stats.percentile(Ops.flatMap(ctx.rec.samples), 50, 2)
        .getOrElse(Double.NaN),
      "disk_mb" -> Main.diskBytes(new File(path)) / 1048576.0,
      "setup_s" -> setupS)
    Outcome(e2e, Map(
      "store_triples" -> data.liveTriples.toString,
      "ops" -> (cycles * Cycle.size).toString,
      "cycle_ms" -> cycleS.map(c => f"${c * 1e3}%.0f").mkString(" "),
      "samples" -> Ops.map(k => s"$k=${ctx.rec.samples(k).size}").mkString(" "),
      "op_latency" -> (Seq("search_p50_ms" -> p("search", 50, 2),
        "search_p90_ms" -> p("search", 90, 10), "upsert_p50_ms" -> p("upsert", 50, 2),
        "merge_p50_ms" -> p("merge", 50, 2)).map { case (k, v) => f"$k=$v%.1f" } :+
        f"serve_ops_per_s=${cycles * Cycle.size / wallS}%.3f").mkString(" "),
      "loop_share" -> Ops.map(k => f"$k=${opMs(k) / 1e3 / wallS}%.3f").mkString(" "),
      "repeated_key_share" -> f"${repeats.toDouble / math.max(1, draws)}%.4f",
      "paper_baseline_s" -> "search 0.9002, upsert 2.4244, merge 2.2729 (10.2M YAGO triples)"))
  }

  /** A node's pending set: `Pending` consecutive order subjects (in key
    * order) from a seeded start, each with a remote `<hasStatus>` that is
    * one day newer for even positions (remote wins) and equally old for odd
    * ones (the local row keeps a tie). Returns the changelog and how many
    * remote rows must win. */
  private def pending(ctx: Ctx, data: StoreData): (Seq[Triple], Long) = {
    val keys = data.sortedOrderSubjects
    val start = ctx.rng.nextInt(keys.size - Pending)
    val rows = keys.slice(start, start + Pending).zipWithIndex.map { case (s, i) =>
      val ts = data.expected(s).head.ts_ms
      Triple(s, "<hasStatus>", "REMOTE", if (i % 2 == 0) ts + 86400000L else ts)
    }
    (rows, rows.indices.count(_ % 2 == 0).toLong)
  }

  /** The bounded merge: prune the store to the changelog's key range,
    * semi-join the changelog's keys, LWW-merge. Materialized through the
    * noop sink; returns (rows, rows whose winner is the remote value). */
  private def merge(store: DataFrame, changelog: Seq[Triple]): (Long, Long) = {
    val spark = store.sparkSession
    val cl = spark.createDataFrame(changelog.map(t =>
      Row(t.subject, t.predicate, t.`object`, t.ts_ms)).asJava, store.schema)
    val affected = store
      .filter(col("subject").between(changelog.head.subject, changelog.last.subject))
      .join(broadcast(cl.select("subject", "predicate")),
        Seq("subject", "predicate"), "left_semi")
    val obs = Observation()
    Lww.merge(affected, cl)
      .observe(obs, count(lit(1)).as("rows"),
        sum(when(col("object") === "REMOTE", 1L).otherwise(0L)).as("remote"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    (m("rows").asInstanceOf[Long], m("remote").asInstanceOf[Long])
  }
}
