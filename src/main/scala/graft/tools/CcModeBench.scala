package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.obs.Work
import graft.operators.Graph

/** One-off measurement: [[Graph.ccStar]]'s two round-materialization modes
  * at store scale — `localCheckpoint` (executor memory/disk; fastest, but
  * blocks die with executors) vs a reliable checkpoint dir (survives
  * executor loss; the 100 TB-cluster trade). GraphSpec proves the modes
  * label-equivalent at fixture scale; this quantifies the reliable-mode
  * overhead on millions of edges so BENCH_NOTES carries a measured number
  * instead of a guess. Also reports per-mode Spark job counts: ccStar's
  * latency floor at fixed data size is its driver-blocking job count.
  *
  * Usage: `SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.CcModeBench
  * [sfDir] [replicate]"` — edges are the sf dir's entity graph, optionally
  * replicated k× with disjoint id suffixes (components stay disjoint per
  * copy, so labels scale trivially and the work is k× honest edges).
  */
object CcModeBench {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val replicate = if (args.length > 1) args(1).toInt else 4
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.LocalSession.create(cpus)

    // k disjoint copies of the entity graph, ids suffixed per copy —
    // materialized once so both modes contract the identical input
    val base = Graph.edges(spark, sfDir)
    val edges = (0 until replicate).map { i =>
      base.select(concat(col("src"), lit(s"#$i")).as("src"),
        concat(col("dst"), lit(s"#$i")).as("dst"))
    }.reduce(_ union _).localCheckpoint(true)
    val nEdges = edges.count()

    // (seconds, nodes, work)
    def run(dir: Option[String]): (Double, Long, Work) = {
      val ((dt, n), work) = Work.of(spark) {
        val t0 = System.nanoTime()
        val labels = Graph.ccStar(edges, checkpointDir = dir)
        val n = labels.count()
        ((System.nanoTime() - t0) / 1e9, n)
      }
      (dt, n, work)
    }
    // warmup contraction (JIT/codegen), then per-mode MEDIAN of 3 timed
    // runs (same convention as Bench): this host shows multi-second stalls
    // (BENCH_NOTES r11), so a one-shot local-vs-reliable overhead number
    // would be noise-prone (ADVICE r11)
    run(None)
    def med3(f: () => (Double, Long, Work)): (Double, Long, Work) = {
      val rs = (1 to 3).map(_ => f())
      val byTime = rs.sortBy(_._1).apply(1)
      require(rs.map(_._2).distinct.size == 1,
        s"node-count disagreement across runs: ${rs.map(_._2)}")
      byTime
    }
    val (tLocal, nLocal, wLocal) = med3(() => run(None))
    // the labels are consumed (count) inside the scope, so the caller may
    // delete the checkpoint dir afterwards, per ccStar's scaladoc
    val (tRel, nRel, wRel) = graft.Scratch.scoped(spark) { ckDir =>
      med3(() => run(Some(ckDir)))
    }
    require(nLocal == nRel,
      s"mode disagreement: local $nLocal nodes vs reliable $nRel")

    // one more local run, profiled per job: ccStar runs ONE driver-blocking
    // job per round, so its ordered per-job rows are the per-ROUND
    // shuffle-byte/task profile (the first jobs are the input/canon
    // materializations, the last the label join; everything between is one
    // star round per job). The question it answers (VERDICT r21 #4) is
    // whether later rounds' exchanges shrink (bytes) and coalesce (task
    // counts) as the contracted edge set collapses, or whether a fixed
    // partition count keeps paying full-width rounds on near-empty data.
    val perRound = run(None)._3.perJob.map { j =>
      val mb = j.shuffleBytes / 1e6
      s"""{"job":${j.id},"tasks":${j.tasks},"shuffle_mb":${
        String.format(java.util.Locale.ROOT, "%.2f", Double.box(mb))}}"""
    }.mkString("[", ",", "]")
    println(s"""{"metric":"cc_round_profile","edges":$nEdges,""" +
      s""""per_job":$perRound}""")

    def sec(v: Double) = // Locale.ROOT: comma-decimal locales break JSON
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    println(s"""{"metric":"cc_mode_bench","unit":"sec","edges":$nEdges,""" +
      s""""nodes":$nLocal,"local_sec":${sec(tLocal)},""" +
      s""""local_jobs":${wLocal.jobs},"reliable_sec":${sec(tRel)},""" +
      s""""reliable_jobs":${wRel.jobs},"sf":"$sfDir","replicate":$replicate}""")
    spark.stop()
  }
}
