package graft.tools

import graft.Scratch
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
  * Usage: `sbt "runMain graft.tools.CcModeBench [sfDir] [replicate]"` —
  * edges are the sf dir's entity graph, optionally replicated k× with
  * disjoint id suffixes (components stay disjoint per copy, so labels scale
  * trivially and the work is k× honest edges).
  */
object CcModeBench {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val replicate = if (args.length > 1) args(1).toInt else 4
    val spark = graft.LocalSession.create()

    // materialized once so both modes contract the identical input
    val edges = Harness.replicateEdges(Graph.edges(spark, sfDir), replicate)
      .transform(Scratch.pin(_))
    val nEdges = edges.count()

    // (nodes, work) of one contraction
    def run(dir: Option[String]): (Long, Work) =
      Work.of(spark)(Graph.ccStar(edges, checkpointDir = dir).count())
    // warmup contraction (JIT/codegen), then per-mode MEDIAN of 3 timed
    // runs (same convention as Bench): this host shows multi-second stalls
    // (BENCH_NOTES r11), so a one-shot local-vs-reliable overhead number
    // would be noise-prone (ADVICE r11)
    run(None)
    def measure(dir: Option[String]): (Double, Long, Work) = {
      val nodes = scala.collection.mutable.ArrayBuffer.empty[Long]
      val ((n, work), _, secs) = Harness.median3 {
        val r = run(dir); nodes += r._1; r
      }
      require(nodes.distinct.size == 1,
        s"node-count disagreement across runs: $nodes")
      (secs, n, work)
    }
    val (tLocal, nLocal, wLocal) = measure(None)
    // the labels are consumed (count) inside the scope, so the caller may
    // delete the checkpoint dir afterwards, per ccStar's scaladoc
    val (tRel, nRel, wRel) = graft.Scratch.scoped(spark) { ckDir =>
      measure(Some(ckDir))
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
    Harness.emit("metric" -> "cc_round_profile", "edges" -> nEdges,
      "per_job" -> run(None)._2.perJob.map(j => Harness.obj("job" -> j.id,
        "tasks" -> j.tasks, "shuffle_mb" -> j.shuffleBytes / 1e6)))
    Harness.emit("metric" -> "cc_mode_bench", "unit" -> "sec",
      "edges" -> nEdges, "nodes" -> nLocal, "local_sec" -> tLocal,
      "local_jobs" -> wLocal.jobs, "reliable_sec" -> tRel,
      "reliable_jobs" -> wRel.jobs, "sf" -> sfDir, "replicate" -> replicate)
    spark.stop()
  }
}
