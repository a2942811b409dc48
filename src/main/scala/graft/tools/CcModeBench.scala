package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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

    val jobs = new AtomicLong(0)
    val stagesDone = new AtomicLong(0)
    // Per-JOB shuffle/task tallies (r22, VERDICT r21 #4): ccStar runs ONE
    // driver-blocking job per round, so job-granular metrics ARE
    // round-granular — the audit's question is whether the later rounds'
    // exchanges shrink (bytes) and coalesce (task counts) as the
    // contracted edge set collapses geometrically, or whether a fixed
    // partition count keeps paying full-width rounds on near-empty data.
    val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val jobShuf = new java.util.concurrent.ConcurrentHashMap[Long, AtomicLong]()
    val jobTasks = new java.util.concurrent.ConcurrentHashMap[Long, AtomicLong]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        js.stageInfos.foreach(si => stageJob.put(si.stageId, js.jobId.toLong))
        ()
      }
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        // a stage whose job start predates the last stageJob.clear()
        // belongs to an earlier run: not part of the profiled run
        val j = stageJob.getOrDefault(sc.stageInfo.stageId, -1L)
        if (j >= 0) {
          jobShuf.computeIfAbsent(j, _ => new AtomicLong).addAndGet(
            sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
          jobTasks.computeIfAbsent(j, _ => new AtomicLong)
            .addAndGet(sc.stageInfo.numTasks.toLong)
        }
        stagesDone.incrementAndGet()
        ()
      }
    })
    // the listener bus is asynchronous: wait until neither the started-job
    // count nor the completed-stage count moves, so the last job's stage
    // metrics have landed before anything reads them
    def settled(): Long = {
      var prev = (-1L, -1L); var cur = (jobs.get(), stagesDone.get())
      val deadline = System.currentTimeMillis() + 5000
      while (cur != prev && System.currentTimeMillis() < deadline) {
        prev = cur; Thread.sleep(50); cur = (jobs.get(), stagesDone.get())
      }
      cur._1
    }

    // k disjoint copies of the entity graph, ids suffixed per copy —
    // materialized once so both modes contract the identical input
    val base = Graph.edges(spark, sfDir)
    val edges = (0 until replicate).map { i =>
      base.select(concat(col("src"), lit(s"#$i")).as("src"),
        concat(col("dst"), lit(s"#$i")).as("dst"))
    }.reduce(_ union _).localCheckpoint(true)
    val nEdges = edges.count()

    def run(dir: Option[String]): (Double, Long, Long) = {
      val j0 = settled()
      val t0 = System.nanoTime()
      val labels = Graph.ccStar(edges, checkpointDir = dir)
      val n = labels.count()
      val dt = (System.nanoTime() - t0) / 1e9
      (dt, settled() - j0, n)
    }
    // warmup contraction (JIT/codegen), then per-mode MEDIAN of 3 timed
    // runs (same convention as Bench): this host shows multi-second stalls
    // (BENCH_NOTES r11), so a one-shot local-vs-reliable overhead number
    // would be noise-prone (ADVICE r11)
    run(None)
    def med3(f: () => (Double, Long, Long)): (Double, Long, Long) = {
      val rs = (1 to 3).map(_ => f())
      val byTime = rs.sortBy(_._1).apply(1)
      require(rs.map(_._3).distinct.size == 1,
        s"node-count disagreement across runs: ${rs.map(_._3)}")
      byTime
    }
    val (tLocal, jLocal, nLocal) = med3(() => run(None))
    val ckDir = java.nio.file.Files
      .createTempDirectory("graft_cc_reliable")
    val (tRel, jRel, nRel) = med3(() => run(Some(ckDir.toString)))
    require(nLocal == nRel,
      s"mode disagreement: local $nLocal nodes vs reliable $nRel")
    // the labels were consumed (count) — this caller owns the checkpoint
    // dir's lifecycle now, per ccStar's scaladoc
    org.apache.commons.io.FileUtils.deleteDirectory(ckDir.toFile)

    // one more instrumented local run with the per-job maps reset: its
    // ordered per-job rows are the per-ROUND shuffle-byte/task profile
    // (the first jobs are the input/canon materializations, the last the
    // label join; everything between is one star round per job)
    settled()
    stageJob.clear(); jobShuf.clear(); jobTasks.clear()
    run(None)
    settled()
    val perRound = jobShuf.keySet().toArray(Array.empty[java.lang.Long])
      .map(_.toLong).sorted.map { j =>
        val mb = jobShuf.get(j).get() / 1e6
        s"""{"job":$j,"tasks":${jobTasks.get(j).get()},"shuffle_mb":${
          String.format(java.util.Locale.ROOT, "%.2f", Double.box(mb))}}"""
      }.mkString("[", ",", "]")
    println(s"""{"metric":"cc_round_profile","edges":$nEdges,""" +
      s""""per_job":$perRound}""")

    def sec(v: Double) = // Locale.ROOT: comma-decimal locales break JSON
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    println(s"""{"metric":"cc_mode_bench","unit":"sec","edges":$nEdges,""" +
      s""""nodes":$nLocal,"local_sec":${sec(tLocal)},""" +
      s""""local_jobs":$jLocal,"reliable_sec":${sec(tRel)},""" +
      s""""reliable_jobs":$jRel,"sf":"$sfDir","replicate":$replicate}""")
    spark.stop()
  }
}
