package graft.tools

import graft.obs.Work

/** Throwaway-style diagnostic for the gate replays' wall time (r19,
  * VERDICT #5): prints each micro-batch's durationMs breakdown, plus
  * coarse phase timestamps, for one gate entry on one sf dir. Not part
  * of any gate or close path.
  *
  * The replays run on `newSession()` clones; their progress events reach
  * [[Work.of]] through the shared listener bus, so the batches are read
  * from the Work of the replay.
  *
  * Usage: SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.ReplayProbe q74 /root/testdata/sf0.01"
  */
object ReplayProbe {

  private val t0 = System.nanoTime()
  private def t(): String = f"${(System.nanoTime() - t0) / 1e9}%.2f"

  def main(args: Array[String]): Unit = {
    val which = if (args.nonEmpty) args(0) else "q74"
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = graft.LocalSession.create(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    println(s"[probe ${t()}] session up")
    val (df, work) = Work.of(spark)(which match {
      case "q74" => graft.streaming.StreamingGate.q74StreamSessions(spark, dir)
      case "q80" => graft.streaming.StreamingGate.q80StreamTtl(spark, dir)
      case other => sys.error(s"unknown entry $other")
    })
    work.progress.foreach { p =>
      println(s"[probe] batch ${p.batchId} rows=${p.numInputRows} " +
        s"dur=${p.durationMs}")
    }
    println(s"[probe ${t()}] replay done, reading result")
    val n = df.count()
    println(s"[probe ${t()}] $n rows")
    spark.stop()
  }
}
