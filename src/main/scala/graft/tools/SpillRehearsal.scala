package graft.tools

import graft.{LocalSession, SparkEntry}
import graft.obs.Work

/** Memory-pressure rehearsal for the gate's heaviest entries (VERDICT r12
  * #3): at 100 TB, per-partition memory pressure is the NORM, and the
  * scaladoc claim that the chosen plans (SortAggregate / SMJ / external
  * sort) degrade to spill instead of OOM had never been executed. This
  * main runs the named entries under whatever heap the caller constrains
  * the JVM to (`SPARK_DRIVER_MEM=2g` — build.sbt threads it into `-Xmx`)
  * and reports, per query: wall seconds, bytes spilled to memory/disk
  * (summed over task metrics), peak single-task execution memory, and
  * completion status. A query that completes WITH spill under a starved
  * heap is the success case — the plan held; only an OOM/abort is a fail.
  *
  * Usage:
  *   SPARK_DRIVER_MEM=2g \
  *     sbt "runMain graft.tools.SpillRehearsal /root/testdata/sf0.1 \
  *          q19_minhash_neardup q33_connected_components ..."
  * Prints one JSON line per query plus a trailing summary line.
  */
object SpillRehearsal {

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("q3_lww_merge", "q19_minhash_neardup",
        "q33_connected_components", "q60_neardup_clusters")
    val spark = LocalSession.create()

    Harness.emit("spill_rehearsal" -> "start", "sf" -> sfDir,
      "heap_bytes" -> Runtime.getRuntime.maxMemory())
    var failures = 0
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown gate entry '$name'"))
      val ((err, secs), work) = Work.of(spark)(Harness.timed(
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          None
        }
        catch { case e: Throwable => Some(e.getClass.getSimpleName) }))
      if (err.nonEmpty) failures += 1
      Harness.emit("query" -> name, "secs" -> secs,
        "spill_mem_bytes" -> work.memorySpillBytes,
        "spill_disk_bytes" -> work.diskSpillBytes,
        "peak_task_exec_bytes" -> work.peakExecutionMemory,
        "status" -> err.getOrElse("completed"))
    }
    Harness.emit("spill_rehearsal" -> "done", "n_fail" -> failures)
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
