package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Optional extra
  * args name a subset of entries to dump (the builder's targeted
  * iteration loop: `runMain graft.Verify <sfDir> <outDir> q80_stream_ttl`
  * then `check.py <outDir> <sfDir> q80_stream_ttl`); the driver passes
  * none and gets the full gate. oracle_sql.json is always complete. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet
    // validate the filter BEFORE paying the session startup: a typo'd
    // entry name should fail in milliseconds, not after a JVM spin-up
    only.diff(SparkEntry.queries.keySet).foreach { n =>
      sys.error(s"unknown gate entry '$n'") }
    val spark = LocalSession.create()
    new java.io.File(outDir).mkdirs()
    // Itemized session warmup for FULL-gate replays (r22, VERDICT r21 #6 /
    // r20 #5): without it the first entry in iteration order (q49 since
    // r19) absorbed the session's one-off costs — JVM/codegen/parquet
    // startup plus the sharded-store ETL — and the close's trim-audit
    // table ranked that entry by roster POSITION, not by its marginal
    // cost (q49's own plan is a map-only scan + sort; Bench times it at
    // ~0.2 s mid-list, the replay table showed ~5 s/corpus). Bench has
    // warmed up explicitly since r11 (same two steps); this line makes
    // the replay table's per-entry seconds positional-independent and the
    // warmup itself a visible, itemized row. Targeted (subset) runs skip
    // it: the builder's iteration loop wants the fastest possible
    // turnaround, and its timings feed no ranking.
    if (only.isEmpty) {
      val tw = System.nanoTime()
      spark.read.parquet(s"$sfDir/region.parquet").count()
      TripleStore.shardedPath(spark, sfDir)
      System.err.println(String.format(java.util.Locale.ROOT,
        "[verify] warmup (session startup + sharded-store ETL) in %.1fs",
        Double.box((System.nanoTime() - tw) / 1e9)))
    }
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // per-entry seconds on stderr: the round close's replay logs then
      // carry the number the gate-size trim audit ranks candidates by
      // (VERDICT r15 #5) — no more ranking by intuition
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(String.format(java.util.Locale.ROOT,
          "[verify] %s ok in %.1fs", name,
          Double.box((System.nanoTime() - t0) / 1e9)))
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // a full JSON string escape: a tab or CR in the SQL must not make the
    // oracle's json.load fail
    import graft.tools.Harness.{quote => q}
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
