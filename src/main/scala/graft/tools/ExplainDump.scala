package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.{LocalSession, SparkEntry}

/** Dump `.explain("formatted")` text for gate entries — the optimization
  * rounds' evidence artifact (`plans/r<N>/<query>_before.txt` /
  * `..._after.txt`): a plan claim in OPTIMIZATION notes ("2 Exchange → 1",
  * "SortMergeJoin → BroadcastHashJoin") is checkable against these files
  * without running Spark.
  *
  * Usage: `sbt "runMain graft.tools.ExplainDump <sfDir> <outDir> <suffix>
  * [<name> ...]"` — no names = every gate entry. Writes
  * `<outDir>/<name>_<suffix>.txt`. The text is the COMPILE-TIME formatted
  * plan (AQE shows `isFinalPlan=false`), which is the deterministic shape
  * the fingerprint artifact also derives from.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: ExplainDump <sfDir> <outDir> <suffix> [<name> ...]")
    val Array(sfDir, outDir, suffix) = args.take(3)
    val names =
      if (args.length > 3) args.drop(3).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = LocalSession.create()
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown gate entry '$name'"))
      val df = fn(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
        txt.getBytes(StandardCharsets.UTF_8))
      println(s"[explain] $name -> $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
