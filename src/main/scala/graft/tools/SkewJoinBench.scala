package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Scratch, TripleStore}
import graft.operators.Skew

/** One-off measurement: the hot-key JOIN shapes behind q72 on data that is
  * ACTUALLY skewed. The gate corpus balances its 6 predicates, so
  * q72_salted_join proves semantics and plan shape but cannot show the
  * straggler the salt exists to kill; this tool re-tags 90 % of a
  * replicated corpus onto one hot predicate and times three shapes:
  *
  *   - `plain`  — shuffle join, AQE off: the pathological baseline (the
  *     hot key's entire row set lands on ONE reducer);
  *   - `salted` — [[Skew.saltedJoin]], AQE off: the manual fix (hot key
  *     fanned over `saltFactor` reducers);
  *   - `aqe`    — plain join with AQE skew-join on: the runtime fix the
  *     engine prefers when it applies.
  *
  * Broadcast is disabled throughout (the tiny dim side would otherwise
  * broadcast and make every shape identical); AQE's skew thresholds are
  * scaled down in proportion to bench data size — at 100 TB the DEFAULT
  * thresholds (256 MB partition) trigger on the same shape, so the scaled
  * run exercises the same code path the cluster would. All three shapes
  * must agree on the joined row count (semantics preserved) — the run
  * aborts otherwise. Per-shape MEDIAN of 3 timed runs after a warmup
  * (Bench convention; this host shows multi-second stalls, BENCH_NOTES).
  *
  * Usage: `sbt "runMain graft.tools.SkewJoinBench
  * [sfDir] [replicate]"` — records land in BENCH_NOTES.
  */
object SkewJoinBench {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val replicate = if (args.length > 1) args(1).toInt else 8
    val spark = graft.LocalSession.create()

    // skewed corpus: k disjoint copies (subjects suffixed per copy), then
    // 90 % of rows re-tagged onto one hot predicate — materialized once so
    // every shape joins the identical input. DISK-resident above the r12
    // replicate (the 10× run holds ~40M string triples — an in-heap
    // localCheckpoint of that is exactly the class the r15 PageRank
    // rehearsal OOM'd on; parquet also matches what a cluster run scans)
    val base = TripleStore.triples(spark, sfDir)
    val built = (0 until replicate).map { i =>
      base.withColumn("subject", concat(col("subject"), lit(s"#$i")))
    }.reduce(_ union _)
      .withColumn("predicate",
        when(rand(7) < 0.9, lit("<hotPredicate>")).otherwise(col("predicate")))
    val skewed =
      if (replicate <= 8) Scratch.pin(built)
      else {
        val p = Scratch.path(spark, "graft_skewbench_corpus")
        built.write.mode("overwrite").parquet(p)
        spark.read.parquet(p)
      }
    val nRows = skewed.count()
    val dim = skewed.select(col("predicate")).distinct()
      .withColumn("pred_len", length(col("predicate")).cast("long"))
      .transform(Scratch.pin(_))

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // scale AQE's skew trigger to bench data size (defaults are sized for
    // cluster partitions: 256 MB threshold would never fire on ~100 MB of
    // total input; the 100 TB deployment hits the same code path untuned)
    spark.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8m")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")

    def joined(mode: String): DataFrame = mode match {
      case "salted" => Skew.saltedJoin(skewed, dim, "predicate", 8)
      case _ => skewed.join(dim, Seq("predicate"))
    }
    // timed action = noop-sink the FULL joined row set (Bench convention).
    // NOT count(): Catalyst prunes a count's join down to the key column,
    // whose near-identical values compress so hard that the hot partition's
    // shuffle bytes drop under any sane AQE skew threshold — the skew this
    // tool exists to measure would be optimized away into a different
    // (narrower) query than the q72 shape actually ships.
    def run(mode: String): Long = {
      spark.conf.set("spark.sql.adaptive.enabled",
        (mode == "aqe").toString)
      Harness.sink(joined(mode))
    }
    // per mode: a warmup run (JIT/codegen; input is already checkpointed)
    // whose row count is the semantics-parity check, then the timed median
    val modes = Seq("plain", "salted", "aqe")
      .map(m => m -> (run(m), Harness.median3(run(m))._3)).toMap
    val counts = modes.map { case (m, (n, _)) => m -> n }
    require(counts.values.toSet.size == 1,
      s"mode disagreement on joined row count: " +
        counts.map { case (m, n) => s"$m=$n" }.mkString(", "))

    Harness.emit("metric" -> "skew_join_bench", "unit" -> "sec",
      "rows" -> nRows, "joined" -> counts("plain"),
      "plain_sec" -> modes("plain")._2, "salted_sec" -> modes("salted")._2,
      "aqe_sec" -> modes("aqe")._2, "sf" -> sfDir, "replicate" -> replicate,
      "hot_share" -> 0.9)
    spark.stop()
  }
}
