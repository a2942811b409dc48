package graft.bench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import graft.SparkEntry

/** `analytics`: the engine's batch and training-data entries
  * (`SparkEntry.queries`) over a seeded sf0.001-shaped corpus, grouped by
  * operator family; every output row is computed and checked. */
object Analytics {

  /** Every `SparkEntry.queries` key, by the module that defines the
    * operator it runs:
    *  - `store_lww`: TripleStore, Lww, LwwObject, ZOrderKey and the inline
    *    SparkEntry lambdas over them;
    *  - `relational`: Relational, Temporal, Skew;
    *  - `docs`: Docs, BloomIndex;
    *  - `vectors`: Vectors; `graph`: Graph; `media`: Multimodal;
    *  - `streaming`: the StreamingGate replays.
    * SelfTest checks that this covers every key exactly once. */
  val Families: Map[String, Seq[String]] = Map(
    "store_lww" -> Seq("q1_sharded_scan", "q2_lww_upsert", "q3_lww_merge",
      "q12_lww_udaf", "q13_shard_filter", "q14_changelog_union",
      "q15_describe_shards", "q28_reshard_scan", "q31_bucketed_merge",
      "q32_sql_merge", "q34_range_bucket", "q57_zorder_key",
      "q69_zorder_probe", "q73_tsv_roundtrip", "q84_layout_describe"),
    "relational" -> Seq("q4_scan_counts", "q5_join_agg", "q5_two_hop",
      "q5_semi_anti", "q6_group_aggs", "q7_windows", "q8_sort_limit",
      "q8_topk_group", "q9_set_ops", "q10_scalar_funcs", "q11_tumbling",
      "q27_json_extract", "q35_salted_agg", "q36_rollup", "q39_sessionize",
      "q40_pivot", "q41_percentiles", "q42_unpivot", "q43_rank_dist",
      "q44_asof_attr", "q45_range_join", "q46_asof_join", "q72_salted_join"),
    "docs" -> Seq("q16_text_stats", "q17_lang_id", "q18_exact_dedup",
      "q19_minhash_neardup", "q20_simhash", "q24_simhash_neardup",
      "q26_winnowing", "q29_sample_split", "q30_curation", "q37_bpe_tokens",
      "q47_repetition", "q48_decontaminate", "q49_stratified_mix", "q50_pack",
      "q51_vocab", "q52_incremental_dedup", "q53_corpus_to_batches",
      "q54_chunks", "q55_group_sample", "q56_tfidf_keywords", "q59_pii_scrub",
      "q60_neardup_clusters", "q61_bloom_dedup", "q62_source_report",
      "q63_clf_score", "q64_mix_plan", "q65_neardup_risk",
      "q76_bloom_index_dedup"),
    "vectors" -> Seq("q22_embed_lsh", "q38_cosine_neardup", "q58_vec_quantize",
      "q66_ivf_topk", "q68_lsh_topk", "q71_ann_recall", "q78_ivf_ingest",
      "q85_quantized_topk", "q86_ivf_quantized"),
    "graph" -> Seq("q25_node_degrees", "q33_connected_components",
      "q81_pagerank_bucketed"),
    "media" -> Seq("q23_multimodal_meta", "q77_media_dims", "q82_media_files"),
    "streaming" -> Seq("q70_stream_dedup", "q74_stream_sessions",
      "q79_stream_merge_part", "q80_stream_ttl", "q83_stream_restart"))

  def familyOf(entry: String): String =
    Families.collectFirst { case (f, es) if es.contains(entry) => f }
      .getOrElse(sys.error(s"entry $entry is in no family"))

  /** The entries a run executes: one per family, a fixed sample (a pass
    * over all 86 takes minutes on a 4-core host, past one run's time). */
  val Sample: Seq[String] = Seq("q3_lww_merge", "q5_join_agg",
    "q20_simhash", "q68_lsh_topk", "q33_connected_components",
    "q77_media_dims", "q70_stream_dedup").sorted

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val sizes = Gen.Sizes.sf(0.001)
    val (corpus, setupS) = ctx.setupMedian(3) { i =>
      val dir = s"${ctx.work}/corpus$i"
      Gen.writeCorpus(spark, dir, ctx.seed, sizes)
      Main.warmPageCache(new File(dir))
      dir
    }
    val entries = Sample.map(n => n -> SparkEntry.queries(n))

    // timed passes, the first cold in the session as a pipeline run would
    // be; each reads a fresh copy of the corpus, so the layouts the engine
    // memoizes per corpus directory are paid inside their entries. Rows are
    // collected: every output row is computed (a count would let the
    // optimizer prune columns), and the first pass's rows are the ones the
    // launcher compares with the DuckDB oracle. One pass per 10 s asked
    // for, at least one: a count fixed by the arguments, so a slow host does
    // not change what a run measures.
    val passDirs = (0 until math.max(1, math.round(ctx.seconds / 10).toInt))
      .map { p =>
        val dir = s"${ctx.work}/pass$p"
        copyTree(new File(corpus), new File(dir))
        dir
      }
    val passS = mutable.ArrayBuffer[Double]()
    val entryS = mutable.Map[String, Seq[Double]]().withDefaultValue(Nil)
    val results = mutable.Map[String, (StructType, Array[Row])]()
    ctx.measure {
      for (dir <- passDirs) {
        val timed = entries.flatMap { case (name, fn) =>
          val t0 = System.nanoTime()
          ctx.rec.run("entry") {
            ctx.tracer.op(name) {
              val df = fn(spark, dir)
              (df.schema, df.collect())
            }
          }(_ => None).map { case (out, _) =>
            val s = (System.nanoTime() - t0) / 1e9
            entryS(name) = entryS(name) :+ s
            if (!results.contains(name)) results(name) = out
            s
          }
        }
        passS += timed.sum
      }
    }

    // the first pass's rows and each entry's oracle SQL, for the launcher
    val outDir = s"${ctx.work}/outputs"
    results.foreach { case (name, (schema, rows)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$name")
    }
    val oracle = results.keys.toSeq.sorted.map(n =>
      s"${Main.json(n)}: ${Main.json(SparkEntry.oracleSql(n))}")
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracle.mkString("{\n", ",\n", "\n}\n"))

    def medS(n: String) = Stats.median(entryS(n))
    val e2e = Map(
      "ops_per_s" -> Stats.median(passS.toSeq.map(Sample.size / _)),
      "op_p50_ms" -> Stats.percentile(ctx.rec.samples("entry"), 50, 2)
        .getOrElse(Double.NaN),
      // the corpus copy plus the layouts the entries memoized beside it
      "disk_mb" -> Main.diskBytes(new File(passDirs.last)) / 1048576.0,
      "setup_s" -> setupS)
    Outcome(e2e, Map(
      "entries" -> Sample.mkString(" "),
      "passes" -> passS.size.toString,
      "entry_s" -> Sample.filter(entryS(_).nonEmpty)
        .map(n => f"$n=${medS(n)}%.3f").mkString(" "),
      "analytics_s" -> f"${Stats.median(passS.toSeq)}%.3f",
      "check_outputs" -> outDir,
      "check_corpus" -> corpus),
      kindOf = o => familyOf(o.name))
  }

  private def copyTree(from: File, to: File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      Option(from.listFiles()).toSeq.flatten.foreach(f => copyTree(f, new File(to, f.getName)))
    } else Files.copy(from.toPath, to.toPath, StandardCopyOption.REPLACE_EXISTING)
}
