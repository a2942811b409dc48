package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}

import graft.functions.{LwwObject, Multimodal}
import graft.operators.{Docs, Graph, Lww, Relational, Skew, Temporal, Vectors}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is one operator/capability from SURVEY §2; the
  * matching [[oracleSql]] is the DuckDB twin the driver runs on the same
  * parquet tables (sf0.01) for the row/schema/hash correctness gate.
  * Column names and types are aligned pairwise (BIGINT integers, rounded
  * doubles, string timestamps-as-epoch-millis) — see Relational's scaladoc.
  */
object SparkEntry {

  /** Flagship: O1 point scan by subject (`MongoDBConnector.py:26-43`,
    * `MasterServer.py:292-330`) on sf0.001; `<order_42>` has 3 triples. */
  def entry(spark: SparkSession): DataFrame =
    TripleStore.search(spark, "/root/testdata/sf0.001", "<order_42>")

  // No derived-view point scan in the gate: q1_sharded_scan covers O1 with
  // the same oracle over the layout a production store serves from, and
  // the derived-view path is exercised by the flagship [[entry]] smoke
  // check plus TripleStoreSpec's pushdown assertions.
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q2_lww_upsert" -> ((s, dir) =>
      Lww.upsert(TripleStore.triples(s, dir), TripleStore.updates(s, dir))
        .orderBy("subject", "predicate")),
    "q3_lww_merge" -> ((s, dir) =>
      Lww.merge(TripleStore.triples(s, dir), TripleStore.remoteChangelog(s, dir))
        .orderBy("subject", "predicate")),
    "q4_scan_counts"  -> (Relational.q4ScanCounts(_, _)),
    "q5_join_agg"     -> (Relational.q5JoinAgg(_, _)),
    "q5_two_hop"      -> (Relational.q5TwoHop(_, _)),
    "q5_semi_anti"    -> (Relational.q5SemiAnti(_, _)),
    "q6_group_aggs"   -> (Relational.q6GroupAggs(_, _)),
    "q7_windows"      -> (Relational.q7Windows(_, _)),
    "q8_sort_limit"   -> (Relational.q8SortLimit(_, _)),
    "q8_topk_group"   -> (Relational.q8TopkGroup(_, _)),
    "q9_set_ops"      -> (Relational.q9SetOps(_, _)),
    "q10_scalar_funcs" -> (Relational.q10ScalarFuncs(_, _)),
    "q11_tumbling"    -> (Relational.q11Tumbling(_, _)),
    // Q12: the typed lww_object Aggregator (pure LWW, no prio bit) over
    // local ∪ remote — the UDAF twin of O3 (MongoDBConnector.py:150).
    "q12_lww_udaf" -> ((s, dir) =>
      TripleStore.triples(s, dir)
        .unionByName(TripleStore.remoteChangelog(s, dir))
        .groupBy("subject", "predicate")
        .agg(LwwObject.column(col("object"), col("ts_ms")).as("object"))
        .orderBy("subject", "predicate")),
    // O1 over the materialized range-sharded layout (getShardID analog):
    // plain parquet scan with the subject filter pushed + shard-pruned.
    "q1_sharded_scan" -> ((s, dir) =>
      TripleStore.searchSharded(s, dir, "<order_42>")
        .orderBy("predicate", "object")),
    // O5/O11 shard-membership range predicate filtering a changelog
    // (MasterServer.py:97-104 / MongoDBConnector.py:105-114).
    "q13_shard_filter" -> ((s, dir) =>
      TripleStore.updates(s, dir)
        .filter(Lww.shardPredicate("<order_1", "<a", "<order_5", "<z"))
        .orderBy("subject", "predicate")),
    // O12 changelog union: newer changelog wins key collisions
    // (MasterServer.py:106-115).
    "q14_changelog_union" -> ((s, dir) =>
      Lww.changelogUnion(TripleStore.updates(s, dir),
          TripleStore.remoteChangelog(s, dir))
        .orderBy("subject", "predicate")),
    // O22 metadata/describe surface (MasterServer.py:435-463).
    "q15_describe_shards" -> (TripleStore.describeShards(_, _)),
    // --- LLM-training-data pipeline pillars over documents/embeddings ---
    "q16_text_stats"     -> (Docs.q16TextStats(_, _)),
    "q17_lang_id"        -> (Docs.q17LangId(_, _)),
    "q18_exact_dedup"    -> (Docs.q18ExactDedup(_, _)),
    "q19_minhash_neardup" -> (Docs.q19MinhashPairs(_, _)),
    "q20_simhash"        -> (Docs.q20Simhash(_, _)),
    // No brute-force cosine top-k entry: both approximate ANN query forms
    // carry their own oracles (q66 IVF, q68 LSH) over the shared `dot`,
    // and q21TopkCosine is q71's exact recall baseline.
    "q22_embed_lsh"      -> (Vectors.q22LshBuckets(_, _)),
    "q23_multimodal_meta" -> (Multimodal.q23MultimodalMeta(_, _)),
    "q24_simhash_neardup" -> (Docs.q24SimhashNeardup(_, _)),
    // Graph analytics north star: degree distribution over the entity graph.
    "q25_node_degrees" -> (Graph.q25NodeDegrees(_, _)),
    "q26_winnowing"    -> (Docs.q26Winnowing(_, _)),
    "q27_json_extract" -> (Relational.q27JsonExtract(_, _)),
    // O20 dynamic reshard (MasterServer.py:270-289): the 3-shard store
    // resharded to 5, then point-scanned — proves a reshard preserves
    // content and the new boundaries still prune (TripleStoreSpec asserts
    // disjointness + scan metrics).
    "q28_reshard_scan" -> ((s, dir) =>
      s.read.parquet(TripleStore.reshardedPath(s, dir))
        .filter(col("subject") === "<order_42>")
        .orderBy("predicate", "object")),
    "q29_sample_split" -> (Docs.q29SampleSplit(_, _)),
    "q30_curation"     -> (Docs.q30Curation(_, _)),
    // The co-located (bucketed, zero-shuffle) anti-entropy merge: same
    // values as q3, different physical plan — full-outer SMJ over two
    // co-bucketed catalog tables with no Exchange (TripleStoreSpec asserts
    // the plan; this entry lets the driver check the values).
    "q31_bucketed_merge" -> ((s, dir) => {
      val (local, remote) = TripleStore.bucketedMergeTables(s, dir)
      Lww.mergeCoLocated(s.table(local), s.table(remote))
        .orderBy("subject", "predicate")
    }),
    // The pure-SQL surface end-to-end: temp views + SQL text only (the
    // reference's queries-from-outside access model, MasterServer.py:292-330).
    "q32_sql_merge" -> ((s, dir) => {
      TripleStore.registerViews(s, dir)
      s.sql(Lww.mergeSql("triples", "remote_changelog") +
        "\nORDER BY subject, predicate")
    }),
    // Connected components over the entity graph via the power-law-safe
    // star algorithm; the oracle derives the same labels non-iteratively
    // from the graph's known region-rooted shape (Graph.q33Sql).
    "q33_connected_components" -> ((s, dir) =>
      Graph.ccStar(Graph.edges(s, dir)).orderBy("node")),
    // The native binary-search shard router (the O(log n) replacement for a
    // per-row case tree; also exercised at 1,024 boundaries in PlansSpec).
    "q34_range_bucket" -> ((s, dir) =>
      TripleStore.updates(s, dir)
        .select(col("subject"), col("predicate"),
          graft.plans.RangeBucket.shardId(col("subject"),
            RouteBoundaries).as("shard"))
        .orderBy("subject", "predicate")),
    // Two-phase salted aggregation on the hot-key predicate domain —
    // semantics-preserving, so the plain GROUP BY is its exact oracle.
    "q35_salted_agg" -> ((s, dir) =>
      Skew.saltedAgg(TripleStore.triples(s, dir), "predicate", 8,
          c => count(c), lit(1), c => sum(c))
        .select(col("predicate"), col("agg").cast("bigint").as("n_rows"))
        .orderBy("predicate")),
    // Multi-level aggregation (rollup) — grouping-set expansion inside one
    // aggregate, one shuffle for detail + subtotals + grand total.
    "q36_rollup" -> (Relational.q36Rollup(_, _)),
    // BPE-style pre-tokenizer token counting (training-cost estimation).
    "q37_bpe_tokens" -> (Docs.q37BpeTokens(_, _)),
    // Embedding-cosine near-dup pairs end-to-end (LSH candidates + exact
    // verify) — deterministic buckets make the whole pipeline oracle-exact.
    "q38_cosine_neardup" -> (Vectors.q38CosineNeardup(_, _)),
    // Gap-based sessionization of the event stream: one shuffle by user.
    "q39_sessionize" -> (Relational.q39Sessionize(_, _)),
    // Long->wide pivot with a pinned value domain (no schema-inference job).
    "q40_pivot" -> (Relational.q40Pivot(_, _)),
    // Exact continuous percentiles; the mergeable approx sketch twin is
    // property-tested against this in PipelineSpec.
    "q41_percentiles" -> (Relational.q41Percentiles(_, _)),
    // Wide->long unpivot (q40's inverse shape) + per-measure summary.
    "q42_unpivot" -> (Relational.q42Unpivot(_, _)),
    // Rank-distribution window family: ntile / percent_rank / cume_dist.
    "q43_rank_dist" -> (Relational.q43RankDist(_, _)),
    // As-of attribute propagation: latest preceding purchase per event.
    "q44_asof_attr" -> (Relational.q44AsofAttr(_, _)),
    // Range (interval-containment) join via time-binned equi-join — never
    // the nested-loop fallback (plan-asserted in TemporalSpec).
    "q45_range_join" -> (Temporal.q45RangeJoin(_, _)),
    // Two-table as-of join with a tolerance bound: one window shuffle,
    // no join node (generic Temporal.asofJoin).
    "q46_asof_join" -> (Temporal.q46AsofJoin(_, _)),
    // Gopher-style repetition quality metrics: top/dup n-gram fractions.
    "q47_repetition" -> (Docs.q47Repetition(_, _)),
    // Benchmark decontamination: 8-gram overlap vs a broadcast held-out set.
    "q48_decontaminate" -> (Docs.q48Decontaminate(_, _)),
    // Deterministic stratified corpus mixing: per-language epochs.
    "q49_stratified_mix" -> (Docs.q49StratifiedSample(_, _)),
    // Sequence packing: per-shard concat-and-chunk into token budgets.
    "q50_pack" -> (Docs.q50Pack(_, _)),
    // Corpus vocabulary: top-100 words by tf with df, total-order cut.
    "q51_vocab" -> (Docs.q51Vocab(_, _)),
    // Incremental dedup: new batch anti-joined against the corpus hashes.
    "q52_incremental_dedup" -> (Docs.q52IncrementalDedup(_, _)),
    // Capstone: quality ∘ dedup ∘ mix ∘ decontaminate ∘ pack in one plan.
    "q53_corpus_to_batches" -> (Docs.q53CorpusToBatches(_, _)),
    // RAG-style overlapping chunking: fixed token windows, stride < size.
    "q54_chunks" -> (Docs.q54Chunks(_, _)),
    // Exact-k deterministic stratified sample per source stratum.
    "q55_group_sample" -> (Docs.q55GroupSample(_, _)),
    // TF-IDF keyword extraction: per-doc top-3 terms, broadcast df/N.
    "q56_tfidf_keywords" -> (Docs.q56TfidfKeywords(_, _)),
    // Native Morton z-key over the (part, supplier) plane — the
    // multi-dimensional data-skipping sort key (layout test in CorpusOpsSpec).
    "q57_zorder_key" -> (graft.plans.ZOrderKey.q57(_, _)),
    // Int8 symmetric embedding quantization with dequant scale.
    "q58_vec_quantize" -> (Vectors.q58Quantize(_, _)),
    // PII scrub: count + redact emails/IPv4s/phones (planted payload).
    "q59_pii_scrub" -> (Docs.q59PiiScrub(_, _)),
    // Near-dup cluster resolution: connected components over the MinHash
    // pair graph → canonical survivor per cluster (recursive-CTE oracle).
    "q60_neardup_clusters" -> (Docs.q60NeardupClusters(_, _)),
    // Incremental dedup via bloom prefilter: q52's relation with the
    // corpus never shuffled (map-only bloom + broadcast exact verify).
    "q61_bloom_dedup" -> (Docs.q61BloomDedup(_, _)),
    // Per-source curation report: the domain-level keep/drop dashboard.
    "q62_source_report" -> (Docs.q62SourceReport(_, _)),
    // Hashed-feature linear quality classifier (fasttext-shaped plumbing,
    // exact integer margin).
    "q63_clf_score" -> (Docs.q63ClfScore(_, _)),
    // Mixture planning: per-source epoch rates from target weights at a
    // constant token budget (the calculator feeding q49's application).
    "q64_mix_plan" -> (Docs.q64MixPlan(_, _)),
    // Per-doc near-dup risk: nearest neighbor + score from the pair list.
    "q65_neardup_risk" -> (Docs.q65NeardupRisk(_, _)),
    // IVF ANN top-k (coarse k-means quantizer + probed lists) — the
    // approximate index's QUERY form, still oracle-exact because every
    // argmax is deterministically tie-broken (see Vectors.q66IvfTopk).
    "q66_ivf_topk" -> (Vectors.q66IvfTopk(_, _)),
    // LSH-bucketed ANN top-k — the query form of q22's bucketing, the LSH
    // sibling of q66's IVF probe (deterministic planes, exact oracle).
    "q68_lsh_topk" -> (Vectors.q68LshTopk(_, _)),
    // O1's predicate-dimension twin served from the z-ordered 2-D layout
    // (writeZOrdered): the probe shape the subject-sharded layout cannot
    // prune — both-dimension file skipping is asserted in TripleStoreSpec;
    // this row makes the driver gate actually read through the layout.
    "q69_zorder_probe" -> ((s, dir) =>
      TripleStore.searchZOrdered(s, dir, predicate = Some("<inRegion>"))
        .orderBy("subject", "object")),
    // The exact-dedup pillar through a REAL readStream (JSONL crawl files →
    // micro-batched (min, sum) merges into a persistent dedup store) —
    // same relation, and oracle, as q18; the streaming gate row for dedup.
    "q70_stream_dedup" ->
      (graft.streaming.StreamingGate.q70StreamDedup(_, _)),
    // ANN recall, driver-checked: per-query intersection of the exact
    // top-k with the IVF (q66) and LSH (q68) probes, with a loud
    // raise_error floor on IVF recall — an index regression fails the
    // gate instead of hiding in a spec (see Vectors.q71AnnRecall).
    "q71_ann_recall" -> (Vectors.q71AnnRecall(_, _)),
    // Salted hot-key JOIN — the skew shape q35's salted AGG doesn't cover;
    // semantics-preserving, so the plain join is its exact oracle
    // (SkewSpec pins the (key, salt) fan-out in the physical plan).
    "q72_salted_join" -> (Skew.q72SaltedJoin(_, _)),
    // O15 bulk TSV load driver-gated end-to-end: writeTsv → fromTsv →
    // per-predicate counts + ts bounds vs the parquet-side oracle.
    "q73_tsv_roundtrip" -> (TripleStore.q73TsvRoundtrip(_, _)),
    // Streaming sessionization through a REAL readStream (time-range JSONL
    // replay, watermark-deferred emission), oracled by batch q39's SQL —
    // the final closed-session table is deterministic once the watermark
    // passes, so stream ≡ batch (StreamingSessionsSpec pins it in-process).
    "q74_stream_sessions" ->
      (graft.streaming.StreamingGate.q74StreamSessions(_, _)),
    // No transient-frame PageRank entry: q81 runs the SAME iteration
    // count, n-scaling, rounding and oracle (Graph.q75Sql) over the
    // bucketed edge table; GraphSpec pins q81 ≡ Graph.q75PageRank
    // row-for-row after rounding plus the plan claim (bucket-scan,
    // strictly fewer exchanges).
    // Stored-bloom incremental dedup: a two-epoch crawl ingest through a
    // PERSISTENT bloom index (built once, appended per batch) — the
    // steady-state shape DedupScaleBench showed a per-batch rebuild can't
    // reach; the bloom only routes, so the oracle is pure NOT EXISTS.
    "q76_bloom_index_dedup" ->
      (graft.operators.BloomIndex.q76BloomIndexDedup(_, _)),
    // The REAL media header-decode path driver-gated (q23 covers the
    // SQL-expressible metadata slice; this runs the typed mapPartitions
    // pipeline on actual PNG/JPEG/GIF container bytes planted per doc_id,
    // q59's pattern — the oracle re-derives the dims from the formula).
    "q77_media_dims" -> (Multimodal.q77MediaDims(_, _)),
    // Incremental IVF ingest: index built on the standing corpus, a crawl
    // epoch appended through the REAL ivfAppendBatch path (its redelivery
    // replay suppressed in-run by the marker guard), the grown layout
    // probed — the ANN twin of q76's two-epoch dedup shape.
    "q78_ivf_ingest" -> (Vectors.q78IvfIngest(_, _)),
    // The partitioned streaming sink through a REAL readStream: the
    // changelog replay q83 shares, into mergeIntoStorePartitioned
    // (per-shard pruned I/O + atomic swap); same merge relation/oracle as
    // q3, and the replay asserts the changelog-free shards stayed
    // byte-untouched.
    "q79_stream_merge_part" ->
      (graft.streaming.StreamingGate.q79StreamMergePart(_, _)),
    // TTL state eviction through a REAL readStream: winnersWithTtl over a
    // time-sliced replay with held-back late arrivals; values oracled by
    // the eviction-invariant cumulative-argmax relation (a re-hydrated
    // winner is provably newer than the evicted one), eviction itself
    // asserted in-run from the state-store metrics.
    "q80_stream_ttl" ->
      (graft.streaming.StreamingGate.q80StreamTtl(_, _)),
    // PageRank over the BUCKETED catalog edge table: the graph north
    // star's gate row — q75PageRank's values and oracle verbatim,
    // exchange-free edge scans (the
    // q31-vs-q3 discipline; GraphSpec pins the plan claim AND the
    // q81 ≡ q75PageRank value equality).
    "q81_pagerank_bucketed" -> (Graph.q81PageRankBucketed(_, _)),
    // The production binaryFile media SOURCE driver-gated: q77's containers
    // written as real <id>.<ext> files, loaded via mediaFromFiles (path-id
    // FAILFAST parse, length-column n_bytes), decoded by the same batch
    // path — q77's oracle verbatim, different ingest path (q31-vs-q3).
    "q82_media_files" -> (Multimodal.q82MediaFiles(_, _)),
    // Streaming checkpoint-RESTART recovery: q79's changelog JSONL replay,
    // split across two query incarnations over ONE checkpoint (the second
    // resumes from it, processing exactly the post-restart extension —
    // asserted in-run from numInputRows); same merge relation and oracle
    // as q3.
    "q83_stream_restart" ->
      (graft.streaming.StreamingGate.q83StreamRestart(_, _)),
    // O22's live analog: the footer-derived PHYSICAL shard map over the
    // sharded store AND its reshard (the boundaries q15's static declared
    // map cannot see); footer-vs-data exactness asserted in-run per file.
    "q84_layout_describe" -> (TripleStore.q84LayoutDescribe(_, _)),
    // The int8 SERVING row: top-k cosine computed from the quantized
    // vectors (q58's codec) — integer dot/norms, so the approximate codec's
    // query form still has an exact oracle; recall rides in q71.
    "q85_quantized_topk" -> (Vectors.q85QuantizedTopk(_, _)),
    // The quantized-IVF serving combination — ivfProbeQuantized over the
    // materialized int8-at-rest lists layout (the 100M rehearsal's probe
    // path, previously spec/bench-only; q66 gates the float layout).
    "q86_ivf_quantized" -> (Vectors.q86IvfQuantized(_, _)),
  )

  /** q34's boundary list: eight cut points inside the order range. */
  private val RouteBoundaries: Seq[String] = (1 to 8).map(i => s"<order_$i")

  /** The anti-entropy merge oracle — shared by q3 (aggregate kernel), q31
    * (co-located join), and q32 (SQL text): all three compute the SAME
    * relation through different physical paths. */
  private lazy val MergeOracleSql: String =
    s"""WITH ${TripleStore.TriplesCte}, ${TripleStore.RemoteCte}
       |SELECT subject, predicate, object, ts_ms FROM (
       |  SELECT *, row_number() OVER (PARTITION BY subject, predicate
       |            ORDER BY ts_ms DESC, prio DESC, object DESC) AS rn
       |  FROM (SELECT t.*, 1 AS prio FROM triples t
       |        UNION ALL SELECT r.*, 0 AS prio FROM remote r))
       |WHERE rn = 1 ORDER BY subject, predicate""".stripMargin

  def oracleSql: Map[String, String] = Map(
    // prio leads: an explicit update always overwrites (MongoDBConnector.py:73)
    "q2_lww_upsert" ->
      s"""WITH ${TripleStore.TriplesCte}, ${TripleStore.UpdatesCte}
         |SELECT subject, predicate, object, ts_ms FROM (
         |  SELECT *, row_number() OVER (PARTITION BY subject, predicate
         |            ORDER BY prio DESC, ts_ms DESC, object DESC) AS rn
         |  FROM (SELECT t.*, 0 AS prio FROM triples t
         |        UNION ALL SELECT u.*, 1 FROM updates u))
         |WHERE rn = 1 ORDER BY subject, predicate""".stripMargin,
    "q3_lww_merge" -> MergeOracleSql,
    "q4_scan_counts"   -> Relational.q4Sql,
    "q5_join_agg"      -> Relational.q5JoinAggSql,
    "q5_two_hop"       -> Relational.q5TwoHopSql,
    "q5_semi_anti"     -> Relational.q5SemiAntiSql,
    "q6_group_aggs"    -> Relational.q6Sql,
    "q7_windows"       -> Relational.q7Sql,
    "q8_sort_limit"    -> Relational.q8SortLimitSql,
    "q8_topk_group"    -> Relational.q8TopkGroupSql,
    "q9_set_ops"       -> Relational.q9Sql,
    "q10_scalar_funcs" -> Relational.q10Sql,
    "q11_tumbling"     -> Relational.q11TumblingSql,
    "q12_lww_udaf" ->
      s"""WITH ${TripleStore.TriplesCte}, ${TripleStore.RemoteCte}
         |SELECT subject, predicate, object FROM (
         |  SELECT subject, predicate, object,
         |         row_number() OVER (PARTITION BY subject, predicate
         |                 ORDER BY ts_ms DESC, object DESC) AS rn
         |  FROM (SELECT * FROM triples UNION ALL SELECT * FROM remote))
         |WHERE rn = 1 ORDER BY subject, predicate""".stripMargin,
    "q1_sharded_scan" ->
      s"""WITH ${TripleStore.TriplesCte}
         |SELECT subject, predicate, object, ts_ms FROM triples
         |WHERE subject = '<order_42>' ORDER BY predicate, object""".stripMargin,
    "q13_shard_filter" ->
      s"""WITH ${TripleStore.UpdatesCte}
         |SELECT subject, predicate, object, ts_ms FROM updates
         |WHERE subject BETWEEN '<order_1' AND '<order_5'
         |  AND predicate BETWEEN '<a' AND '<z'
         |ORDER BY subject, predicate""".stripMargin,
    "q14_changelog_union" ->
      s"""WITH ${TripleStore.UpdatesCte}, ${TripleStore.RemoteCte}
         |SELECT subject, predicate, object, ts_ms FROM (
         |  SELECT *, row_number() OVER (PARTITION BY subject, predicate
         |            ORDER BY prio DESC, ts_ms DESC, object DESC) AS rn
         |  FROM (SELECT u.*, 0 AS prio FROM updates u
         |        UNION ALL SELECT r.*, 1 FROM remote r))
         |WHERE rn = 1 ORDER BY subject, predicate""".stripMargin,
    "q15_describe_shards" -> TripleStore.DescribeShardsSql,
    "q16_text_stats"      -> Docs.q16Sql,
    "q17_lang_id"         -> Docs.q17Sql,
    "q18_exact_dedup"     -> Docs.q18Sql,
    "q19_minhash_neardup" -> Docs.q19Sql,
    "q20_simhash"         -> Docs.q20Sql,
    "q22_embed_lsh"       -> Vectors.q22Sql,
    "q23_multimodal_meta" -> Multimodal.q23Sql,
    "q24_simhash_neardup" -> Docs.q24Sql,
    "q25_node_degrees"    -> Graph.q25Sql,
    "q26_winnowing"       -> Docs.q26Sql,
    "q27_json_extract"    -> Relational.q27Sql,
    "q28_reshard_scan" ->
      s"""WITH ${TripleStore.TriplesCte}
         |SELECT subject, predicate, object, ts_ms FROM triples
         |WHERE subject = '<order_42>' ORDER BY predicate, object""".stripMargin,
    "q29_sample_split" -> Docs.q29Sql,
    "q30_curation"     -> Docs.q30Sql,
    "q31_bucketed_merge" -> MergeOracleSql,
    "q32_sql_merge" -> MergeOracleSql,
    "q33_connected_components" -> Graph.q33Sql,
    "q34_range_bucket" ->
      s"""WITH ${TripleStore.UpdatesCte}
         |SELECT subject, predicate,
         |       CAST(${(1 to 8).map(i =>
                  s"CAST(subject >= '<order_$i' AS INT)").mkString(" + ")}
         |         AS INT) AS shard
         |FROM updates ORDER BY subject, predicate""".stripMargin,
    "q35_salted_agg" ->
      s"""WITH ${TripleStore.TriplesCte}
         |SELECT predicate, CAST(count(*) AS BIGINT) AS n_rows
         |FROM triples GROUP BY predicate ORDER BY predicate""".stripMargin,
    "q36_rollup" -> Relational.q36Sql,
    "q37_bpe_tokens" -> Docs.q37Sql,
    "q38_cosine_neardup" -> Vectors.q38Sql,
    "q39_sessionize"     -> Relational.q39Sql,
    "q40_pivot"          -> Relational.q40Sql,
    "q41_percentiles"    -> Relational.q41Sql,
    "q42_unpivot"        -> Relational.q42Sql,
    "q43_rank_dist"      -> Relational.q43Sql,
    "q44_asof_attr"      -> Relational.q44Sql,
    "q45_range_join"     -> Temporal.q45Sql,
    "q46_asof_join"      -> Temporal.q46Sql,
    "q47_repetition"     -> Docs.q47Sql,
    "q48_decontaminate"  -> Docs.q48Sql,
    "q49_stratified_mix" -> Docs.q49Sql,
    "q50_pack"           -> Docs.q50Sql,
    "q51_vocab"          -> Docs.q51Sql,
    "q52_incremental_dedup" -> Docs.q52Sql,
    "q53_corpus_to_batches" -> Docs.q53Sql,
    "q54_chunks"         -> Docs.q54Sql,
    "q55_group_sample"   -> Docs.q55Sql,
    "q56_tfidf_keywords" -> Docs.q56Sql,
    "q57_zorder_key"     -> graft.plans.ZOrderKey.q57Sql,
    "q58_vec_quantize"   -> Vectors.q58Sql,
    "q59_pii_scrub"      -> Docs.q59Sql,
    "q60_neardup_clusters" -> Docs.q60Sql,
    "q61_bloom_dedup"      -> Docs.q61Sql,
    "q62_source_report"    -> Docs.q62Sql,
    "q63_clf_score"        -> Docs.q63Sql,
    "q64_mix_plan"         -> Docs.q64Sql,
    "q65_neardup_risk"     -> Docs.q65Sql,
    "q66_ivf_topk"         -> Vectors.q66Sql,
    "q68_lsh_topk"         -> Vectors.q68Sql,
    "q69_zorder_probe" ->
      s"""WITH ${TripleStore.TriplesCte}
         |SELECT subject, predicate, object, ts_ms FROM triples
         |WHERE predicate = '<inRegion>' ORDER BY subject, object""".stripMargin,
    "q70_stream_dedup"     -> Docs.q18Sql,
    "q71_ann_recall"       -> Vectors.q71Sql,
    "q72_salted_join"      -> Skew.q72Sql,
    "q73_tsv_roundtrip"    -> TripleStore.Q73Sql,
    "q74_stream_sessions"  -> Relational.q39Sql,
    // Graph.q75Sql is q81_pagerank_bucketed's oracle, below
    "q76_bloom_index_dedup" -> graft.operators.BloomIndex.q76Sql,
    "q77_media_dims"        -> Multimodal.q77Sql,
    "q78_ivf_ingest"        -> Vectors.q78Sql,
    "q79_stream_merge_part" -> MergeOracleSql,
    "q80_stream_ttl"        -> graft.streaming.StreamingGate.q80Sql,
    "q81_pagerank_bucketed" -> Graph.q75Sql,
    "q82_media_files"       -> Multimodal.q77Sql,
    "q83_stream_restart"    -> MergeOracleSql,
    "q84_layout_describe"   -> TripleStore.Q84Sql,
    "q85_quantized_topk"    -> Vectors.q85Sql,
    "q86_ivf_quantized"     -> Vectors.q86Sql,
  )
}
