package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.Scratch
import graft.TripleStore.table
import graft.functions.StableRound.{stableRound, stableRoundSql}

/** Training-data pipeline operators over `documents` — the text-analysis,
  * exact-dedup and near-dup pillars a 100 TB corpus pipeline needs.
  *
  * Everything hash-based uses md5/sha256 hex strings so the DuckDB oracle
  * computes bit-identical values; everything is expressed as declarative
  * DataFrame ops (no UDFs), so the whole pillar stays inside whole-stage
  * codegen and scales by partitioning alone.
  */
object Docs {

  private val Stop = Map(
    "en" -> Seq("the", "a", "of", "and", "in", "to", "is"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von"))

  private def inList(xs: Seq[String]) = xs.map(s => s"'$s'").mkString("(", ", ", ")")

  /** q16's quality rule — one definition shared by q16, q30 and the q53
    * capstone (with [[KeepSql]] as its oracle twin) so a threshold tweak
    * can never desynchronize the capstone from its leg. Expects the token
    * array `w` in scope. */
  private def keepCol: Column =
    size(col("w")) >= 5 &&
      (expr("aggregate(transform(w, x -> length(x)), 0, (acc, x) -> acc + x)")
        .cast(DoubleType) / size(col("w"))).between(2.0, 12.0)

  private val KeepSql: String =
    "(len(w) >= 5 AND CAST(list_sum(list_transform(w, x -> length(x))) " +
      "AS DOUBLE)/len(w) BETWEEN 2.0 AND 12.0)"

  /** q17's per-language stopword score and its English-argmax boolean —
    * ONE definition (expects the lowercased token array `lw` in scope)
    * shared by q17, q30 and q62, with [[IsEnSql]] as the oracle twin, so a
    * language-rule tweak can never desynchronize the per-source report or
    * the curation filter from the per-doc leg. */
  private def langScore(l: String): Column =
    expr(s"size(filter(lw, x -> x IN ${inList(Stop(l))}))")

  private def isEnCol: Column =
    langScore("en") > langScore("es") && langScore("en") > langScore("de")

  private def langScoreSql(l: String): String =
    s"len(list_filter(lw, x -> x IN ${inList(Stop(l))}))"

  private val IsEnSql: String =
    s"(${langScoreSql("en")} > ${langScoreSql("es")} AND " +
      s"${langScoreSql("en")} > ${langScoreSql("de")})"

  /** Word 8-gram window (the published decontamination overlap shape; 8
    * rather than GPT-3's 13 because the synthetic docs are short) — one
    * definition shared by q48 and q53 with [[Gram8Sql]] as its oracle
    * twin. Expects `w` in scope. */
  private val Gram8Expr: Column = expr(
    """transform(filter(sequence(0, size(w) - 1), i -> i + 8 <= size(w)),
      |  i -> array_join(slice(w, i + 1, 8), ' '))""".stripMargin)

  private val Gram8Sql: String =
    "list_transform(range(1, len(w) - 6), i -> array_to_string(w[i:i+7], ' '))"

  // --- Q16: token counting, quality stats, fingerprint ----------------------

  /** Per-document token/char counts, average token length, stopword ratio, a
    * regex token count, an md5-prefix fingerprint, and a quality `keep` flag.
    * One narrow scan, one projection — no shuffle at all. */
  def q16TextStats(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .select(col("doc_id"), col("text"), split(col("text"), " ").as("w"))
      .select(
        col("doc_id"),
        size(col("w")).cast(LongType).as("n_tokens"),
        length(col("text")).cast(LongType).as("n_chars_m"),
        stableRound(
          expr("aggregate(transform(w, x -> length(x)), 0, (acc, x) -> acc + x)")
            .cast(DoubleType) / size(col("w")), 4).as("avg_tok_len"),
        stableRound(expr(s"size(filter(w, x -> x IN ${inList(Stop("en"))}))")
          .cast(DoubleType) / size(col("w")), 4).as("stop_ratio"),
        size(expr("regexp_extract_all(text, '[a-z]+', 0)")).cast(LongType)
          .as("n_alpha_tokens"),
        substring(md5(col("text")), 1, 16).as("fingerprint"),
        keepCol.as("keep"))
      .orderBy("doc_id")

  private val q16Core: String =
    s"""SELECT doc_id,
       |  CAST(len(w) AS BIGINT) AS n_tokens,
       |  CAST(length(text) AS BIGINT) AS n_chars_m,
       |  ${stableRoundSql(
             "CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)/len(w)",
             4)} AS avg_tok_len,
       |  ${stableRoundSql(
             s"CAST(len(list_filter(w, x -> x IN ${inList(Stop("en"))})) AS DOUBLE)/len(w)",
             4)} AS stop_ratio,
       |  CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_alpha_tokens,
       |  substr(md5(text), 1, 16) AS fingerprint,
       |  $KeepSql AS keep
       |FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)""".stripMargin

  val q16Sql: String = q16Core + "\nORDER BY doc_id"

  // --- Q37: BPE-style pre-tokenizer token counting --------------------------

  /** GPT-2-style pre-tokenization (the regex pass every BPE tokenizer runs
    * before merges): a token is an optionally-space-prefixed letter run
    * (either case — lumping uppercase into the punctuation class would
    * merge "USA." into one symbol run and skew the estimate on mixed-case
    * text), an optionally-space-prefixed digit run, or a
    * punctuation run. The pattern sticks to a conservative alternation
    * subset that Java regex (Spark) and RE2 (DuckDB) evaluate identically —
    * no lookarounds, no unicode classes. Token COUNT is the training-cost
    * estimator a data pipeline budgets with; whitespace count (q16
    * `n_tokens`) undercounts punctuation-heavy text. One narrow scan, no
    * shuffle but the ORDER BY. */
  private[graft] val BpePattern = " ?[a-zA-Z]+| ?[0-9]+|[^a-zA-Z0-9 ]+"

  def q37BpeTokens(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .select(col("doc_id"),
        size(expr(s"regexp_extract_all(text, '$BpePattern', 0)"))
          .cast(LongType).as("n_bpe_tokens"),
        size(split(col("text"), " ")).cast(LongType).as("n_ws_tokens"))
      .orderBy("doc_id")

  val q37Sql: String =
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$BpePattern')) AS BIGINT) AS n_bpe_tokens,
       |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens
       |FROM documents ORDER BY doc_id""".stripMargin

  // --- Q17: language-ID heuristic -------------------------------------------

  /** Stopword-profile language scorer (the classic n-gram/function-word
    * heuristic, scoped to whole tokens): count matches against per-language
    * function-word sets, predict the argmax, `und` on ties. Declarative
    * `filter` over the token array — no shuffle, no UDF. */
  def q17LangId(spark: SparkSession, dir: String): DataFrame = {
    val scoreCols = Stop.keys.toSeq.sorted.map(l =>
      langScore(l).cast(LongType).as(s"s_$l"))
    val scored = table(spark, dir, "documents")
      .select(col("doc_id"), col("lang").as("lang_meta"),
        split(lower(col("text")), " ").as("lw"))
      .select(Seq(col("doc_id"), col("lang_meta")) ++ scoreCols: _*)
    scored.select(col("doc_id"), col("lang_meta"),
        col("s_de"), col("s_en"), col("s_es"),
        when(col("s_en") > col("s_es") && col("s_en") > col("s_de"), "en")
          .when(col("s_es") > col("s_en") && col("s_es") > col("s_de"), "es")
          .when(col("s_de") > col("s_en") && col("s_de") > col("s_es"), "de")
          .otherwise("und").as("pred_lang"))
      .orderBy("doc_id")
  }

  private lazy val q17Core: String = {
    def gt(a: String, b: String) = s"${langScoreSql(a)} > ${langScoreSql(b)}"
    s"""SELECT doc_id, lang AS lang_meta,
       |  CAST(${langScoreSql("de")} AS BIGINT) AS s_de,
       |  CAST(${langScoreSql("en")} AS BIGINT) AS s_en,
       |  CAST(${langScoreSql("es")} AS BIGINT) AS s_es,
       |  CASE
       |    WHEN ${gt("en", "es")} AND ${gt("en", "de")} THEN 'en'
       |    WHEN ${gt("es", "en")} AND ${gt("es", "de")} THEN 'es'
       |    WHEN ${gt("de", "en")} AND ${gt("de", "es")} THEN 'de'
       |    ELSE 'und' END AS pred_lang
       |FROM (SELECT doc_id, lang, string_split(lower(text), ' ') AS lw FROM documents)""".stripMargin
  }

  val q17Sql: String = q17Core + "\nORDER BY doc_id"

  // --- Q18: exact dedup by content hash -------------------------------------

  /** Exact dedup: group by sha256(text). At 100 TB this shuffles one 64-byte
    * key + two longs per document (map-side combined), never the text
    * itself; the representative is the smallest doc_id. */
  def q18ExactDedup(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .groupBy(sha2(col("text"), 256).as("content_hash"))
      .agg(min(col("doc_id")).as("rep_doc_id"),
        count(lit(1)).as("n_copies"))
      .orderBy("content_hash")

  val q18Sql: String =
    """SELECT sha256(text) AS content_hash,
      |       CAST(min(doc_id) AS BIGINT) AS rep_doc_id,
      |       CAST(count(*) AS BIGINT) AS n_copies
      |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin

  // --- Q19: MinHash + LSH near-dup pairs ------------------------------------

  private val NumHashes = 8
  // the GATE banding config: bands of 2 hashes. One pair of constants
  // drives BOTH the Scala path (q19MinhashPairs passes them to
  // minhashCandidates) and the DuckDB oracle's band expressions
  // (q19Core), so a retune cannot drift the two apart.
  private val GateBandRows = 2
  private val NumBands = NumHashes / GateBandRows
  val JaccardThreshold = 0.6

  /** Distinct 3-word shingles per document, ONE array row per doc — the
    * form [[minhashCandidates]]' map-only signature kernel consumes (and
    * [[neardupPairs]] explodes for the verify-stage joins). Exposed so the
    * 10M-doc rehearsal (NeardupScaleBench) runs the PRODUCTION shingle
    * kernel over its synthetic corpus, not a copy (the ivfAssignVectors
    * convention). */
  private[graft] def shingleArraysOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), array_distinct(expr(
        "transform(sequence(0, size(w)-3), i -> concat_ws(' ', w[i], w[i+1], w[i+2]))"))
        .as("ss"))

  /** Near-duplicate pairs via MinHash signatures + LSH banding, verified
    * with exact shingle Jaccard.
    *
    * The scale story: banding replaces the O(n²) all-pairs comparison with
    * an equi-join on (band_idx, band_val) — only documents sharing a bucket
    * are ever compared, and the exact-Jaccard verification runs on that
    * candidate set alone. MinHash values are `min(md5(seed || shingle))`
    * hex strings, so the DuckDB oracle derives the identical signatures,
    * bands, and candidate set. */
  def q19MinhashPairs(spark: SparkSession, dir: String): DataFrame =
    neardupPairs(spark, dir)

  /** Corpus-size threshold (bytes of `documents.parquet`) above which
    * [[neardupPairs]] stages the shingle-array frame to scratch parquet
    * instead of `.cache()`-ing it (conf `spark.graft.shingleStageBytes`).
    * The default keeps every gate/bench SF on the cached path (sf0.1's
    * documents are ~0.6 MB — three orders below) while anything near the
    * 10M-doc rehearsal's ~GBs stages: the array frame explodes to ~L
    * shingle rows per doc, and an on-heap/disk block cache of that volume
    * OOM'd a 48 GB single-JVM driver at 10M docs (Spark exit 52 while
    * putting rdd blocks), where a compressed parquet scan per consumer
    * runs the same pipeline bounded. The cutoff is input-size arithmetic
    * (caching competes with execution memory and must not scale with the
    * corpus), not a thread-count tunable. */
  private[graft] val ShingleStageBytesDefault: Long = 256L << 20

  /** THE near-dup production path — q19's relation at any banding config:
    * shingle arrays → [[minhashCandidates]] → [[minhashVerify]]. The
    * shingle-array subtree feeds the (map-only) signature pass and,
    * exploded, the verify stage's sizes + intersection joins (4 plan
    * occurrences of the split/transform scan), so it is materialized
    * once — `.cache()` below [[ShingleStageBytesDefault]], a
    * [[Scratch.scoped]] parquet stage above it (NeardupScaleBench drives
    * THIS method end-to-end at 10M docs). Both shapes are scoped to
    * the call: the final (small) pair set is materialized eagerly by
    * [[minhashVerify]], then the candidate set and the cache/stage are
    * released before returning, so repeated dedup sweeps in a long-lived
    * session accumulate neither storage blocks nor tmp files. */
  private[graft] def neardupPairs(spark: SparkSession, dir: String,
      numHashes: Int = NumHashes, bandRows: Int = GateBandRows): DataFrame = {
    val src = s"$dir/documents.parquet"
    val threshold = spark.conf.getOption("spark.graft.shingleStageBytes")
      .map(_.toLong).getOrElse(ShingleStageBytesDefault)
    def pairs(arrs: DataFrame): DataFrame =
      Scratch.pinned(minhashCandidates(arrs, numHashes, bandRows))(
        minhashVerify(_,
          arrs.select(col("doc_id"), explode(col("ss")).as("s"))))
    if (inputBytes(spark, src) <= threshold)
      Scratch.pinned(shingleArraysOf(table(spark, dir, "documents")).cache())(
        pairs)
    else Scratch.scoped(spark) { stage =>
      shingleArraysOf(table(spark, dir, "documents"))
        .write.mode("overwrite").parquet(stage)
      pairs(spark.read.parquet(stage))
    }
  }

  /** Driver-side byte size of an input path (file-listing metadata only —
    * no Spark job, so the gate's cached path stays at its exact job
    * count). */
  private def inputBytes(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  /** q19's banding stage over a `(doc_id, ss)` shingle-ARRAY frame
    * ([[shingleArraysOf]]): MinHash signatures → LSH bands → the candidate
    * equi-join, MATERIALIZED (localCheckpoint — the pair set is bounded by
    * the banding and feeds two consumers). Split out of
    * [[q19MinhashPairs]] so the 10M-doc rehearsal measures the
    * candidate volume between the production stages; the gate entry
    * composes these pieces unchanged (the defaults ARE the gate config —
    * 8 hashes in 4 bands of 2).
    *
    * The signature pass is the native one-pass
    * [[graft.plans.MinhashSignature minhash_signature]] kernel:
    * signatures are a per-document function, so an explode +
    * `groupBy(doc_id).agg(min × k)` formulation would shuffle the corpus's
    * whole shingle stream (~L rows/doc, an 890 s wall in the 10M
    * rehearsal) into a k-way min aggregate for a map-only answer. The
    * kernel computes the IDENTICAL md5-quarter minima the DuckDB oracle
    * does, with zero exchange and zero per-shingle
    * string allocation.
    *
    * `numHashes`/`bandRows` are the corpus-scale dials (measured):
    * a band of r hashes collides for a non-dup pair with probability
    * ~J^r, and under a Zipf-skewed shingle distribution the gate's r=2
    * bands collide QUADRATICALLY at 10M docs (shared head shingles
    * dominate the minima; the 10M rehearsal OOMed a 60 GB driver on the
    * candidate join before this dial existed). The documented scale
    * config is 24 hashes in 6 bands of 4 — planted-dup recall at J≈0.85
    * stays ≥0.99 (1−(1−J⁴)⁶) while Zipf false-candidate volume drops by
    * the extra J² per band. */
  private[graft] def minhashCandidates(arrs: DataFrame,
      numHashes: Int = NumHashes, bandRows: Int = GateBandRows): DataFrame = {
    require(numHashes % bandRows == 0 && numHashes % 4 == 0,
      s"minhashCandidates: $numHashes hashes must tile $bandRows-row bands" +
        " and md5 quarters")
    // map-only: all numHashes minima in one compiled pass per document —
    // 4 hash functions per md5 call, each digest's 32 hex chars split into
    // 4 independent 8-char chunks, exactly the aggregate form the kernel
    // replaced
    val sig = arrs.select(col("doc_id"),
      call_function("minhash_signature", col("ss"), lit(numHashes)).as("mh"))
    val numBands = numHashes / bandRows
    // band value: md5 re-digests the band's hex signature slice
    def bandVal(b: Int): String = {
      val cols = (0 until bandRows).map(r => s"mh[${bandRows * b + r}]")
      s"md5(concat('$b|', ${cols.mkString(", ")}))"
    }
    val bands = sig.select(col("doc_id"),
      expr(s"stack($numBands, ${(0 until numBands).map(b =>
        s"'$b', ${bandVal(b)}").mkString(", ")})" +
        " AS (band_idx, band_val)"))
    bands.as("x").join(bands.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_val") === col("y.band_val") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
      // materialized: the pair set (bounded by the banding) feeds both
      // the intersection join and the doc-id prune in [[minhashVerify]] —
      // re-evaluating the signature/banding subtree per consumer
      // measurably dominates
      .transform(Scratch.pin(_))
  }

  /** q19's verify stage: exact shingle Jaccard over the candidate pairs
    * alone, with the shingle table semi-join-pruned to candidate docs
    * FIRST — at corpus scale the verify shuffle carries the candidate
    * docs' shingles (bounded by the banding), never the corpus. */
  private[graft] def minhashVerify(cand: DataFrame, sh: DataFrame): DataFrame = {
    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b"))).distinct()
    val shC = sh.join(candDocs, Seq("doc_id"), "left_semi")
    val sizes = shC.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = cand
      .join(shC.as("xa"), col("doc_a") === col("xa.doc_id"))
      .join(shC.as("xb"),
        col("doc_b") === col("xb.doc_id") && col("xa.s") === col("xb.s"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("i"))
    inter
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (col("i").cast(DoubleType) /
          (col("sa.n") + col("sb.n") - col("i"))).as("jac"))
      .filter(col("jac") >= JaccardThreshold)
      .select(col("doc_a"), col("doc_b"), stableRound(col("jac"), 4).as("jaccard"))
      .orderBy("doc_a", "doc_b")
      // eager: the near-dup pair set is tiny relative to the corpus;
      // materializing it here lets the caller drop the shingle cache
      .transform(Scratch.pin(_))
  }

  /** q19's pair derivation minus the presentation ORDER BY — reusable as a
    * subquery (q60's cluster oracle builds its edge list from it). */
  private val q19Core: String = {
    val mhCols = (0 until NumHashes)
      .map(k => s"min(substr(md5('${k / 4}:' || s), ${(k % 4) * 8 + 1}, 8)) AS mh$k")
      .mkString(", ")
    val bandRows = (0 until NumBands)
      .map(b => s"('$b', md5('$b|' || ${(0 until GateBandRows)
        .map(r => s"mh${GateBandRows * b + r}").mkString(" || ")}))")
      .mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text,' ') AS w FROM documents
       |  WHERE len(string_split(text,' ')) >= 3),
       |sh AS (
       |  SELECT DISTINCT doc_id, s FROM (
       |    SELECT doc_id, unnest(list_transform(range(len(w)-2),
       |            i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS s
       |    FROM toks)),
       |sig AS (SELECT doc_id, $mhCols FROM sh GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, b.* FROM sig,
       |  LATERAL (SELECT * FROM (VALUES $bandRows) t(band_idx, band_val)) b),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       |   AND a.doc_id < b.doc_id),
       |sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS i
       |  FROM cand c JOIN sh x ON x.doc_id = c.doc_a
       |              JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |       ${stableRoundSql("CAST(i AS DOUBLE)/(sa.n + sb.n - i)", 4)} AS jaccard
       |FROM inter JOIN sizes sa ON sa.doc_id = doc_a
       |           JOIN sizes sb ON sb.doc_id = doc_b
       |WHERE CAST(i AS DOUBLE)/(sa.n + sb.n - i) >= $JaccardThreshold""".stripMargin
  }

  val q19Sql: String = q19Core + "\nORDER BY doc_a, doc_b"

  // --- Q60: near-dup cluster resolution -------------------------------------

  /** The dedup DECISION step the pair list (q19) stops short of: near-dup
    * similarity is not transitive, but dedup policy treats it as if it were —
    * docs A~B and B~C must collapse to ONE survivor even when A~C was never
    * scored. So the pair graph's connected components ARE the dedup clusters:
    * each doc that appears in any pair gets its cluster's canonical
    * representative (the minimum doc_id — deterministic across runs and
    * engines), the cluster size, and a survivor flag.
    *
    * Scale shape: the pair set is bounded by the LSH banding (candidates
    * share a band bucket), so it is orders of magnitude smaller than the
    * corpus — [[Graph.ccStar]] then runs on pairs, not docs, and its
    * power-law-safe star rounds cost O(|pairs| · log d). The final corpus
    * action (drop non-survivors) is a broadcast anti-join of doc ids, never
    * a text shuffle. Oracle: an independent recursive-CTE transitive closure
    * over the SAME pair list (DuckDB `WITH RECURSIVE`), labeling each doc
    * with its minimum reachable doc_id — a different algorithm than the
    * star contraction, agreeing bit-for-bit. */
  /** Composable form over an already-materialized pair list (`doc_a`,
    * `doc_b`): production pipelines derive pairs ONCE (q19) and feed both
    * this and [[riskFromPairs]] from the same materialization — the gate
    * entry below re-derives them only because each gate query is
    * self-contained. */
  def clustersFromPairs(pairs: DataFrame): DataFrame = {
    val labels = Graph.ccStar(
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
    // cluster size as a window count, NOT a groupBy + join-back: the count
    // rides one shuffle over one evaluation of the (un-materialized)
    // ccStar output, where the join shape re-evaluated its closing
    // subtree per consumer and paid an extra exchange — the same swap
    // ccStar's own rounds use
    labels
      .select(col("node").as("doc_id"), col("label").as("rep_id"),
        count(lit(1)).over(Window.partitionBy("label")).as("cluster_size"),
        (col("node") === col("label")).as("is_rep"))
      .orderBy("doc_id")
  }

  def q60NeardupClusters(spark: SparkSession, dir: String): DataFrame =
    clustersFromPairs(q19MinhashPairs(spark, dir).select("doc_a", "doc_b"))

  val q60Sql: String =
    s"""WITH RECURSIVE pairs AS (SELECT doc_a, doc_b FROM ($q19Core)),
       |ed AS (SELECT doc_a AS u, doc_b AS v FROM pairs
       |       UNION SELECT doc_b, doc_a FROM pairs),
       |reach AS (
       |  SELECT u, u AS v FROM (SELECT DISTINCT u FROM ed)
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN ed e ON r.v = e.u),
       |comp AS (SELECT u AS doc_id, min(v) AS rep_id FROM reach GROUP BY u),
       |sz AS (SELECT rep_id, CAST(count(*) AS BIGINT) AS cluster_size
       |       FROM comp GROUP BY rep_id)
       |SELECT c.doc_id, c.rep_id, sz.cluster_size, c.doc_id = c.rep_id AS is_rep
       |FROM comp c JOIN sz USING (rep_id)
       |ORDER BY doc_id""".stripMargin

  // --- Q65: per-doc near-dup risk -------------------------------------------

  /** The per-document view of the pair list: each doc that appears in any
    * near-dup pair gets its NEAREST neighbor (highest Jaccard, doc_id
    * tie-break on the 4-decimal ROUNDED score both engines share) — the
    * dup-risk ranking used to tune the Jaccard threshold and to
    * prioritize review, completing the near-dup family: pairs (q19) →
    * clusters (q60) → per-doc risk (here). One window over the
    * banding-bounded symmetric pair list; the corpus is only touched by
    * q19's own scans. */
  /** Composable form over a materialized pair list (`doc_a`, `doc_b`,
    * `jaccard`) — see [[clustersFromPairs]] for the share-one-pair-scan
    * rationale. */
  def riskFromPairs(pairs: DataFrame): DataFrame = {
    val sym = pairs.select(col("doc_a").as("doc_id"),
        col("doc_b").as("nearest_id"), col("jaccard"))
      .unionByName(pairs.select(col("doc_b").as("doc_id"),
        col("doc_a").as("nearest_id"), col("jaccard")))
    sym.withColumn("rn", row_number().over(Window.partitionBy("doc_id")
        .orderBy(col("jaccard").desc, col("nearest_id"))))
      .filter(col("rn") === 1)
      .select("doc_id", "nearest_id", "jaccard")
      .orderBy("doc_id")
  }

  def q65NeardupRisk(spark: SparkSession, dir: String): DataFrame =
    riskFromPairs(q19MinhashPairs(spark, dir))

  val q65Sql: String =
    s"""WITH pairs AS ($q19Core),
       |sym AS (SELECT doc_a AS doc_id, doc_b AS nearest_id, jaccard
       |        FROM pairs
       |        UNION ALL SELECT doc_b, doc_a, jaccard FROM pairs)
       |SELECT doc_id, nearest_id, jaccard FROM (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id
       |            ORDER BY jaccard DESC, nearest_id) AS rn FROM sym)
       |WHERE rn = 1 ORDER BY doc_id""".stripMargin

  // --- Q20: SimHash fingerprints --------------------------------------------

  private val SimBits = 32

  /** `bits`-wide SimHash: one bit per md5 nibble's high bit, summed ±1 over
    * the document's tokens (with multiplicity); bit = 1 when the dimension
    * sum is >= 0. Near-dup docs differ in few bits (small Hamming
    * distance). Each group of 32 bits draws from one md5 per token (hash 0
    * is the plain `md5(t)` the q20 gate fixes; hash j salts with `"j:"`,
    * the same multi-hash derivation as q19's MinHash).
    *
    * MAP-ONLY via the native one-pass
    * [[graft.plans.SimhashBits simhash_bits]] kernel: a SimHash is a
    * per-document function, so an explode + `groupBy(doc_id).agg(sum ×
    * bits)` formulation would shuffle the corpus's whole token stream
    * (with a 32-hex-string projection per token) into a `bits`-way sum
    * aggregate for a per-row answer. The kernel computes the IDENTICAL
    * fingerprint the oracle does (same md5 family, same ±1/threshold
    * rule) with zero
    * exchange and zero per-token hex-string materialization.
    *
    * The NULL-text filter is row-domain parity with the aggregate form it
    * replaced, not an optimization: `explode(split(NULL, ' '))` emits no
    * rows, so a NULL-text doc had NO aggregate row (and the oracle's
    * `unnest(string_split(text))` drops it identically) — where a bare
    * map-only projection would EMIT the doc with a NULL fingerprint. The
    * adversarial-corpus replay caught exactly this drift (36 vs 35 rows)
    * when the kernel first landed without the filter; `split` never
    * returns an empty or null-element array for non-NULL text ("" →
    * [""]), so `text IS NOT NULL` is the exact row-domain condition. */
  def simhashBits(spark: SparkSession, dir: String, bits: Int): DataFrame =
    table(spark, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        call_function("simhash_bits",
          split(col("text"), " "), lit(bits)).as("simhash"))

  def q20Simhash(spark: SparkSession, dir: String): DataFrame =
    simhashBits(spark, dir, SimBits).orderBy("doc_id")

  private val q20Core: String = {
    val dims = (0 until SimBits).map(k =>
      s"""CASE WHEN sum(CASE WHEN substr(h, ${k + 1}, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) >= 0 THEN '1' ELSE '0' END""")
      .mkString(" ||\n       ")
    s"""SELECT doc_id, $dims AS simhash
       |FROM (SELECT doc_id, md5(t) AS h FROM (
       |        SELECT doc_id, unnest(string_split(text, ' ')) AS t
       |        FROM documents))
       |GROUP BY doc_id""".stripMargin
  }

  val q20Sql: String = q20Core + "\nORDER BY doc_id"

  // --- Q24: SimHash near-dup pairs via banding + native hamming_distance ----

  /** Near-dup pairs by banded SimHash: split `simBits`-wide fingerprints
    * into `numBands` bands, join only within a band bucket (pigeonhole:
    * hamming ≤ h is lossless whenever h < numBands — h differing bits can
    * dirty at most h bands), and score candidates with the native codegen'd
    * [[graft.plans.HammingDistance hamming_distance]] expression registered
    * through `SparkSessionExtensions`. Never an all-pairs cross join.
    *
    * Band COUNT is pigeonhole-OPTIMAL at `maxHamming + 1`: this banding is
    * exact (candidates are verified, recall is 1 by the pigeonhole bound),
    * so extra bands buy nothing — they only SHORTEN each band and loosen
    * its buckets. Measured at sf0.1: the old 4×8-bit config generated
    * 7.5M candidate pairs for 23k true pairs, while 2×16-bit bands are
    * lossless for the same hamming ≤ 1 and collapse the candidate set ~60×.
    * Band WIDTH (via `simBits`) stays the bucket-population dial for corpus
    * scale: a 10^9-doc corpus should run a 64-bit simhash (2×32-bit bands;
    * population shrinks ~2× per added band bit; asserted in PipelineSpec). */
  def simhashNeardupPairs(spark: SparkSession, dir: String,
      simBits: Int = SimBits, numBands: Int = 2,
      maxHamming: Long = 1L): DataFrame = {
    require(simBits % numBands == 0, s"$numBands bands must tile $simBits bits")
    require(maxHamming < numBands, "banding is lossless only for hamming < numBands")
    val w = simBits / numBands
    val stackArgs = (0 until numBands)
      .map(b => s"'$b', substring(simhash, ${b * w + 1}, $w)").mkString(", ")
    // NOTE: the fingerprint subtree feeds both sides of the self-join, but
    // its expensive part (the per-doc simhash_bits kernel) sits below the
    // band-bucket shuffle, which ReuseExchange dedupes — measured, an
    // explicit materialization barrier here is slightly SLOWER, not faster
    val bands = simhashBits(spark, dir, simBits).select(
      col("doc_id"), col("simhash"),
      expr(s"stack($numBands, $stackArgs) AS (band_idx, band_val)"))
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_val") === col("y.band_val") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.simhash").as("sa"), col("y.simhash").as("sb"))
      .distinct()
    cand
      .select(col("doc_a"), col("doc_b"),
        expr("hamming_distance(sa, sb)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .orderBy("doc_a", "doc_b")
  }

  def q24SimhashNeardup(spark: SparkSession, dir: String): DataFrame =
    simhashNeardupPairs(spark, dir)

  // --- Q26: winnowing document fingerprints (rolling k-gram hashes) ---------

  private val WinK = 8 // k-gram width in chars
  private val WinW = 4 // winnowing window (hashes per window)

  /** MOSS-style winnowing: hash every k-char-gram, slide a w-wide window
    * over the hash sequence, keep each window's minimum — the classic
    * position-robust document fingerprint (near-dup docs share most
    * fingerprints even under insertions/reordering). One scan, no shuffle
    * before the final ordering.
    *
    * The per-position k-gram hash is the native
    * [[graft.plans.RollingKgramHashes rolling_kgram_hashes]] Rabin–Karp
    * expression — O(1) arithmetic per character, where an
    * `md5(substring(...))`-per-position formulation pays a digest + string
    * allocation per character (8.3 s vs 2.9 s at sf0.1). The window minima
    * are the native one-pass [[graft.plans.WindowMins window_mins]] monotonic
    * deque: a `transform + array_min(slice(...))` form would be an
    * interpreted O(L·w) loop allocating a fresh w-element slice per character
    * — same values, O(L), zero per-position allocation. The oracle computes
    * the identical polynomial as a direct per-gram sum with the same
    * modulus. */
  def q26Winnowing(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .filter(length(col("text")) >= WinK + WinW - 1)
      .select(col("doc_id"),
        expr(s"rolling_kgram_hashes(text, $WinK)").as("h"))
      .select(col("doc_id"), explode(array_distinct(
        call_function("window_mins", col("h"), lit(WinW)))).as("fp"))
      .orderBy("doc_id", "fp")

  val q26Sql: String = {
    import graft.plans.RollingKgramHashes.{Mod, modPow}
    // the rolling hash as its direct k-term polynomial (identical value):
    // sum(code(i+j) * 257^(k-1-j)) mod 1e9+7, codes = unicode code points
    val terms = (0 until WinK)
      .map(j => s"CAST(c[i + ${j + 1}] AS BIGINT) * ${modPow(WinK - 1 - j)}")
      .mkString(" +\n          ")
    s"""SELECT doc_id, fp FROM (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(len(h) - ${WinW - 1}),
       |    j -> list_min(h[j+1 : j+$WinW])))) AS fp
       |  FROM (
       |    SELECT doc_id, list_transform(range(len(c) - ${WinK - 1}),
       |        i -> ($terms) % $Mod) AS h
       |    FROM (SELECT doc_id, list_transform(range(length(text)),
       |            i -> unicode(substr(text, i + 1, 1))) AS c
       |          FROM documents WHERE length(text) >= ${WinK + WinW - 1})))
       |ORDER BY doc_id, fp""".stripMargin
  }

  // --- Q29: deterministic corpus split --------------------------------------

  /** Deterministic hash-based train/val/test split (~80/10/10): a document's
    * split is a pure function of its id (salted md5, hex prefix compared
    * against fixed cut points), so it is stable across runs, executors, and
    * resharding, joinable from any table, and needs no global sort or
    * sampling pass — the standard corpus-split op of a training pipeline.
    * One narrow scan, zero shuffle (the trailing ORDER BY is gate-only). */
  def q29SampleSplit(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .select(col("doc_id"),
        substring(md5(concat(lit("split:"), col("doc_id").cast("string"))), 1, 2)
          .as("h"))
      .select(col("doc_id"),
        when(col("h") < "cd", "train").when(col("h") < "e6", "val")
          .otherwise("test").as("split"))
      .orderBy("doc_id")

  val q29Sql: String =
    """SELECT doc_id,
      |  CASE WHEN h < 'cd' THEN 'train' WHEN h < 'e6' THEN 'val' ELSE 'test' END AS split
      |FROM (SELECT doc_id, substr(md5('split:' || doc_id), 1, 2) AS h FROM documents)
      |ORDER BY doc_id""".stripMargin

  // --- Q30: end-to-end corpus curation --------------------------------------

  /** The pillars composed end-to-end, the way a 100 TB curation job actually
    * runs: quality gate (q16 `keep`) ∘ exact-dedup representatives (q18)
    * ∘ language filter (q17 predicts `en`).
    *
    * Deliberately NOT a composition of the three gated queries — that would
    * scan `documents` (i.e. re-read the text column) three times. All three
    * signals are projections of the same (doc_id, text) row, so they fuse
    * into ONE scan; the dedup representative is a min-window over the
    * content hash, whose shuffle carries only (doc_id, hash, two flags,
    * stats) — the text never moves. 1 scan + 1 shuffle total; equivalence
    * with the three-leg composition is asserted in PipelineSpec. */
  def q30Curation(spark: SparkSession, dir: String): DataFrame = {
    table(spark, dir, "documents")
      .select(col("doc_id"), col("text"), split(col("text"), " ").as("w"),
        split(lower(col("text")), " ").as("lw"))
      .select(col("doc_id"),
        size(col("w")).cast(LongType).as("n_tokens"),
        substring(md5(col("text")), 1, 16).as("fingerprint"),
        keepCol.as("keep"),
        isEnCol.as("is_en"),
        sha2(col("text"), 256).as("content_hash"))
      .withColumn("rep_doc_id",
        min(col("doc_id")).over(Window.partitionBy("content_hash")))
      .filter(col("keep") && col("is_en") && col("doc_id") === col("rep_doc_id"))
      .select("doc_id", "n_tokens", "fingerprint")
      .orderBy("doc_id")
  }

  lazy val q30Sql: String =
    s"""WITH stats AS ($q16Core),
       |lang AS ($q17Core),
       |reps AS (SELECT CAST(min(doc_id) AS BIGINT) AS doc_id
       |         FROM documents GROUP BY sha256(text))
       |SELECT s.doc_id, s.n_tokens, s.fingerprint
       |FROM stats s JOIN reps USING (doc_id) JOIN lang USING (doc_id)
       |WHERE s.keep AND lang.pred_lang = 'en'
       |ORDER BY s.doc_id""".stripMargin

  // --- Q47: Gopher-style repetition metrics ---------------------------------

  /** Per-document n-gram repetition signals (the "repetition" block of the
    * published Gopher quality heuristics): for n = 1, 2, 3, the fraction of
    * n-gram positions held by the single most frequent n-gram (`topN_frac`)
    * and by n-grams that occur more than once (`dupN_frac`). These flag
    * boilerplate / crawler-loop documents whose repetition is WITHIN one
    * document — invisible to exact (q18) and near (q19/q24) dedup, which
    * both compare across documents.
    *
    * Plan: a MAP-ONLY job. The metrics are per-document functions, so
    * shuffling gram-level rows across the cluster (explode + re-group by
    * doc shuffles ~3× the corpus's token stream for a per-row answer) buys
    * nothing: the native [[graft.plans.GramRunStats gram_run_stats]]
    * expression counts each row's grams in one compiled O(L) hash pass.
    * No gram ever leaves its row; the only exchange in the plan is the
    * gate's final doc_id sort. */
  def q47Repetition(spark: SparkSession, dir: String): DataFrame = {
    def stats(n: Int) = expr(s"gram_run_stats(w, $n)")
    def frac(s: Column, field: String) =
      when(s.getField("tot") > 0,
        stableRound(s.getField(field) / s.getField("tot"), 4))
    // NULL text produces zero gram rows in the oracle's unnest, so it must
    // drop the row here too (split(NULL) would otherwise keep it with NULL
    // fractions and break row parity)
    val withStats = table(spark, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"),
        stats(1).as("s1"), stats(2).as("s2"), stats(3).as("s3"))
    withStats.select(
      col("doc_id"),
      frac(col("s1"), "top").as("top1_frac"),
      frac(col("s1"), "dup").as("dup1_frac"),
      frac(col("s2"), "top").as("top2_frac"),
      frac(col("s2"), "dup").as("dup2_frac"),
      frac(col("s3"), "top").as("top3_frac"),
      frac(col("s3"), "dup").as("dup3_frac"))
      .orderBy("doc_id")
  }

  val q47Sql: String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |g AS (
      |  SELECT doc_id, 1 AS n, unnest(w) AS gram FROM w
      |  UNION ALL
      |  SELECT doc_id, 2 AS n, unnest(list_transform(range(1, len(w)),
      |    i -> w[i] || ' ' || w[i+1])) AS gram FROM w
      |  UNION ALL
      |  SELECT doc_id, 3 AS n, unnest(list_transform(range(1, len(w) - 1),
      |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram FROM w
      |),
      |c AS (SELECT doc_id, n, gram, count(*) AS cnt FROM g GROUP BY 1, 2, 3),
      |p AS (SELECT doc_id, n, max(cnt) AS top_cnt, sum(cnt) AS tot,
      |        sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup_cnt
      |      FROM c GROUP BY 1, 2)
      |SELECT doc_id,
      |  ${stableRoundSql("max(CASE WHEN n = 1 THEN top_cnt / tot END)", 4)} AS top1_frac,
      |  ${stableRoundSql("max(CASE WHEN n = 1 THEN dup_cnt / tot END)", 4)} AS dup1_frac,
      |  ${stableRoundSql("max(CASE WHEN n = 2 THEN top_cnt / tot END)", 4)} AS top2_frac,
      |  ${stableRoundSql("max(CASE WHEN n = 2 THEN dup_cnt / tot END)", 4)} AS dup2_frac,
      |  ${stableRoundSql("max(CASE WHEN n = 3 THEN top_cnt / tot END)", 4)} AS top3_frac,
      |  ${stableRoundSql("max(CASE WHEN n = 3 THEN dup_cnt / tot END)", 4)} AS dup3_frac
      |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --- Q48: benchmark decontamination by n-gram overlap ---------------------

  /** Benchmark decontamination — the published training-corpus hygiene step
    * (GPT-2/3-style n-gram overlap; 13-grams there, 8-grams here because the
    * synthetic docs are short): flag every corpus document sharing at least
    * one word 8-gram with a held-out benchmark set, with the count of
    * distinct shared grams as evidence. The benchmark stand-in is the
    * deterministic `doc_id % 7 == 0` sample; benchmark members themselves
    * are excluded from the output (they "contaminate" trivially).
    *
    * Scale shape: eval benchmarks are MBs even when the corpus is 100 TB, so
    * the distinct benchmark gram set is BROADCAST and corpus grams probe it
    * map-side — the corpus never shuffles on gram. Only hit rows (a tiny
    * fraction) reach the per-doc distinct-count aggregate. At real scale the
    * broadcast shrinks further by joining on `xxhash64(gram)` instead of the
    * gram text (not done here: the oracle has no xxhash64 twin). */
  def q48Decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val grams = table(spark, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), explode(Gram8Expr).as("gram"))
    val bench = grams.filter(col("doc_id") % 7 === 0).select("gram").distinct()
    grams.filter(col("doc_id") % 7 =!= 0)
      .join(broadcast(bench), "gram")
      .groupBy("doc_id")
      .agg(countDistinct(col("gram")).as("n_hits"))
      .orderBy("doc_id")
  }

  val q48Sql: String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |g AS (SELECT doc_id, unnest($Gram8Sql) AS gram FROM w),
      |b AS (SELECT DISTINCT gram FROM g WHERE doc_id % 7 = 0)
      |SELECT g.doc_id, CAST(count(DISTINCT g.gram) AS BIGINT) AS n_hits
      |FROM g JOIN b USING (gram)
      |WHERE g.doc_id % 7 <> 0
      |GROUP BY g.doc_id
      |ORDER BY g.doc_id""".stripMargin

  // --- Q49: deterministic stratified corpus mixing --------------------------

  /** Corpus-mixing rates: epochs-per-language. A rate below 1 downsamples
    * (the dominant stratum), above 1 upsamples by replication — the
    * standard way a training mix over/under-weights sources. */
  val MixRates: Seq[(String, Double)] = Seq(
    "en" -> 0.5, "fr" -> 2.25, "zh" -> 1.0, "es" -> 1.0, "de" -> 1.0)

  /** 4-hex-char md5-prefix threshold encoding P(extra copy) = frac(rate).
    * Shared by the Spark query and its oracle SQL so the encoding can never
    * desynchronize. Clamped to 0xffff: a fractional part close enough to 1
    * to round to 65536 would otherwise format as the 5-char "10000", which
    * sorts BELOW most 4-char prefixes and silently flips a ~1.0 keep
    * probability to ~1/16. */
  private def fracThr(r: Double): String =
    f"${math.min(math.round(r % 1.0 * 65536), 65535L)}%04x"

  /** Row-local `n_copies` draw shared by q49 and the q53 capstone: expects
    * `lang` and the salted-hash prefix `h` in scope. */
  private def nCopiesCol: Column = {
    val whole = MixRates.tail.foldLeft(
      when(col("lang") === MixRates.head._1, math.floor(MixRates.head._2))) {
      case (acc, (l, r)) => acc.when(col("lang") === l, math.floor(r))
    }.otherwise(1.0).cast(LongType)
    val thr = MixRates.tail.foldLeft(
      when(col("lang") === MixRates.head._1, fracThr(MixRates.head._2))) {
      case (acc, (l, r)) => acc.when(col("lang") === l, fracThr(r))
    }.otherwise("0000")
    whole + when(col("h") < thr, 1L).otherwise(0L)
  }

  private def mixHashCol: Column =
    substring(md5(concat(lit("mix:"), col("lang"), lit(":"),
      col("doc_id").cast("string"))), 1, 4)

  /** SQL twin of [[nCopiesCol]] (expects `lang` in scope; inlines the
    * hash). */
  private def nCopiesSql: String = {
    val whole = MixRates.map { case (l, r) =>
      s"WHEN lang = '$l' THEN ${math.floor(r).toLong}" }.mkString(" ")
    val thr = MixRates.map { case (l, r) =>
      s"WHEN lang = '$l' THEN '${fracThr(r)}'" }.mkString(" ")
    s"""(CASE $whole ELSE 1 END) +
       |    (CASE WHEN substr(md5('mix:' || lang || ':' || doc_id), 1, 4)
       |          < (CASE $thr ELSE '0000' END) THEN 1 ELSE 0 END)""".stripMargin
  }

  /** Stratified corpus mixing — the per-stratum generalization of q29's
    * deterministic split: each document draws `n_copies =
    * floor(rate(lang)) + [hash < frac(rate(lang))]` where the "draw" is a
    * salted md5 of (lang, doc_id). Deterministic ⇒ the mix is reproducible
    * across runs, reshards and engines (no RNG seed plumbing), and any
    * doc's fate is auditable after the fact. Zero shuffle: the predicate
    * and copy count are row-local; at 100 TB this is a map-only pass that
    * composes with the curation scan (q30) for free. */
  def q49StratifiedSample(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), mixHashCol.as("h"))
      .select(col("doc_id"), col("lang"), nCopiesCol.as("n_copies"))
      .filter(col("n_copies") > 0)
      .orderBy("doc_id")

  val q49Sql: String =
    s"""SELECT doc_id, lang, n_copies FROM (
       |  SELECT doc_id, lang,
       |    $nCopiesSql
       |    AS n_copies
       |  FROM documents)
       |WHERE n_copies > 0
       |ORDER BY doc_id""".stripMargin

  // --- Q50: sequence packing (concat-and-chunk) -----------------------------

  /** Sequence packing — the step that turns a curated document set into
    * fixed-budget training sequences: concatenate documents in a stable
    * order and cut every `PackBudget` tokens; a document belongs to the
    * chunk where it STARTS. Emits one row per chunk with its doc count,
    * token mass and doc-id range.
    *
    * Scale shape: the cumulative sum runs per SHARD (`doc_id % 16`), never
    * globally — a single global running sum would serialize the corpus
    * through one partition, while per-shard packing is exactly how
    * distributed training workers consume data anyway (each worker packs
    * its own shard). One hash exchange on shard, then window + aggregate
    * ride the same partitioning. */
  val PackBudget = 2048

  def q50Pack(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("shard").orderBy("doc_id")
    table(spark, dir, "documents")
      .select(col("doc_id"), (col("doc_id") % 16).as("shard"),
        size(split(col("text"), " ")).cast(LongType).as("n_tokens"))
      .withColumn("cum", sum("n_tokens").over(w))
      .withColumn("chunk_id",
        floor((col("cum") - col("n_tokens")) / PackBudget))
      .groupBy("shard", "chunk_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("shard", "chunk_id")
  }

  val q50Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, doc_id % 16 AS shard,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, shard, n_tokens,
       |    sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM d)
       |SELECT shard,
       |  CAST(floor((cum - n_tokens) / $PackBudget) AS BIGINT) AS chunk_id,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM c
       |GROUP BY 1, 2
       |ORDER BY shard, chunk_id""".stripMargin

  // --- Q51: corpus vocabulary (term + document frequency) -------------------

  /** The tokenizer-training / IDF corpus statistic: top-100 words by term
    * frequency with document frequency alongside. The cut is over the TOTAL
    * order (tf DESC, word ASC) so the top-k boundary is deterministic even
    * mid-tie.
    *
    * Scale shape: word counts are the canonical Zipf-skewed aggregation,
    * and partial (map-side) aggregation already neutralizes the skew — a
    * hot word like "the" leaves each partition as ONE combined row, so the
    * shuffle carries |distinct words per partition| rows regardless of how
    * lopsided the word distribution is. Document frequency adds the
    * (word, doc_id)-distinct pre-aggregate; the final top-k is a
    * TakeOrdered, never a global sort materialization. */
  def q51Vocab(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(desc("n_occurrences"), asc("word"))
      .limit(100)

  val q51Sql: String =
    """SELECT word, CAST(count(*) AS BIGINT) AS n_occurrences,
      |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
      |FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
      |      FROM documents)
      |GROUP BY word
      |ORDER BY n_occurrences DESC, word
      |LIMIT 100""".stripMargin

  // --- Q52: incremental dedup (new batch vs existing corpus) ----------------

  /** The corpus/batch stand-in split shared by q52 and q61 (and pinned by
    * q52's oracle SQL): `doc_id % 10 < 8` = existing corpus, rest = new
    * batch — ONE definition so the two physical strategies and the oracle
    * can never drift apart. */
  private def corpusBatchSplit(spark: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val hashed = table(spark, dir, "documents")
      .select(col("doc_id"), sha2(col("text"), 256).as("content_hash"))
    (hashed.filter(col("doc_id") % 10 < 8),
      hashed.filter(col("doc_id") % 10 >= 8))
  }

  /** The daily-crawl shape of exact dedup: an incoming batch is admitted
    * only where its content hash is absent from the EXISTING corpus, with
    * within-batch duplicates collapsed to their min-doc_id representative
    * (q18's rule). Stand-in partition on the driver's single table:
    * `doc_id % 10 < 8` = existing corpus, the rest = new batch.
    *
    * Scale shape: a LEFT ANTI join keyed on the 64-byte hash. At test
    * scale the corpus side sits under the broadcast threshold and the
    * planner rightly broadcasts it; at corpus scale the threshold excludes
    * it and the plan degrades gracefully to a shuffled anti-join with both
    * sides hash-partitioned on content_hash — 72 bytes/doc for the (tiny)
    * batch and the corpus's hash column only (never text). That scale plan
    * is pinned in PipelineSpec by disabling broadcast and asserting the
    * hash-partitioned LeftAnti with identical results. With the corpus
    * maintained hash-bucketed on disk the corpus-side exchange disappears
    * entirely and only the new batch shuffles into the bucketing — the
    * same co-located layout the triple store's `writeBucketed` merge uses.
    * NULL-equality discipline: the oracle uses NOT EXISTS (not NOT IN) so
    * a NULL hash on either side behaves exactly like Spark's anti-join —
    * never poisons the whole result. */
  def q52IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val (corpus, batch) = corpusBatchSplit(spark, dir)
    batch.join(corpus, Seq("content_hash"), "left_anti")
      .groupBy("content_hash")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_in_batch"))
      .select("doc_id", "content_hash", "n_in_batch")
      .orderBy("doc_id")
  }

  val q52Sql: String =
    """WITH h AS (SELECT doc_id, sha256(text) AS content_hash FROM documents),
      |c AS (SELECT content_hash FROM h WHERE doc_id % 10 < 8),
      |b AS (SELECT doc_id, content_hash FROM h WHERE doc_id % 10 >= 8)
      |SELECT CAST(min(b.doc_id) AS BIGINT) AS doc_id, b.content_hash,
      |       CAST(count(*) AS BIGINT) AS n_in_batch
      |FROM b
      |WHERE NOT EXISTS (SELECT 1 FROM c WHERE c.content_hash = b.content_hash)
      |GROUP BY b.content_hash
      |ORDER BY doc_id""".stripMargin

  // --- Q61: bloom-prefiltered incremental dedup -----------------------------

  /** q52's contract through a ZERO-corpus-shuffle physical strategy — the
    * daily-crawl shape at 100 TB, where the corpus is a thousand times the
    * batch and must never be repartitioned just to admit one day's crawl.
    *
    * Three-step plan, corpus touched only by map-side scans:
    *   1. `bloom_build` aggregates a bloom filter over the corpus hashes —
    *      map-side partial blooms, one merge whose exchange carries
    *      P·numBits/8 bytes (P = build partitions), never rows: KBs at
    *      gate sizing. No false negatives, so every batch row the probe
    *      rejects is DEFINITELY new and is admitted with no join at all —
    *      at a realistic dup rate that is almost the whole batch.
    *      Sizing law, measured at 10M keys (DedupScaleBench): each
    *      partial is a fixed numBits/8 bytes, so a per-batch REBUILD ships
    *      P·1.25 B/key at 10 bits/key — 191 MB with P=32 vs the anti-join's
    *      648 MB corpus shuffle, and coalescing the build scan (P=4) cuts
    *      it to 42 MB at a parallelism cost. The true 100 TB shape does
    *      not rebuild at all: the bloom is STATE, built once and updated
    *      with each batch's admitted hashes — SHIPPED as
    *      [[graft.operators.BloomIndex]] (gate q76): the stored-index
    *      admit ships 8.5 MB per batch at the same 10M-key shape, 22×
    *      under this rebuild and 76× under the anti-join.
    *   2. The few bloom-positive rows (true dups + the fp rate) have their
    *      hashes broadcast; a semi-join extracts the matching corpus hashes
    *      from another map-only corpus scan — the corpus side of the exact
    *      check never shuffles either.
    *   3. False positives are restored by an anti-join against that (tiny,
    *      broadcast) hit set. Result ≡ q52 exactly; the bloom only routes.
    *
    * The serialized filter travels as a SCALAR SUBQUERY (`Dataset.scalar`),
    * exactly how Spark's own runtime row-level filtering feeds
    * `might_contain`: the query constructs lazily (no driver job, no 128 KB
    * binary literal bloating every plan string and task), the filter is
    * built on executors when the query runs, and `ReuseSubquery` collapses
    * the three textual occurrences of the subquery into ONE execution per
    * action. Size `num_bits` to corpus cardinality (Spark's runtime
    * filtering uses this same expression pair with a 67 Mbit cap).
    * `coalesce(probe, false)` keeps the empty-corpus edge exact: a null
    * bloom admits everything, matching NOT EXISTS over an empty set.
    * The bloom-positive set is NOT checkpointed: recomputing it is a
    * map-only batch scan + probe, and pinning it would either eagerly run
    * a job at construction time or persist the whole batch — both worse
    * at 100 TB than the extra codegen'd scan. */
  def q61BloomDedup(spark: SparkSession, dir: String): DataFrame = {
    val (corpus, batch) = corpusBatchSplit(spark, dir)
    val bloom = corpus
      .select(call_function("bloom_build", xxhash64(col("content_hash")),
        lit(100000L), lit(1L << 20)).as("bf"))
      .scalar()
    val probed = batch.withColumn("maybe_dup",
      coalesce(call_function("bloom_might_contain", bloom,
        xxhash64(col("content_hash"))), lit(false)))
    val clean = probed.filter(!col("maybe_dup")).drop("maybe_dup")
    // tiny by construction (dups + fp rate); cheap to recompute (map-only)
    val pos = probed.filter(col("maybe_dup")).drop("maybe_dup")
    val hits = corpus
      .join(broadcast(pos.select("content_hash").distinct()),
        Seq("content_hash"), "left_semi")
      .select("content_hash").distinct()
    clean
      .unionByName(pos.join(broadcast(hits), Seq("content_hash"), "left_anti"))
      .groupBy("content_hash")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_in_batch"))
      .select("doc_id", "content_hash", "n_in_batch")
      .orderBy("doc_id")
  }

  /** The bloom path must be invisible in the result: q61's oracle IS q52's
    * NOT EXISTS relation. */
  val q61Sql: String = q52Sql

  // --- Q64: mixture planning ------------------------------------------------

  /** The data-mixing CALCULATOR (the step before q49's rate APPLICATION):
    * given per-source token masses and target mixture weights, derive each
    * source's epoch rate — how many times its tokens are seen per pass of
    * the re-mixed corpus — holding total token budget constant. Rates > 1
    * mean upsample-by-replication (q49's fr leg), < 1 mean downsample.
    * Published pipelines pin exactly this table (sampling proportions per
    * corpus); here the target weights derive deterministically from the
    * source name (id % 4 + 1, `try_cast`-guarded so an unparseable or NULL
    * source degrades to weight 1 identically in both engines) — swapping a
    * real policy table in changes nothing structural.
    *
    * Shape: one corpus scan → per-source token sums (tiny aggregate
    * shuffle) → 1-row totals broadcast back — the plan a 100 TB corpus
    * wants, since only (source, mass) pairs ever move. Float determinism:
    * masses and weights are exact integers; `share` and `epochs` are
    * single left-associated division chains on exact operands, rounded —
    * identical IEEE results in both engines. */
  def q64MixPlan(spark: SparkSession, dir: String): DataFrame = {
    val tok = table(spark, dir, "documents")
      .select(col("source"), split(col("text"), " ").as("w"))
      .groupBy("source")
      .agg(sum(size(col("w")).cast(LongType)).as("token_mass"))
      .withColumn("weight", coalesce(
        // uncapped suffix parse, mirroring the oracle's substr(source, 4):
        // try_cast already degrades overflow/garbage to NULL identically
        expr("try_cast(substr(source, 4) AS BIGINT)") % 4 + 1,
        lit(1L)))
    val totals = tok.agg(sum("token_mass").cast(DoubleType).as("b"),
      sum("weight").as("sw"))
    tok.crossJoin(broadcast(totals))
      .select(col("source"), col("token_mass"), col("weight"),
        stableRound(col("weight").cast(DoubleType) / col("sw"), 6).as("share"),
        stableRound(col("b") * col("weight") / col("sw") / col("token_mass"), 6)
          .as("epochs"))
      .orderBy("source")
  }

  val q64Sql: String =
    s"""WITH tok AS (
      |  SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT)
      |           AS token_mass
      |  FROM documents GROUP BY source),
      |tw AS (SELECT source, token_mass,
      |         coalesce(TRY_CAST(substr(source, 4) AS BIGINT) % 4 + 1,
      |                  1) AS weight
      |       FROM tok),
      |tot AS (SELECT CAST(sum(token_mass) AS DOUBLE) AS b,
      |               CAST(sum(weight) AS BIGINT) AS sw FROM tw)
      |SELECT source, token_mass, CAST(weight AS BIGINT) AS weight,
      |  ${stableRoundSql("CAST(weight AS DOUBLE) / sw", 6)} AS share,
      |  ${stableRoundSql("b * weight / sw / token_mass", 6)} AS epochs
      |FROM tw, tot ORDER BY source NULLS FIRST""".stripMargin

  // --- Q63: hashed-feature quality classifier -------------------------------

  private val ClfBuckets = 64
  private val ClfHalf = 8388608L // 2^23: centers the 6-hex-digit weight draw

  /** Classifier-based quality filtering (the GPT-3/LLaMA-style step that
    * replaces hand rules with a trained model) — here the fasttext-shaped
    * HASHED LINEAR scorer: token → feature-hash to one of 64 buckets →
    * per-bucket weight → document margin = Σ weights / n. The weight table
    * is a deterministic pseudo-weight draw (md5 of the bucket id) standing
    * in for trained weights; the plumbing IS the production shape — swap
    * the draw for a broadcast trained vector and nothing else changes.
    *
    * Engine-exactness by construction: weights are INTEGERS (6 hex digits
    * re-centered around 0), the margin is an exact row-local integer fold,
    * and the keep decision compares that integer against 0 — no float
    * enters until the single final division, performed once on exact
    * operands and rounded (both engines IEEE-754 + HALF_UP). Map-only:
    * one scan, one projection, no shuffle but the presentation sort. */
  def q63ClfScore(spark: SparkSession, dir: String): DataFrame = {
    val sInt = expr(
      s"""aggregate(transform(w, t ->
         |  CAST(conv(substr(md5(concat('w|',
         |    CAST(CAST(conv(substr(md5(concat('q63|', t)), 1, 4), 16, 10)
         |         AS BIGINT) % $ClfBuckets AS STRING))), 1, 6), 16, 10)
         |    AS BIGINT) - $ClfHalf),
         |  CAST(0 AS BIGINT), (acc, x) -> acc + x)""".stripMargin)
    table(spark, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), size(col("w")).cast(LongType).as("n_tokens"),
        sInt.as("s_int"))
      .select(col("doc_id"), col("n_tokens"),
        stableRound(col("s_int").cast(DoubleType) /
          (lit(ClfHalf.toDouble) * col("n_tokens")), 6).as("clf_score"),
        (col("s_int") > 0).as("keep_clf"))
      .orderBy("doc_id")
  }

  val q63Sql: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |s AS (SELECT doc_id, len(w) AS n, list_sum(list_transform(w, t ->
       |  CAST(('0x' || substr(md5('w|' || CAST(CAST(('0x' ||
       |    substr(md5('q63|' || t), 1, 4)) AS BIGINT) % $ClfBuckets
       |    AS VARCHAR)), 1, 6)) AS BIGINT) - $ClfHalf)) AS s_int FROM d)
       |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
       |  ${stableRoundSql(s"CAST(s_int AS DOUBLE)/($ClfHalf.0 * n)", 6)} AS clf_score,
       |  s_int > 0 AS keep_clf
       |FROM s ORDER BY doc_id""".stripMargin

  // --- Q62: per-source curation report --------------------------------------

  /** The source-level decision table (the RefinedWeb/C4-style "do we keep
    * this domain at all" dashboard): per source, document count, quality
    * keeps, exact-dup count, English share, token mass and mean length —
    * every signal row-local and shared verbatim with its per-doc leg (q16's
    * keep rule, q17's language argmax, q18's content hash), so the report
    * can never disagree with the pipeline that acts on it.
    *
    * One scan, one shuffle of (source, tiny aggregates); the only
    * non-trivially-combinable term is the exact distinct-hash count, whose
    * partial state is the hash set per (source, partition) — at corpus
    * scale swap `countDistinct` for `approx_count_distinct` (the mergeable
    * HLL twin q41 already property-tests) if sources are few and huge.
    * Conditional sums use explicit 0-else so NULL-text documents (adversarial
    * corpus) count as failures identically in both engines. */
  def q62SourceReport(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .select(col("source"), split(col("text"), " ").as("w"),
        split(lower(col("text")), " ").as("lw"),
        sha2(col("text"), 256).as("content_hash"))
      .select(col("source"), col("content_hash"),
        size(col("w")).cast(LongType).as("n_tokens"),
        when(keepCol, 1L).otherwise(0L).as("kept"),
        when(isEnCol, 1L).otherwise(0L).as("en"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("kept")).as("n_kept"),
        // dup count over NON-NULL hashes only: a NULL-text doc has no
        // content to collide on, and q52's NOT EXISTS never treats NULL
        // hashes as dups — count(col) skips NULLs to match
        (count(col("content_hash")) - countDistinct(col("content_hash")))
          .as("n_dup_docs"),
        sum(col("en")).as("n_en"),
        sum(col("n_tokens")).as("token_mass"),
        stableRound(sum(col("n_tokens")).cast(DoubleType) / count(lit(1)), 4)
          .as("avg_tokens"))
      .orderBy("source")

  val q62Sql: String =
    s"""WITH d AS (SELECT source, sha256(text) AS content_hash,
       |                  string_split(text, ' ') AS w,
       |                  string_split(lower(text), ' ') AS lw
       |           FROM documents)
       |SELECT source,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN $KeepSql THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(count(content_hash) - count(DISTINCT content_hash) AS BIGINT)
       |    AS n_dup_docs,
       |  CAST(sum(CASE WHEN $IsEnSql THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
       |  CAST(sum(len(w)) AS BIGINT) AS token_mass,
       |  ${stableRoundSql("CAST(sum(len(w)) AS DOUBLE)/count(*)", 4)} AS avg_tokens
       |FROM d GROUP BY source ORDER BY source NULLS FIRST""".stripMargin

  // --- Q53: capstone — corpus in, training batches out ----------------------

  /** The whole pipeline as ONE program: quality gate (q16's keep rule) ∘
    * exact-dedup representatives (q18/q30's min-doc_id rule) ∘ stratified
    * mix (q49's per-language copies; language weighting happens HERE, so no
    * separate language filter) ∘ benchmark decontamination (q48's 8-gram
    * probe) ∘ sequence packing (q50, with each doc's token mass scaled by
    * its mix copies). Output: one row per training chunk.
    *
    * Composition discipline, in the order a 100 TB job must apply it:
    * every row-local signal (quality, mix draw, token count, content hash)
    * computes in the ONE initial scan projection; the dedup winner is a
    * window riding a content_hash shuffle of hashes + a few longs (never
    * text); and gram EXPLOSION — the expensive part — runs only over the
    * docs that survived everything cheaper, probing the broadcast
    * benchmark gram set. Note the held-out benchmark docs remove
    * THEMSELVES here (their grams collide with their own benchmark set) —
    * the correct pipeline behavior: the eval set is never trained on.
    * Equivalence with the standalone q16/q18/q48/q49/q50 legs is asserted
    * in PipelineSpec by recomputing the chunk table from those queries'
    * outputs in plain Scala; the gate checks the composed result
    * end-to-end. */
  def q53CorpusToBatches(spark: SparkSession, dir: String): DataFrame = {
    val scored = table(spark, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("w"),
        sha2(col("text"), 256).as("content_hash"), mixHashCol.as("h"))
      .select(col("doc_id"), col("w"), col("content_hash"),
        size(col("w")).cast(LongType).as("n_tokens"),
        keepCol.as("keep"),
        nCopiesCol.as("n_copies"))
    // The curated set feeds two consumers (the contamination probe and the
    // pack input) whose differing projections defeat ReuseExchange — left
    // lazy, the scan + dedup window run once per consumer. Materialize it
    // ONCE, call-scoped (q19's pattern): this is exactly the "curated
    // corpus" checkpoint a real pipeline writes between curation and
    // packing rather than re-deriving curation per downstream job.
    Scratch.pinned(scored
      .withColumn("rep",
        min(col("doc_id")).over(Window.partitionBy("content_hash")))
      .filter(col("keep") && col("n_copies") > 0 && col("doc_id") === col("rep"))
      .select("doc_id", "w", "n_tokens", "n_copies")
      .cache()) { kept =>
      val bench = table(spark, dir, "documents")
        .filter(col("text").isNotNull && col("doc_id") % 7 === 0)
        .select(split(col("text"), " ").as("w"))
        .select(explode(Gram8Expr).as("gram")).distinct()
      val contaminated = kept.select(col("doc_id"), explode(Gram8Expr).as("gram"))
        .join(broadcast(bench), "gram").select("doc_id").distinct()
      val w16 = Window.partitionBy("shard").orderBy("doc_id")
      kept.join(contaminated, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), (col("doc_id") % 16).as("shard"),
          (col("n_tokens") * col("n_copies")).as("mass"))
        .withColumn("cum", sum("mass").over(w16))
        .withColumn("chunk_id", floor((col("cum") - col("mass")) / PackBudget))
        .groupBy("shard", "chunk_id")
        .agg(count(lit(1)).as("n_docs"), sum("mass").as("n_tokens"))
        .orderBy("shard", "chunk_id")
        // eager: the chunk table is tiny; materializing it here lets the
        // curated-set cache be released before returning
        .transform(Scratch.pin(_))
    }
  }

  val q53Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, lang, string_split(text, ' ') AS w,
       |         sha256(text) AS content_hash
       |  FROM documents WHERE text IS NOT NULL),
       |s AS (
       |  SELECT doc_id, w, content_hash,
       |    CAST(len(w) AS BIGINT) AS n_tokens,
       |    $KeepSql AS keep,
       |    $nCopiesSql AS n_copies
       |  FROM d),
       |r AS (SELECT *, min(doc_id) OVER (PARTITION BY content_hash) AS rep
       |      FROM s),
       |kept AS (SELECT doc_id, w, n_tokens, n_copies FROM r
       |         WHERE keep AND n_copies > 0 AND doc_id = rep),
       |bench AS (
       |  SELECT DISTINCT gram FROM (
       |    SELECT doc_id, unnest($Gram8Sql) AS gram
       |    FROM d WHERE doc_id % 7 = 0)),
       |contaminated AS (
       |  SELECT DISTINCT k.doc_id FROM (
       |    SELECT doc_id, unnest($Gram8Sql) AS gram
       |    FROM kept) k JOIN bench USING (gram)),
       |clean AS (
       |  SELECT doc_id, doc_id % 16 AS shard, n_tokens * n_copies AS mass
       |  FROM kept
       |  WHERE NOT EXISTS (SELECT 1 FROM contaminated c
       |                    WHERE c.doc_id = kept.doc_id)),
       |cm AS (
       |  SELECT shard, mass,
       |    sum(mass) OVER (PARTITION BY shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM clean)
       |SELECT shard,
       |  CAST(floor((cum - mass) / $PackBudget) AS BIGINT) AS chunk_id,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(mass) AS BIGINT) AS n_tokens
       |FROM cm
       |GROUP BY 1, 2
       |ORDER BY shard, chunk_id""".stripMargin

  val q24Sql: String =
    s"""WITH sh AS ($q20Core),
       |bands AS (
       |  SELECT doc_id, simhash, b.* FROM sh,
       |  LATERAL (SELECT * FROM (VALUES
       |    ('0', substr(simhash, 1, 16)), ('1', substr(simhash, 17, 16)))
       |    t(band_idx, band_val)) b),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |         x.simhash AS sa, y.simhash AS sb
       |  FROM bands x JOIN bands y
       |    ON x.band_idx = y.band_idx AND x.band_val = y.band_val
       |   AND x.doc_id < y.doc_id)
       |SELECT doc_a, doc_b,
       |       CAST(len(list_filter(range(32),
       |         i -> substr(sa, i+1, 1) <> substr(sb, i+1, 1))) AS BIGINT) AS hamming
       |FROM cand
       |WHERE len(list_filter(range(32),
       |        i -> substr(sa, i+1, 1) <> substr(sb, i+1, 1))) <= 1
       |ORDER BY doc_a, doc_b""".stripMargin

  // --- Q54: RAG-style overlapping chunking -----------------------------------

  /** Sliding-window chunking — the retrieval / context-window shape that cuts
    * each document into fixed-size token windows with overlap
    * (stride < size), so a fact straddling a cut still appears whole in the
    * next chunk. Emits one row per chunk with its token span and content
    * digest.
    *
    * Scale shape: pure row-local array work — the chunk list is built inside
    * ONE projection (no self-join, no window), then exploded; the only
    * exchange in the plan is the final presentation sort (plan-asserted in
    * CorpusOpsSpec). Chunk count per document is ceil(len/stride), so output
    * rows ≈ corpus_tokens/stride — linear in corpus size, and the text
    * column itself never moves through a shuffle. */
  val ChunkSize = 32
  val ChunkStride = 24

  def q54Chunks(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), posexplode(expr(
        // stepped sequence, NOT sequence+filter: a filter pass would
        // allocate a full n-element index array per row to keep n/24 of it
        s"""transform(sequence(0, size(w) - 1, $ChunkStride),
           |  s -> named_struct(
           |    'chunk_start', CAST(s AS BIGINT),
           |    'chunk_len', CAST(size(slice(w, s + 1, $ChunkSize)) AS BIGINT),
           |    'chunk_md5', md5(array_join(slice(w, s + 1, $ChunkSize), ' '))))"""
          .stripMargin)))
      .select(col("doc_id"), col("pos").cast(LongType).as("chunk_idx"),
        col("col.chunk_start"), col("col.chunk_len"), col("col.chunk_md5"))
      .orderBy("doc_id", "chunk_idx")

  val q54Sql: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |e AS (SELECT doc_id, w,
       |        unnest(range(0, len(w), $ChunkStride)) AS s
       |      FROM d)
       |SELECT doc_id,
       |  CAST(s // $ChunkStride AS BIGINT) AS chunk_idx,
       |  CAST(s AS BIGINT) AS chunk_start,
       |  CAST(len(w[s + 1 : s + $ChunkSize]) AS BIGINT) AS chunk_len,
       |  md5(array_to_string(w[s + 1 : s + $ChunkSize], ' ')) AS chunk_md5
       |FROM e ORDER BY doc_id, chunk_idx""".stripMargin

  // --- Q55: exact-k deterministic stratified sample --------------------------

  /** Exact-k per-stratum sampling — the corpus-inspection / eval-set draw
    * that needs EXACTLY k documents per source regardless of stratum size
    * (Bernoulli-rate draws — q49 — can't guarantee cardinality). The draw
    * key is a salted hash of doc_id, so the sample is stable across runs,
    * reshards and engine versions, and adding documents only perturbs the
    * selection locally (a new doc displaces at most one pick per stratum).
    *
    * Scale shape: one hash exchange on source + a per-group sort. k is tiny
    * and fixed; because rank is over a content-independent hash, the same
    * draw can run as a two-phase per-partition top-k then merge at cluster
    * scale with no correctness dependence on the physical path. */
  val SampleK = 5

  def q55GroupSample(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("source").orderBy("draw")
    table(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        // null-PROPAGATING concat (not concat_ws, which would skip a NULL
        // doc_id and hand it a real competing draw while the oracle's `||`
        // yields NULL — a latent cross-engine rank divergence)
        md5(concat(col("doc_id").cast("string"), lit(":q55"))).as("draw"))
      .withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= SampleK)
      .select("source", "rk", "doc_id", "draw")
      .orderBy("source", "rk")
  }

  val q55Sql: String =
    s"""SELECT source, rk, doc_id, draw FROM (
       |  SELECT doc_id, source, md5(doc_id || ':q55') AS draw,
       |    CAST(row_number() OVER (PARTITION BY source
       |      ORDER BY md5(doc_id || ':q55')) AS BIGINT) AS rk
       |  FROM documents)
       |WHERE rk <= $SampleK ORDER BY source NULLS FIRST, rk""".stripMargin

  // --- Q56: TF-IDF keyword extraction ----------------------------------------

  /** Top-3 TF-IDF terms per document — the classic keyword/salience
    * extraction a corpus-indexing pipeline runs next to q51's vocabulary.
    * Ranking uses the ROUNDED score (desc, then term asc) so rank is
    * insensitive to last-ulp transcendental (`ln`) differences between
    * engines: mathematically-equal scores computed through different
    * expression shapes tie at 4 decimals and fall through to the term
    * tie-break in both engines.
    *
    * Scale shape: the corpus is scanned and tokenized exactly ONCE
    * (plan-asserted) — term frequencies are one map-side-combined aggregate
    * on (doc_id, word), and document frequency is a window count over the
    * SAME tf relation (`count over (partition by word)`: one tf row per
    * (doc, word), so the per-word row count IS df). A separate
    * `terms.groupBy(word)` branch reads cleaner but costs a second full
    * corpus scan + explode — the optimizer prunes the two subtrees
    * differently, so ReuseExchange never fires on them. Only the 1-row
    * corpus count joins in as a broadcast; the per-doc top-3 then rides a
    * doc_id exchange of the tf relation. */
  def q56TfidfKeywords(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val terms = docs.select(col("doc_id"),
      explode(split(lower(col("text")), " ")).as("word"))
    val tf = terms.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id").orderBy(desc("score"), asc("word"))
    tf.withColumn("df", count(lit(1)).over(Window.partitionBy("word")))
      .crossJoin(broadcast(n))
      // double-round guard: tf·ln(N/df) passes through two
      // different libm `ln`s (JVM vs DuckDB's C), so a last-ulp difference
      // could land either side of a raw 4-digit half boundary. Snapping to
      // 9 decimals first collapses both engines' values onto the same
      // 9-digit decimal unless the score sits within one ulp of a 9-digit
      // boundary AND that boundary is itself a 4-digit half — ~5 orders of
      // magnitude rarer than the raw risk. That residual is the documented
      // exposure; rank ties are already insensitive (rounded-score ordering
      // + term tie-break). Both stages are StableRound, which admits
      // d > 4: with the builtin, the two engines' rounds THEMSELVES
      // disagree at .xx5 shortest-repr boundaries, stacking a second
      // divergence class on top of the libm one.
      .withColumn("score",
        stableRound(stableRound(col("tf").cast(DoubleType) *
          log(col("n_docs").cast(DoubleType) / col("df").cast(DoubleType)),
          9), 4))
      .withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("word"), col("tf"), col("score"))
      .orderBy("doc_id", "rk")
  }

  val q56Sql: String =
    s"""WITH terms AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
      |  FROM documents),
      |tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
      |       FROM terms GROUP BY 1, 2),
      |idf AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
      |scored AS (
      |  SELECT doc_id, word, tf,
      |    ${stableRoundSql(
             stableRoundSql("CAST(tf AS DOUBLE) * ln(n_docs / df)", 9),
             4)} AS score
      |  FROM tf JOIN idf USING (word), n),
      |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
      |        ORDER BY score DESC, word) AS BIGINT) AS rk FROM scored)
      |SELECT doc_id, rk, word, tf, score FROM r
      |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin

  // --- Q59: PII scrubbing -----------------------------------------------------

  /** Regex PII scrub — emails, IPv4 addresses and phone-shaped numbers are
    * counted per document and redacted to typed placeholders, with the
    * digest of the redacted text as the gate value. The synthetic corpus is
    * PII-free by construction, so the gate query PLANTS a deterministic PII
    * payload derived from doc_id into every document first (both engines
    * plant the identical payload): the scrubber is exercised on every row
    * instead of vacuously passing over clean text. Patterns stick to the
    * character-class/quantifier subset that Java regex (Spark) and RE2
    * (DuckDB) evaluate identically — no lookaround, no backreferences, no
    * anchors, no escapes.
    *
    * Scale shape: map-only — the injection, three count extractions and the
    * three-pass redaction all fuse into one codegen'd projection over one
    * scan; the only exchange is the presentation sort. */
  private[graft] val EmailPat =
    "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[.][a-zA-Z]{2,}"
  private[graft] val Ipv4Pat =
    "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"
  private[graft] val PhonePat = "[0-9]{3}[-][0-9]{3}[-][0-9]{4}"

  /** The three redaction passes in order (email first: its pattern is the
    * only one that can contain the others' alphabets as substrings). */
  private[graft] def scrubPii(c: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(c,
      lit(EmailPat), lit("<EMAIL>")),
      lit(Ipv4Pat), lit("<IP>")),
      lit(PhonePat), lit("<PHONE>"))

  def q59PiiScrub(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .select(col("doc_id"), concat(
        col("text"), lit(" reach user"), col("doc_id").cast("string"),
        lit("@mail.example.com or 10."),
        (col("doc_id") % 200).cast("string"), lit(".0.7 tel "),
        lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0")).as("t"))
      .select(col("doc_id"),
        size(expr(s"regexp_extract_all(t, '$EmailPat', 0)"))
          .cast(LongType).as("n_emails"),
        size(expr(s"regexp_extract_all(t, '$Ipv4Pat', 0)"))
          .cast(LongType).as("n_ipv4"),
        size(expr(s"regexp_extract_all(t, '$PhonePat', 0)"))
          .cast(LongType).as("n_phone"),
        md5(scrubPii(col("t"))).as("clean_md5"))
      .orderBy("doc_id")

  val q59Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    text || ' reach user' || doc_id || '@mail.example.com or 10.' ||
       |    (doc_id % 200) || '.0.7 tel ' ||
       |    lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-555-' ||
       |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(t, '$EmailPat')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(t, '$Ipv4Pat')) AS BIGINT) AS n_ipv4,
       |  CAST(len(regexp_extract_all(t, '$PhonePat')) AS BIGINT) AS n_phone,
       |  md5(regexp_replace(regexp_replace(regexp_replace(t,
       |    '$EmailPat', '<EMAIL>', 'g'),
       |    '$Ipv4Pat', '<IP>', 'g'),
       |    '$PhonePat', '<PHONE>', 'g')) AS clean_md5
       |FROM d ORDER BY doc_id""".stripMargin
}
