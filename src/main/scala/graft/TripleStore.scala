package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, TimestampType}

/** Core data model: the timestamped RDF triple `(subject, predicate, object,
  * ts)` — the single abstraction of the reference triple store (row shape at
  * `MongoDBConnector.py:88`, Postgres DDL columns `PostgreSQLDBConnector.py:110`,
  * SQLite `SQLite3DBConnector.py:100`). The logical key is
  * `(subject, predicate)` (`MongoDBConnector.py:61`), and `ts` is the
  * last-writer-wins version (`MongoDBConnector.py:145-150`).
  *
  * Spark-native choices vs the reference:
  *   - timestamps are epoch-millis `BIGINT` (`ts_ms`) instead of the
  *     reference's `"%Y-%m-%d %H:%M:%S.%f"` strings (`MongoDBConnector.py:69`):
  *     store once, parse never, and comparisons codegen to long compares.
  *   - the triple table is derived from the driver's TPC-H-ish parquet with a
  *     single-scan `stack` generator per source table (one pass over orders /
  *     customer / nation — no repeated scans), not a 6-way self-union. At
  *     100 TB each input is read exactly once and the generator is
  *     whole-stage-codegen'd.
  *   - range sharding on `(subject, predicate)` (`MasterServer.py:59-63`,
  *     notebook cells 1/4) maps to [[writeSharded]]: `repartitionByRange` +
  *     `sortWithinPartitions`, giving parquet row-group min/max skipping and
  *     partition pruning instead of a coordinator routing table.
  */
object TripleStore {

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** `<prefix_k>` entity encoding, mirroring the reference's YAGO entity
    * strings like `<Jaroslav_Volek>` (notebook cell 0). */
  private def ent(prefix: String, c: Column): Column =
    concat(lit(s"<${prefix}_"), c.cast(StringType), lit(">"))

  /** Millis-epoch of a (possibly NTZ) parquet timestamp; session TZ is UTC so
    * NTZ wall time == instant, matching DuckDB's `epoch_ms` on naive reads. */
  private def tsMs(c: Column): Column = unix_millis(c.cast(TimestampType))

  /** The canonical triple view: 3 triples per order, 2 per customer, 1 per
    * nation. Derived deterministically so the DuckDB oracle ([[TriplesCte]])
    * can rebuild the identical table. One `stack` generator per source scan. */
  def triples(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders").select(
      ent("order", col("o_orderkey")).as("subject"),
      expr(
        """stack(3,
          |  '<hasStatus>',   o_orderstatus,
          |  '<hasPriority>', o_orderpriority,
          |  '<orderedBy>',   concat('<cust_', cast(o_custkey as string), '>')
          |) AS (predicate, object)""".stripMargin),
      tsMs(col("o_orderdate")).as("ts_ms"))
    val c = table(spark, dir, "customer").select(
      ent("cust", col("c_custkey")).as("subject"),
      expr(
        """stack(2,
          |  '<inNation>',   concat('<nation_', cast(c_nationkey as string), '>'),
          |  '<hasSegment>', c_mktsegment
          |) AS (predicate, object)""".stripMargin),
      lit(0L).as("ts_ms"))
    val n = table(spark, dir, "nation").select(
      ent("nation", col("n_nationkey")).as("subject"),
      lit("<inRegion>").as("predicate"),
      ent("region", col("n_regionkey")).as("object"),
      lit(0L).as("ts_ms"))
    val cols = Seq("subject", "predicate", "object", "ts_ms").map(col)
    o.select(cols: _*).unionByName(c.select(cols: _*)).unionByName(n)
  }

  /** O1 point scan by subject (`MongoDBConnector.py:26-43`): equality filter +
    * projection. Catalyst pushes the predicate into the orders/customer/nation
    * parquet scans via the generator's child constraints. */
  def search(spark: SparkSession, dir: String, subject: String): DataFrame =
    triples(spark, dir).filter(col("subject") === lit(subject))

  /** Deterministic synthetic update set for the LWW paths (Q2/Q3):
    *  - overwrite branch: every 7th order's `<hasStatus>` with an EQUAL
    *    timestamp — proves "explicit update always overwrites"
    *    (`MongoDBConnector.py:73`, no ts guard on the direct-update path);
    *  - insert branch: every 11th order gets a brand-new `<hasNote>` key
    *    (`MongoDBConnector.py:89` insert path). */
  def updates(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders")
    val overw = o.filter(col("o_orderkey") % 7 === 0).select(
      ent("order", col("o_orderkey")).as("subject"),
      lit("<hasStatus>").as("predicate"),
      lit("UPDATED").as("object"),
      tsMs(col("o_orderdate")).as("ts_ms"))
    val ins = o.filter(col("o_orderkey") % 11 === 0).select(
      ent("order", col("o_orderkey")).as("subject"),
      lit("<hasNote>").as("predicate"),
      concat(lit("note-"), col("o_orderkey").cast(StringType)).as("object"),
      (tsMs(col("o_orderdate")) + 1000L).as("ts_ms"))
    overw.unionByName(ins)
  }

  /** Deterministic "remote node" changelog for the anti-entropy merge (Q3,
    * `MongoDBConnector.py:116-165`): every 3rd order's `<hasStatus>`; even
    * orderkeys are one day newer (remote wins strict `>`), odd ones carry an
    * EQUAL timestamp (local wins the tie, comparator at
    * `MongoDBConnector.py:150`). */
  def remoteChangelog(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders")
    o.filter(col("o_orderkey") % 3 === 0).select(
      ent("order", col("o_orderkey")).as("subject"),
      lit("<hasStatus>").as("predicate"),
      lit("REMOTE").as("object"),
      (tsMs(col("o_orderdate")) +
        when(col("o_orderkey") % 2 === 0, lit(86400000L)).otherwise(lit(0L))
      ).as("ts_ms"))
  }

  /** Range-sharded layout (O16/O17, notebook cells 1+4;
    * `MasterServer.py:59-63`): global range partition on the logical key +
    * in-partition sort, so point/range queries get partition pruning and
    * parquet row-group min/max skipping. This replaces the reference's
    * coordinator-side `getShardID` routing (`MasterServer.py:77-87`). */
  def writeSharded(df: DataFrame, path: String, numShards: Int): Unit =
    df.repartitionByRange(numShards, col("subject"), col("predicate"))
      .sortWithinPartitions("subject", "predicate")
      .write.mode("overwrite").parquet(path)

  /** O20 dynamic reshard (`MasterServer.py:270-289`, node re-pull
    * `MongoNodeServer.py:46-52`): re-range-partition an existing sharded
    * store N→M. The reference re-pulls every node's rows through the
    * coordinator row-by-row; here it is one distributed read + one
    * range-shuffled write — a single wide job whose cost is one pass over
    * the store, after which point lookups prune against the NEW boundaries
    * (same min/max mechanics, [[searchSharded]]). */
  def reshard(spark: SparkSession, fromPath: String, toPath: String,
      numShards: Int): Unit =
    writeSharded(spark.read.parquet(fromPath), toPath, numShards)

  /** Z-ordered store layout: the two-dimensional generalization of
    * [[writeSharded]] for the store's own key plane. Range-sharding on
    * `subject` alone leaves `predicate` un-clustered — every order file
    * spans the full predicate range, so a predicate-only probe scans the
    * whole store. Here each STRING dimension is first rank-bucketed into
    * 256 equal-frequency buckets against sampled order-statistic
    * boundaries (the native O(log n) [[graft.plans.RangeBucket]]; strings
    * have no min-max scale), the two bucket ranks are Morton-interleaved by
    * the native `zorder_key`, and the store is range-partitioned + sorted by
    * the z-key. Files then carry NARROW min/max stats on BOTH columns, so
    * subject-only AND predicate-only probes skip most files/row-groups
    * (asserted vs the subject-sharded layout in TripleStoreSpec).
    *
    * Scale shape: one bounded, seeded sample per dimension (256 · 20 rows to
    * the driver — what Spark's own RangePartitioner does), then a map-only
    * z-key projection and ONE range shuffle; driver memory is O(buckets),
    * never O(rows). The count/sample jobs are write-time layout costs, the
    * same class as [[reshard]]'s full pass. */
  def writeZOrdered(df: DataFrame, path: String, numShards: Int): Unit = {
    val n = 255
    val rows = df.count()
    // equal-frequency cut points from a deterministic bounded sample; with
    // few distinct heavy values (the predicate dimension) duplicates
    // collapse via .distinct and ranks simply spread by frequency
    def bounds(c: String): Seq[String] = {
      val target = (n + 1) * 20L
      val frac = math.min(1.0, target.toDouble / math.max(rows, 1L))
      // sort in CODE-POINT order — the order RangeBucket buckets in — not
      // JVM String's UTF-16 code-unit order, so supplementary-plane strings
      // get their quantile cut points picked under the same order they are
      // applied (equal-frequency buckets stay equal-frequency)
      val s = df.select(col(c).cast(StringType)).na.drop()
        .sample(withReplacement = false, frac, 42L)
        .collect().map(_.getString(0))
        .sorted(graft.plans.RangeBucket.codePointOrdering)
      if (s.isEmpty) Seq.empty
      else (1 to n).map(i => s(((i.toLong * s.length) / (n + 1)).toInt)).distinct
    }
    val sB = bounds("subject")
    val pB = bounds("predicate")
    // scale each dimension's bucket rank into the FULL bit budget: a
    // low-cardinality dimension (predicate has ~6 distinct values, so ~5
    // post-distinct boundaries) would otherwise only populate low-order
    // bits and the interleave would be dominated by the other dimension
    def rank(c: String, bs: Seq[String]): Column = {
      val r = graft.plans.RangeBucket.shardId(col(c), bs).cast("bigint")
      floor(r * n.toLong / math.max(bs.length, 1).toLong).cast("bigint")
    }
    val zk = call_function("zorder_key",
      rank("subject", sB), rank("predicate", pB))
    df.withColumn("zkey", zk)
      .repartitionByRange(numShards, col("zkey"), col("subject"),
        col("predicate"))
      .sortWithinPartitions("zkey", "subject", "predicate")
      .drop("zkey")
      .write.mode("overwrite").parquet(path)
  }

  /** Shard counts of the [[shardedPath]] and [[reshardedPath]] layouts. */
  private val ShardedShards = 3
  private val ReshardedShards = 5

  /** Once-per-JVM materialization of [[triples]] as a sharded layout
    * (one write job, reused by every subsequent sharded query — the Spark
    * analog of the reference's one-off preprocessing notebook). */
  def shardedPath(spark: SparkSession, dir: String): String =
    Scratch.once(("sharded", dir)) {
      val out = Scratch.path(spark, "graft_sharded")
      writeSharded(triples(spark, dir), out, ShardedShards)
      out
    }

  /** O1 over the materialized sharded layout: the scale path for point
    * lookups. Unlike [[search]] (which must scan all base tables because the
    * subject is a runtime `concat`), this filter reaches a plain parquet
    * scan: pushed to the reader, pruned to the one range shard whose
    * min/max covers the subject, and row-group-skipped within it — the
    * Spark replacement for `getShardID` O(1) routing
    * (`MasterServer.py:77-87`). */
  def searchSharded(spark: SparkSession, dir: String, subject: String): DataFrame =
    spark.read.parquet(shardedPath(spark, dir))
      .filter(col("subject") === lit(subject))

  /** Once-per-JVM materialization of [[triples]] as the z-ordered
    * layout ([[writeZOrdered]]) — the two-dimensional serving layout. */
  def zOrderedPath(spark: SparkSession, dir: String): String =
    Scratch.once(("zordered", dir)) {
      val out = Scratch.path(spark, "graft_zordered")
      writeZOrdered(triples(spark, dir), out, 8)
      out
    }

  /** Point probe over the z-ordered layout on either/both key dimensions —
    * the serving twin of [[searchSharded]] for predicate-shaped access.
    * Both filters push to the parquet reader; because the layout clusters
    * BOTH columns, a subject-only probe AND a predicate-only probe each
    * skip most files/row-groups by min/max (the subject-sharded layout can
    * only prune subjects — TripleStoreSpec compares them). */
  def searchZOrdered(spark: SparkSession, dir: String,
      subject: Option[String] = None,
      predicate: Option[String] = None): DataFrame = {
    require(subject.nonEmpty || predicate.nonEmpty,
      "searchZOrdered needs at least one probe dimension")
    val base = spark.read.parquet(zOrderedPath(spark, dir))
    val withS = subject.fold(base)(s => base.filter(col("subject") === lit(s)))
    predicate.fold(withS)(p => withS.filter(col("predicate") === lit(p)))
  }

  /** Once-per-JVM O20 exercise: the 3-shard layout resharded to 5, so
    * the gate query pays the reshard job once per JVM. */
  def reshardedPath(spark: SparkSession, dir: String): String =
    Scratch.once(("resharded", dir)) {
      val out = Scratch.path(spark, "graft_resharded")
      reshard(spark, shardedPath(spark, dir), out, ReshardedShards)
      out
    }

  /** O22 metadata/describe surface (`MasterServer.py:435-463`): row counts
    * and key ranges per LOGICAL shard — a static range map over the entity
    * prefixes, the Spark twin of the reference's declared `SHARDING` dict
    * (`MasterServer.py:59-63`). Note this is the declared routing map, not
    * the physical split: `repartitionByRange` samples its own boundaries at
    * write time, and physical pruning comes from parquet min/max, not this
    * map. A store resharded via [[reshard]] (q28) still reports THIS
    * declared map — mirroring the reference, whose `SHARDING` dict is
    * equally static across reshards; [[describeShardsFromLayout]] is the
    * dynamic twin that derives the map from a layout's parquet footers. */
  def describeShards(spark: SparkSession, dir: String): DataFrame =
    triples(spark, dir)
      .withColumn("shard_id",
        when(col("subject") < "<nation_", lit(1L))
          .when(col("subject") < "<order_", lit(2L))
          .otherwise(lit(3L)))
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_rows"),
        min(col("subject")).as("min_subject"),
        max(col("subject")).as("max_subject"),
        countDistinct(col("predicate")).as("n_predicates"))
      .orderBy("shard_id")

  // lazy: TriplesCte is declared later in this object body
  lazy val DescribeShardsSql: String =
    s"""WITH $TriplesCte
       |SELECT CASE WHEN subject < '<nation_' THEN 1
       |            WHEN subject < '<order_' THEN 2 ELSE 3 END AS shard_id,
       |       CAST(count(*) AS BIGINT) AS n_rows,
       |       min(subject) AS min_subject, max(subject) AS max_subject,
       |       CAST(count(DISTINCT predicate) AS BIGINT) AS n_predicates
       |FROM triples GROUP BY 1 ORDER BY shard_id""".stripMargin

  /** O22 over a PHYSICAL layout: per-shard row
    * counts and actual key bounds for a [[writeSharded]]/[[reshard]]-ed
    * store, derived from the layout's PARQUET FOOTERS alone — file row
    * counts plus the subject column's chunk min/max statistics — so the
    * describe reads O(#shards) metadata blocks and ZERO data pages. This is
    * the dynamic twin of [[describeShards]]'s declared routing map: after a
    * reshard it reports the NEW physical boundaries (the map
    * `repartitionByRange` actually sampled), which is what an operator
    * pointing lookups at the store needs. Driver-side by design: a describe
    * surface over a bounded shard count, the same class as the reference's
    * `SHARDING` dict dump (`MasterServer.py:435-463`). */
  def describeShardsFromLayout(spark: SparkSession, path: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(path)
    val files = root.getFileSystem(conf).listStatus(root)
      .filter(_.getPath.getName.startsWith("part-"))
      .sortBy(_.getPath.getName)
    val rows = files.zipWithIndex.map { case (f, i) =>
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
      try {
        val blocks = rd.getFooter.getBlocks.asScala
        val nRows = blocks.map(_.getRowCount).sum
        // keep only stats that actually CARRY a value: parquet-mr omits
        // min/max for an all-null chunk or drops oversized binary stats,
        // and genericGetMin on such a Statistics object returns null
        val subjStats = blocks.flatMap(_.getColumns.asScala
          .find(_.getPath.toDotString == "subject").map(_.getStatistics))
          .filter(s => s != null && s.hasNonNullValue)
        def bin(b: Any): String = new String(
          b.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes, "UTF-8")
        // combine per-block stats under CODE-POINT order — the unsigned
        // byte order parquet computed them in — not JVM UTF-16 order
        val cpo = graft.plans.RangeBucket.codePointOrdering
        (i.toLong, nRows,
          subjStats.map(s => bin(s.genericGetMin)).minOption(cpo).orNull,
          subjStats.map(s => bin(s.genericGetMax)).maxOption(cpo).orNull,
          f.getPath.getName)
      } finally rd.close()
    }
    spark.createDataFrame(rows.toSeq)
      .toDF("shard_id", "n_rows", "min_subject", "max_subject", "file")
      .orderBy("shard_id")
  }

  /** Q84: [[describeShardsFromLayout]] driver-gated — the footer-derived
    * PHYSICAL shard map (O22's live analog of the reference's `SHARDING`
    * dump, `MasterServer.py:435-463`) finally executing in the gate, over
    * BOTH serving layouts: the 3-shard store and its 5-shard reshard
    * (proving the describe sees the NEW boundaries q15's static declared
    * map cannot). Two claims, split across the two check layers:
    *
    *  - EXACTNESS of the footer map is asserted in-run: the per-file
    *    (rows, min/max subject) from the parquet FOOTERS must equal a
    *    distributed recomputation from the DATA pages
    *    (`groupBy(input_file_name())`), keyed by file name — truncated or
    *    dropped statistics, a miscounted block, or code-unit/-point order
    *    divergence fails loudly here (the driver-side compare is over
    *    O(#shards) rows, the describe surface's own bound);
    *  - the HASHED relation is the per-layout roll-up of the footer map
    *    (shard count, total rows, global subject bounds — aggregated from
    *    the footers, NOT from the data), which the DuckDB twin re-derives
    *    from the triples relation. The physical split boundaries
    *    themselves are `repartitionByRange`'s sampled choice and so have
    *    no corpus-derivable oracle — they are exactly what the in-run
    *    equality pins instead. Shard counts are pinned to the layouts'
    *    configured 3/5 (an empty range partition writes no file and would
    *    break this — loudly, which is the right behavior for a describe
    *    surface that feeds routing). */
  def q84LayoutDescribe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cpo = graft.plans.RangeBucket.codePointOrdering
    val rows = Seq(
      ("sharded3", shardedPath(spark, dir), ShardedShards),
      ("resharded5", reshardedPath(spark, dir), ReshardedShards)).map {
      case (label, path, nExpect) =>
        val footer = describeShardsFromLayout(spark, path)
          .select("file", "n_rows", "min_subject", "max_subject")
          .as[(String, Long, String, String)].collect().sortBy(_._1).toSeq
        auditFooterMap(spark, path, label, footer)
        require(footer.size == nExpect,
          s"q84 $label: expected $nExpect shard files, found " +
            s"${footer.size} — an empty range partition wrote no file")
        (label, footer.size.toLong, footer.map(_._2).sum,
          footer.map(_._3).min(cpo), footer.map(_._4).max(cpo))
    }
    rows.toDF("layout", "n_shards", "n_rows", "min_subject", "max_subject")
      .orderBy("layout")
  }

  /** The q84 audit stays EXACT only while the store is small: a validity
    * proof that rescans the whole corpus inside a "describe" would be a
    * full table scan at 100× (the operator itself is footer-only). Above
    * this row bound — known from the FOOTERS, so deciding costs no scan —
    * the audit samples instead. */
  private[graft] val FooterAuditMaxRows = 1000000L

  /** Footer-vs-data exactness audit for a shard layout: recompute
    * (rows, min/max subject) from the DATA pages and require equality
    * with the footer-derived map. At or below `maxExactRows` TOTAL rows
    * (per the footers themselves) every file is audited — the gate
    * corpora stay on this exact branch; above it, a deterministic
    * 3-file sample (first, middle, last shard in file-name order — the
    * two boundary shards plus an interior one) bounds the audit to O(3
    * files) whatever the store size, which is the only honest cost for a
    * describe surface at 100 TB. Returns the audited file names so
    * TripleStoreSpec can pin BOTH branch behaviors. */
  private[graft] def auditFooterMap(spark: SparkSession, path: String,
      label: String, footer: Seq[(String, Long, String, String)],
      maxExactRows: Long = FooterAuditMaxRows): Seq[String] = {
    import spark.implicits._
    // BOTH branches first reconcile the directory's file LISTING against
    // the footer map's file set — an FS metadata op, zero data pages, so
    // it is honest at any store size. It covers the sampled branch's
    // orphan blind spot: a foreign data file (any non-`part-` name from
    // another writer — invisible to describeShardsFromLayout's footer
    // walk, yet read by every store consumer) fails the audit above
    // maxExactRows too, where the 3-file data sample could never meet it.
    val root = new org.apache.hadoop.fs.Path(path)
    val listed = root.getFileSystem(spark.sessionState.newHadoopConf())
      .listStatus(root).toSeq.map(_.getPath.getName)
      .filter(n => !n.startsWith("_") && !n.startsWith("."))
    require(listed.toSet == footer.map(_._1).toSet,
      s"q84 $label: directory listing diverged from the footer map — " +
        s"orphan or missing data file:\n  listed:  ${listed.sorted}\n" +
        s"  footers: ${footer.map(_._1).sorted}")
    val exact = footer.map(_._2).sum <= maxExactRows
    val picked =
      if (exact) footer
      else Seq(0, footer.size / 2, footer.size - 1).distinct.map(footer)
    // the exact branch reads the WHOLE DIRECTORY, not the footer-listed
    // files: an orphan data file the footer walk skipped (a non-`part-`
    // name from a foreign writer — invisible to describeShardsFromLayout
    // yet read by every store consumer) then surfaces as a footer-vs-data
    // mismatch instead of silently escaping the audit; the
    // sampled branch necessarily names its files explicitly.
    val actual = (if (exact) spark.read.parquet(path)
      else spark.read.parquet(picked.map(f => s"$path/${f._1}"): _*))
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n_rows"), min(col("subject")).as("mn"),
        max(col("subject")).as("mx"))
      .as[(String, Long, String, String)].collect()
      .map { case (f, n, mn, mx) => (f.split('/').last, n, mn, mx) }
      .sortBy(_._1).toSeq
    require(picked.sortBy(_._1) == actual,
      s"q84 $label: footer-derived map diverged from the data:\n" +
        s"  footers: ${picked.sortBy(_._1)}\n  data:    $actual")
    picked.map(_._1)
  }

  lazy val Q84Sql: String =
    s"""WITH $TriplesCte,
       |t AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
       |             min(subject) AS min_subject, max(subject) AS max_subject
       |      FROM triples)
       |SELECT 'resharded5' AS layout, CAST(5 AS BIGINT) AS n_shards,
       |       n_rows, min_subject, max_subject FROM t
       |UNION ALL
       |SELECT 'sharded3', CAST(3 AS BIGINT), n_rows, min_subject,
       |       max_subject FROM t
       |ORDER BY layout""".stripMargin

  /** Bucketed layout on the logical key: `bucketBy(subject, predicate)` +
    * in-bucket sort. Two tables bucketed the same way join/aggregate on the
    * key with NO shuffle exchange — the co-located-join story for repeated
    * LWW merges at 100 TB (every anti-entropy round shuffles nothing;
    * compare the reference, which ships whole modification dicts over HTTP
    * per merge, `MasterServer.py:398-408`). Requires a catalog table
    * (bucket metadata lives in the metastore). */
  def writeBucketed(df: DataFrame, tableName: String, numBuckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(numBuckets, "subject", "predicate")
      .sortBy("subject", "predicate")
      .format("parquet")
      .saveAsTable(tableName)

  /** Drop a catalog table AND recursively clear its managed warehouse
    * location: a crashed previous run can leave a non-empty location
    * (`_temporary/...` staging trees) with no catalog entry, and
    * `saveAsTable` refuses to reuse it. Deleted through the warehouse's
    * Hadoop `FileSystem`, the one `saveAsTable` wrote it through. */
  private[graft] def dropTableAndLocation(spark: SparkSession,
      table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // the catalog lowercases unquoted identifiers (caseSensitive=false
    // default), so the managed location on disk is the LOWERCASED name —
    // resolving the as-passed mixed case would leave the real directory
    // behind, recreating the stale-location failure this helper prevents
    val wh = new Path(spark.conf.get("spark.sql.warehouse.dir"))
    wh.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(new Path(wh, table.toLowerCase(java.util.Locale.ROOT)), true)
    ()
  }

  /** Once-per-JVM materialization of the (store, remote changelog) pair
    * as co-bucketed catalog tables — the layout under which every
    * anti-entropy round is Exchange-free
    * ([[graft.operators.Lww.mergeCoLocated]]). Returns the table names. */
  def bucketedMergeTables(spark: SparkSession, dir: String,
      numBuckets: Int = 4): (String, String) = {
    // names are a pure function of (dir, numBuckets); only the writes are
    // memoized. The hashCode suffix keeps the tag injective — sanitization
    // alone could collapse distinct dirs ("/x/sf0.1" vs "/x/sf0_1") onto
    // one catalog table name
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_") +
      "_" + java.lang.Integer.toHexString(dir.hashCode) + s"_$numBuckets"
    val local = s"graft_store_bkt$tag"
    val remote = s"graft_remote_bkt$tag"
    Scratch.once(("bucketed", dir, numBuckets)) {
      // a previous crashed run may have left managed locations behind
      // without catalog entries; saveAsTable refuses to reuse them
      Seq(local, remote).foreach(t => dropTableAndLocation(spark, t))
      // compact both sides first: mergeCoLocated is a full-outer join that
      // REQUIRES at-most-one row per logical key per side (a duplicated key
      // would fan out into a per-key cross product), and the raw triple
      // derivation only happens to be key-unique on benign corpora — an
      // adversarial corpus with duplicated source keys must land here
      // already holding the materialized-store invariant. Compaction keeps
      // the same final winners (graft.operators.Lww.compact scaladoc).
      writeBucketed(operators.Lww.compact(triples(spark, dir)),
        local, numBuckets)
      writeBucketed(operators.Lww.compact(remoteChangelog(spark, dir)),
        remote, numBuckets)
    }
    (local, remote)
  }

  /** SQL-text surface (reference parity: ALL access to the reference store
    * is external queries against named collections, `MasterServer.py:292-330`):
    * register the canonical tables as temp views so q1/q2/q3 run as
    * `spark.sql` text — `triples`, `updates`, `remote_changelog`, and
    * `store_sharded` (the materialized range-sharded layout, point-lookup
    * pruning included). Combined with the `lww_object` function injected by
    * [[graft.plans.GraftExtensions]], a SQL-only client needs no Scala API
    * at all. */
  def registerViews(spark: SparkSession, dir: String): Unit = {
    triples(spark, dir).createOrReplaceTempView("triples")
    updates(spark, dir).createOrReplaceTempView("updates")
    remoteChangelog(spark, dir).createOrReplaceTempView("remote_changelog")
    spark.read.parquet(shardedPath(spark, dir))
      .createOrReplaceTempView("store_sharded")
  }

  /** O15 bulk TSV load (`MongoDBConnector.py:224-264`): one distributed scan
    * with an explicit schema — not 10.2M per-row upserts — parsing the
    * reference's `"%Y-%m-%d %H:%M:%S.%f"` timestamp strings
    * (`MongoDBConnector.py:69`) once at the boundary into epoch millis. */
  def fromTsv(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("sep", "\t")
      .option("quote", "\u0000") // plain TSV: no CSV quoting in the wire format
      // explicit even though false is the READ default: the write side's
      // default is TRUE and silently trims boundary whitespace -- pin both
      // directions so the wire carries values verbatim
      .option("ignoreLeadingWhiteSpace", value = false)
      .option("ignoreTrailingWhiteSpace", value = false)
      .schema("subject STRING, predicate STRING, object STRING, ts STRING")
      .csv(path)
      .select(col("subject"), col("predicate"), col("object"),
        // strict wire format with 1–6 fraction digits (Python %f,
        // MongoDBConnector.py:145); anything else — tz suffixes, 'T'
        // separators — fails to NULL rather than silently reinterpreting
        unix_millis(to_timestamp(col("ts"),
          "yyyy-MM-dd HH:mm:ss[.SSSSSS][.SSSSS][.SSSS][.SSS][.SS][.S]"))
          .as("ts_ms"))

  /** TSV export in the reference's wire format (plain tab-separated, no
    * quoting — values must not contain tabs/newlines, true of YAGO entity
    * strings; timestamps back to `"%Y-%m-%d %H:%M:%S.%f"`) — [[fromTsv]]'s
    * inverse, so a reference deployment can round-trip its data. */
  def writeTsv(df: DataFrame, path: String): Unit =
    df.select(col("subject"), col("predicate"), col("object"),
        date_format(timestamp_millis(col("ts_ms")),
          "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"))
      .write.mode("overwrite")
      .option("sep", "\t").option("quote", "\u0000")
      // Spark's CSV WRITER trims boundary whitespace BY DEFAULT
      // (ignoreLeading/TrailingWhiteSpace default true on write, unlike
      // read): ' leading' silently leaves the wire as 'leading'. Found by
      // q73's min/max(object) integrity probe on the adversarial corpus.
      .option("ignoreLeadingWhiteSpace", value = false)
      .option("ignoreTrailingWhiteSpace", value = false)
      .csv(path)

  /** Once-per-JVM TSV materialization of [[triples]] via [[writeTsv]] —
    * the write half of the q73 gate round-trip, memoized like
    * [[shardedPath]] so Bench's repeated runs pay the export once. */
  def tsvPath(spark: SparkSession, dir: String): String =
    Scratch.once(("tsv", dir)) {
      val out = Scratch.path(spark, "graft_tsv")
      writeTsv(triples(spark, dir), out)
      out
    }

  /** O15's gate entry (q73): the bulk TSV path driver-gated end-to-end.
    * [[writeTsv]] exports the store in the reference's wire format
    * (`MongoDBConnector.py:224-264`), [[fromTsv]] bulk-loads it back, and
    * the gate aggregates per predicate with count, ts bounds AND object
    * bounds — so the string columns and the `%f` timestamp format must
    * BOTH round-trip exactly for the parquet-side oracle ([[Q73Sql]]) to
    * hash-match. The object bounds are the VALUE-integrity probe: counts
    * alone can't see a mangled byte, but min/max(object) — UTF-8 binary
    * order in both engines — shift if the wire corrupts a domain-extreme
    * value (the adversarial corpus plants astral/200-char/backslash
    * statuses at those extremes for exactly this check). Scale shape: one
    * distributed export + one distributed load + a 6-row aggregate; no
    * driver materialization anywhere. */
  def q73TsvRoundtrip(spark: SparkSession, dir: String): DataFrame =
    fromTsv(spark, tsvPath(spark, dir))
      .groupBy("predicate")
      .agg(count(lit(1)).as("n_rows"),
        min(col("ts_ms")).as("min_ts"),
        max(col("ts_ms")).as("max_ts"),
        min(col("object")).as("min_obj"),
        max(col("object")).as("max_obj"))
      .orderBy("predicate")

  lazy val Q73Sql: String =
    s"""WITH $TriplesCte
       |SELECT predicate, CAST(count(*) AS BIGINT) AS n_rows,
       |       min(ts_ms) AS min_ts, max(ts_ms) AS max_ts,
       |       min(object) AS min_obj, max(object) AS max_obj
       |FROM triples GROUP BY predicate ORDER BY predicate""".stripMargin

  /** JSONL sink — the reference's actual wire format: its master relays
    * rows as JSON over HTTP (`MasterServer.py:327`, node responses
    * `MongoNodeServer.py:75`). One JSON object per line, so the files split
    * cleanly across readers at any scale. */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.select(col("subject"), col("predicate"), col("object"), col("ts_ms"))
      .write.mode("overwrite").json(path)

  // ---------------------------------------------------------------------------
  // DuckDB oracle twins (driver runs these on the same parquet tables).
  // ---------------------------------------------------------------------------

  /** SQL CTE rebuilding [[triples]] exactly (DuckDB dialect). */
  val TriplesCte: String =
    """triples AS (
      |  SELECT '<order_' || o_orderkey || '>' AS subject, '<hasStatus>' AS predicate,
      |         o_orderstatus AS object, epoch_ms(o_orderdate) AS ts_ms FROM orders
      |  UNION ALL
      |  SELECT '<order_' || o_orderkey || '>', '<hasPriority>', o_orderpriority,
      |         epoch_ms(o_orderdate) FROM orders
      |  UNION ALL
      |  SELECT '<order_' || o_orderkey || '>', '<orderedBy>', '<cust_' || o_custkey || '>',
      |         epoch_ms(o_orderdate) FROM orders
      |  UNION ALL
      |  SELECT '<cust_' || c_custkey || '>', '<inNation>', '<nation_' || c_nationkey || '>',
      |         CAST(0 AS BIGINT) FROM customer
      |  UNION ALL
      |  SELECT '<cust_' || c_custkey || '>', '<hasSegment>', c_mktsegment,
      |         CAST(0 AS BIGINT) FROM customer
      |  UNION ALL
      |  SELECT '<nation_' || n_nationkey || '>', '<inRegion>', '<region_' || n_regionkey || '>',
      |         CAST(0 AS BIGINT) FROM nation
      |)""".stripMargin

  /** SQL CTE rebuilding [[updates]]. */
  val UpdatesCte: String =
    """updates AS (
      |  SELECT '<order_' || o_orderkey || '>' AS subject, '<hasStatus>' AS predicate,
      |         'UPDATED' AS object, epoch_ms(o_orderdate) AS ts_ms
      |  FROM orders WHERE o_orderkey % 7 = 0
      |  UNION ALL
      |  SELECT '<order_' || o_orderkey || '>', '<hasNote>', 'note-' || o_orderkey,
      |         epoch_ms(o_orderdate) + 1000
      |  FROM orders WHERE o_orderkey % 11 = 0
      |)""".stripMargin

  /** SQL CTE rebuilding [[remoteChangelog]]. */
  val RemoteCte: String =
    """remote AS (
      |  SELECT '<order_' || o_orderkey || '>' AS subject, '<hasStatus>' AS predicate,
      |         'REMOTE' AS object,
      |         epoch_ms(o_orderdate)
      |           + (CASE WHEN o_orderkey % 2 = 0 THEN 86400000 ELSE 0 END) AS ts_ms
      |  FROM orders WHERE o_orderkey % 3 = 0
      |)""".stripMargin
}
