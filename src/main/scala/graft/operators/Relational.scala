package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

import graft.TripleStore
import graft.functions.StableRound.{stableRound, stableRoundSql}

/** Relational capability closure Q4–Q10 (+ batch tumbling windows, the batch
  * twin of Q11) over the driver tables — SURVEY §2.2/§2.3. The reference only
  * ever filters by subject and counts (`MongoDBConnector.py:38-40`,
  * `len(rows)` at `:40`); everything here is the declarative closure any
  * "same capabilities, Spark-native" engine inherits from the DataFrame API.
  *
  * Every query has a DuckDB oracle twin (the `*Sql` constants) with
  * column-name and column-type parity (BIGINT for all integer outputs,
  * doubles rounded to 2 at the boundary) so the driver's hash compare is
  * exact.
  */
object Relational {

  import TripleStore.{table, triples}

  /** events.ts normalized to epoch millis the same way DuckDB's
    * `epoch_ms(CAST(ts AS TIMESTAMP))` does (floor to ms), whatever the
    * parquet physical type: generations of the driver testdata have carried
    * BOTH timestamp[ns] (surfaced as raw ns longs under `nanosAsLong`) and
    * timestamp[us] (surfaced as a timestamp), so every consumer — main and
    * spec — must dispatch on the schema, never assume one. */
  private[graft] def eventTsMs(df: DataFrame): Column =
    df.schema("ts").dataType match {
      case LongType => expr("ts div 1000000")
      case _        => unix_millis(col("ts").cast(TimestampType))
    }

  // --- Q4: full scan + counts by predicate (rollup gives the <ALL> row) -----

  def q4ScanCounts(spark: SparkSession, dir: String): DataFrame =
    triples(spark, dir)
      .rollup(col("predicate"))
      .agg(count(lit(1)).as("cnt"), countDistinct(col("subject")).as("n_subj"))
      .select(coalesce(col("predicate"), lit("<ALL>")).as("predicate"),
        col("cnt"), col("n_subj"))
      .orderBy("predicate")

  val q4Sql: String =
    s"""WITH ${TripleStore.TriplesCte}
       |SELECT COALESCE(predicate, '<ALL>') AS predicate,
       |       CAST(count(*) AS BIGINT) AS cnt,
       |       CAST(count(DISTINCT subject) AS BIGINT) AS n_subj
       |FROM triples GROUP BY ROLLUP(predicate) ORDER BY predicate""".stripMargin

  // --- Q5a: 3-way equi join + aggregate -------------------------------------
  // No broadcast hints: customer scales with the data (billions of rows at
  // 100 TB), so a forced broadcast is an executor-OOM hazard. AQE picks
  // broadcast at small SFs from observed sizes and shuffle joins at scale;
  // only genuinely bounded dims (nation=25, region=5) would earn a hint.

  def q5JoinAgg(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem")
    val o  = table(spark, dir, "orders")
    val c  = table(spark, dir, "customer")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_li"),
        // stableRound everywhere a rounded double is hashed: the builtin
        // diverges between engines at .xx5 shortest-repr boundaries
        // (StableRound's scaladoc; migrated gate-wide in r16)
        stableRound(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"))
      .orderBy("c_mktsegment")
  }

  val q5JoinAggSql: String =
    s"""SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_li,
      |       ${stableRoundSql("sum(l_extendedprice * (1.0 - l_discount))", 2)} AS revenue
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // --- Q5b: 2-hop graph traversal as a triple self-join ---------------------

  def q5TwoHop(spark: SparkSession, dir: String): DataFrame = {
    val t = triples(spark, dir)
    val a = t.filter(col("predicate") === "<orderedBy>")
      .select(col("subject").as("order_subj"), col("object").as("mid"))
    val b = t.filter(col("predicate") === "<inNation>")
      .select(col("subject").as("mid2"), col("object").as("nation"))
    a.join(b, col("mid") === col("mid2"))
      .select(col("order_subj"), col("nation"))
      .orderBy("order_subj", "nation")
  }

  val q5TwoHopSql: String =
    s"""WITH ${TripleStore.TriplesCte}
       |SELECT a.subject AS order_subj, b.object AS nation
       |FROM triples a JOIN triples b ON a.object = b.subject
       |WHERE a.predicate = '<orderedBy>' AND b.predicate = '<inNation>'
       |ORDER BY order_subj, nation""".stripMargin

  // --- Q5c: semi + anti joins ----------------------------------------------

  def q5SemiAnti(spark: SparkSession, dir: String): DataFrame = {
    val c = table(spark, dir, "customer")
    val o = table(spark, dir, "orders")
    val semi = c.join(o.filter(col("o_orderstatus") === "F"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(lit("has_f_order").as("tag"), col("c_custkey"))
    val anti = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(lit("no_orders").as("tag"), col("c_custkey"))
    semi.unionByName(anti).orderBy("tag", "c_custkey")
  }

  val q5SemiAntiSql: String =
    """SELECT 'has_f_order' AS tag, c_custkey FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
      |UNION ALL
      |SELECT 'no_orders', c_custkey FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY tag, c_custkey""".stripMargin

  // --- Q6: grouped aggregates incl. exact distinct --------------------------

  def q6GroupAggs(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("cnt"),
        countDistinct(col("l_partkey")).as("n_parts"),
        stableRound(sum(col("l_quantity")), 2).as("sum_qty"),
        stableRound(sum(col("l_extendedprice")), 2).as("sum_price"),
        unix_millis(min(col("l_shipdate").cast(TimestampType))).as("min_ship_ms"),
        unix_millis(max(col("l_shipdate").cast(TimestampType))).as("max_ship_ms"))
      .orderBy("l_returnflag", "l_linestatus")

  val q6Sql: String =
    s"""SELECT l_returnflag, l_linestatus,
      |       CAST(count(*) AS BIGINT) AS cnt,
      |       CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
      |       ${stableRoundSql("sum(l_quantity)", 2)} AS sum_qty,
      |       ${stableRoundSql("sum(l_extendedprice)", 2)} AS sum_price,
      |       epoch_ms(min(l_shipdate)) AS min_ship_ms,
      |       epoch_ms(max(l_shipdate)) AS max_ship_ms
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // --- Q7: window functions: ranking, lag, running frame --------------------

  /** The window ORDER BY must be total — the driver's lineitem has duplicate
    * `(l_orderkey, l_linenumber)` pairs (118k at sf0.1), and with ties
    * row_number/lag/running-sum are engine-dependent. Adding
    * `(l_partkey, l_suppkey)` makes the key unique at every SF (verified with
    * DuckDB), and both tie-break columns are projected so the output key is
    * unique too. */
  def q7Windows(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("l_orderkey")
      .orderBy("l_linenumber", "l_partkey", "l_suppkey")
    table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"),
        row_number().over(w).cast(LongType).as("rn"),
        lag(col("l_quantity"), 1).over(w).as("prev_qty"),
        stableRound(sum(col("l_quantity"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2)
          .as("run_qty"))
      .orderBy("l_orderkey", "rn")
  }

  val q7Sql: String =
    s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
      |       row_number() OVER w AS rn,
      |       lag(l_quantity, 1) OVER w AS prev_qty,
      |       ${stableRoundSql("sum(l_quantity) OVER " +
                 "(w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)", 2)} AS run_qty
      |FROM lineitem
      |WINDOW w AS (PARTITION BY l_orderkey
      |             ORDER BY l_linenumber, l_partkey, l_suppkey)
      |ORDER BY l_orderkey, rn""".stripMargin

  // --- Q8: global sort + limit; top-k per group -----------------------------

  def q8SortLimit(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)

  val q8SortLimitSql: String =
    """SELECT o_orderkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin

  def q8TopkGroup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    table(spark, dir, "customer")
      .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
        row_number().over(w).cast(LongType).as("rn"))
      .filter(col("rn") <= 3)
      .orderBy("c_mktsegment", "rn")
  }

  val q8TopkGroupSql: String =
    """SELECT c_mktsegment, c_custkey, c_acctbal, rn FROM (
      |  SELECT c_mktsegment, c_custkey, c_acctbal,
      |         row_number() OVER (PARTITION BY c_mktsegment
      |                            ORDER BY c_acctbal DESC, c_custkey) AS rn
      |  FROM customer)
      |WHERE rn <= 3 ORDER BY c_mktsegment, rn""".stripMargin

  // --- Q9: set operations + distinct ----------------------------------------

  def q9SetOps(spark: SparkSession, dir: String): DataFrame = {
    val c = table(spark, dir, "customer")
    val s1 = c.filter(col("c_acctbal") > 0).select(col("c_custkey"))
    val s2 = c.filter(col("c_nationkey") < 13).select(col("c_custkey"))
    def tagCount(tag: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("cnt")).select(lit(tag).as("op"), col("cnt"))
    tagCount("distinct_seg", c.select(col("c_mktsegment")).distinct())
      .unionByName(tagCount("except", s1.except(s2)))
      .unionByName(tagCount("intersect", s1.intersect(s2)))
      .unionByName(tagCount("union", s1.union(s2).distinct()))
      .orderBy("op")
  }

  val q9Sql: String =
    """SELECT 'distinct_seg' AS op,
      |       CAST(count(*) AS BIGINT) AS cnt
      |       FROM (SELECT DISTINCT c_mktsegment FROM customer)
      |UNION ALL SELECT 'except', CAST(count(*) AS BIGINT) FROM (
      |  SELECT c_custkey FROM customer WHERE c_acctbal > 0
      |  EXCEPT SELECT c_custkey FROM customer WHERE c_nationkey < 13)
      |UNION ALL SELECT 'intersect', CAST(count(*) AS BIGINT) FROM (
      |  SELECT c_custkey FROM customer WHERE c_acctbal > 0
      |  INTERSECT SELECT c_custkey FROM customer WHERE c_nationkey < 13)
      |UNION ALL SELECT 'union', CAST(count(*) AS BIGINT) FROM (
      |  SELECT c_custkey FROM customer WHERE c_acctbal > 0
      |  UNION SELECT c_custkey FROM customer WHERE c_nationkey < 13)
      |ORDER BY op""".stripMargin

  // --- Q10: string/date scalar functions ------------------------------------

  def q10ScalarFuncs(spark: SparkSession, dir: String): DataFrame = {
    val ts = col("o_orderdate").cast(TimestampType)
    table(spark, dir, "orders").select(
      col("o_orderkey"),
      regexp_replace(
        concat(lit("<order_"), col("o_orderkey").cast("string"), lit(">")),
        "^<|>$", "").as("munged"),
      date_format(ts, "yyyy-MM-dd").as("d_str"),
      year(ts).cast(LongType).as("y"),
      month(ts).cast(LongType).as("m"),
      unix_millis(to_timestamp(
        date_format(ts, "yyyy-MM-dd HH:mm:ss"), "yyyy-MM-dd HH:mm:ss"))
        .as("ts_rt"),
      lower(col("o_orderstatus")).as("status_lc"),
      split(col("o_orderpriority"), "-").getItem(0).as("pri_key"))
      .orderBy("o_orderkey")
  }

  val q10Sql: String =
    """SELECT o_orderkey,
      |       regexp_replace('<order_' || o_orderkey || '>', '^<|>$', '', 'g') AS munged,
      |       strftime(o_orderdate, '%Y-%m-%d') AS d_str,
      |       CAST(year(o_orderdate) AS BIGINT) AS y,
      |       CAST(month(o_orderdate) AS BIGINT) AS m,
      |       epoch_ms(strptime(strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'),
      |                         '%Y-%m-%d %H:%M:%S')) AS ts_rt,
      |       lower(o_orderstatus) AS status_lc,
      |       string_split(o_orderpriority, '-')[1] AS pri_key
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // --- Q27: JSON scalar functions over events.props -------------------------

  /** JSON extraction (the `from_json`/`get_json_object` leg of the scalar
    * closure, SURVEY §2.2): pull the numeric field out of the `props` JSON
    * string and aggregate per event type. Integer sums are exact, so the
    * rounded average matches DuckDB bit-for-bit. */
  def q27JsonExtract(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      // try_cast + DOUBLE: a non-numeric "k" (or non-JSON props) yields
      // NULL on BOTH engines instead of an ANSI crash, and DOUBLE is the
      // one numeric target both engines parse identically — string->BIGINT
      // diverges (Spark rejects '1.5', DuckDB rounds it to 2)
      .select(col("event_type"),
        expr("try_cast(get_json_object(props, '$.k') AS DOUBLE)").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), min(col("k")).as("min_k"),
        max(col("k")).as("max_k"), stableRound(avg(col("k")), 2).as("avg_k"))
      .orderBy("event_type")

  val q27Sql: String =
    s"""SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
      |       min(k) AS min_k, max(k) AS max_k,
      |       ${stableRoundSql("avg(k)", 2)} AS avg_k
      |FROM (SELECT event_type,
      |             TRY_CAST(CASE WHEN json_valid(props) THEN
      |               json_extract_string(props, '$$.k') END AS DOUBLE) AS k
      |      FROM events)
      |GROUP BY event_type ORDER BY event_type NULLS FIRST""".stripMargin

  // --- Q36: rollup (multi-level aggregation) over the triple table ----------

  /** `ROLLUP(predicate, entity-type)`: per-(predicate, etype) counts plus
    * per-predicate subtotals plus the grand total in ONE pass — Catalyst
    * expands the grouping sets inside a single aggregate (one shuffle), vs
    * three separate scans+aggregations by hand. `etype` is the entity-class
    * initial of the subject (`c`ust / `n`ation / `o`rder). Total order with
    * explicit NULLS FIRST so both engines agree on subtotal-row placement. */
  def q36Rollup(spark: SparkSession, dir: String): DataFrame =
    graft.TripleStore.triples(spark, dir)
      .withColumn("etype", substring(col("subject"), 2, 1))
      .rollup("predicate", "etype")
      .agg(count(lit(1)).as("n_rows"), sum(col("ts_ms")).as("sum_ts"))
      .orderBy(col("predicate").asc_nulls_first, col("etype").asc_nulls_first)

  val q36Sql: String =
    s"""WITH ${graft.TripleStore.TriplesCte}
       |SELECT predicate, substr(subject, 2, 1) AS etype,
       |       CAST(count(*) AS BIGINT) AS n_rows,
       |       CAST(sum(ts_ms) AS BIGINT) AS sum_ts
       |FROM triples
       |GROUP BY ROLLUP(predicate, etype)
       |ORDER BY predicate NULLS FIRST, etype NULLS FIRST""".stripMargin

  // --- Q11: tumbling 1-minute windows over events ---------------------------

  def q11Tumbling(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
    ev.select(eventTsMs(ev).as("ts_ms"), col("event_type"), col("value"))
      .withColumn("window_start", expr("ts_ms div 60000") * 60000L)
      .groupBy(col("window_start"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        stableRound(sum(col("value")), 2).as("sum_value"))
      .orderBy("window_start", "event_type")
  }

  val q11TumblingSql: String =
    s"""SELECT (epoch_ms(CAST(ts AS TIMESTAMP)) // 60000) * 60000 AS window_start,
      |       event_type, CAST(count(*) AS BIGINT) AS cnt,
      |       ${stableRoundSql("sum(value)", 2)} AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin

  // --- Q39: gap-based sessionization of the event stream --------------------

  /** A session ends after 30 minutes of per-user inactivity — the classic
    * clickstream/training-telemetry cut. Shared with the streaming twin's
    * gate replay (StreamingGate.q74) so batch and stream sessionize under
    * the same cut and q39's oracle stays valid for both. */
  private[graft] val SessionGapMs = 30L * 60 * 1000

  /** Q39: assign every event to a per-user session (a new session starts
    * when the gap from the user's previous event exceeds [[SessionGapMs]]),
    * then aggregate each session. The lag + running-sum windows and the
    * closing groupBy all cluster by `user_id`, so the WHOLE query is one
    * shuffle: the session aggregate's (user_id, session_id) grouping is
    * satisfied by the window's hash-partitioning on user_id alone (a
    * superset clustering — EnsureRequirements inserts no second exchange).
    * At 100 TB that's the canonical sessionize shape: shuffle the event log
    * once by entity, never again; per-user fan-in is bounded by that user's
    * event count. (ts_ms, event_id) is a TOTAL order — raw ts repeats. */
  /** The sessionization kernel on a pre-projected
    * `(user_id, event_id, value, ts_ms)` frame: gap > `gapMs` between
    * consecutive events (total order `(ts_ms, event_id)`) starts a new
    * session; 1-based session ids per user; per-session bounds/count/sum.
    * Factored from [[q39Sessionize]] so a model check can drive it on
    * synthetic frames (RelationalSpec-style naive fold in TemporalSpec's
    * sibling suite). */
  def sessionize(ev: DataFrame, gapMs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    ev
      .withColumn("new_sess",
        when(col("ts_ms") - lag("ts_ms", 1).over(w) <= gapMs, 0L)
          .otherwise(1L))
      .withColumn("session_id", sum("new_sess")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(min(col("ts_ms")).as("session_start"),
        max(col("ts_ms")).as("session_end"),
        count(lit(1)).as("n_events"),
        // the session sum's FOLD ORDER IS PINNED (ADVICE r13 → r15): a
        // plain `sum(value)` folds in aggregation order, which differs
        // between engines and from the streaming twin's ts-sorted state
        // buffer — a sum landing within a float ulp of a .xx5 half-ulp
        // could then flip the 2-decimal rounding per engine. The pinned
        // definition all three implementations share: non-null values,
        // 0.0-initialized SEQUENTIAL left fold in (ts_ms, event_id) order
        // (DuckDB: list_sum over an ORDER BY'd list — a measured
        // sequential fold that also 0-normalizes -0.0; stream:
        // the ts-sorted buffer's .sum). Per-session memory becomes
        // O(session events) — the bound the streaming state buffer
        // already carries, bounded by gap × event rate, not history.
        expr("array_sort(collect_list(struct(ts_ms, event_id, value)))")
          .as("_evs"))
      // identical pre-round bits are NOT enough: the builtin round(x, 2)
      // itself diverges between engines at .xx5 shortest-repr boundaries
      // (see StableRound's scaladoc), so the pin is completed by the
      // bit-stable floor-form round, spelled identically in q39Sql
      .withColumn("sum_value", graft.functions.StableRound.stableRound(expr(
        """CASE WHEN size(filter(_evs, e -> e.value IS NOT NULL)) = 0
          |THEN CAST(NULL AS DOUBLE)
          |ELSE aggregate(filter(_evs, e -> e.value IS NOT NULL),
          |  CAST(0 AS DOUBLE), (a, e) -> a + e.value) END""".stripMargin), 2))
      .select(col("user_id"), col("session_id"), col("session_start"),
        col("session_end"), col("n_events"), col("sum_value"))
      .orderBy("user_id", "session_id")
  }

  def q39Sessionize(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
    sessionize(
      ev.select(col("user_id"), col("event_id"), col("value"),
        eventTsMs(ev).as("ts_ms")),
      SessionGapMs)
  }

  val q39Sql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, value,
       |         epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_ms
       |  FROM events),
       |g AS (
       |  SELECT *, CASE WHEN ts_ms - lag(ts_ms) OVER w <= $SessionGapMs
       |                 THEN 0 ELSE 1 END AS new_sess
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
       |s AS (
       |  SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id
       |    ORDER BY ts_ms, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
       |    AS session_id
       |  FROM g)
       |SELECT user_id, session_id,
       |       CAST(min(ts_ms) AS BIGINT) AS session_start,
       |       CAST(max(ts_ms) AS BIGINT) AS session_end,
       |       CAST(count(*) AS BIGINT) AS n_events,
       |       ${graft.functions.StableRound.stableRoundSql(
                  "list_sum(list(value ORDER BY ts_ms, event_id))", 2)}
       |         AS sum_value
       |FROM s GROUP BY user_id, session_id
       |ORDER BY user_id NULLS FIRST, session_id""".stripMargin

  // --- Q40: pivot (long -> wide reshaping) ----------------------------------

  /** The event-type domain, pinned so the pivot's output schema is static:
    * a values-less `pivot` runs an extra distinct-collect job and makes the
    * column set data-dependent — exactly what a 100 TB plan must not do. */
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Q40: long→wide reshape — per-user event counts as one column per event
    * type. `groupBy(user).pivot(type, values)` expands to per-type
    * conditional aggregates inside ONE shuffle-once aggregation (the same
    * plan the hand-written CASE oracle describes), with the value list
    * pinned (no schema-inference job). */
  def q40Pivot(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .groupBy("user_id")
      .pivot("event_type", EventTypes)
      .agg(count(lit(1)))
      .select(col("user_id") +:
        EventTypes.map(t => coalesce(col(t), lit(0L)).as(s"n_$t")): _*)
      .orderBy("user_id")

  val q40Sql: String = {
    val cols = EventTypes.map(t =>
      s"CAST(count(*) FILTER (WHERE event_type = '$t') AS BIGINT) AS n_$t")
      .mkString(",\n       ")
    s"""SELECT user_id,
       |       $cols
       |FROM events GROUP BY user_id ORDER BY user_id NULLS FIRST""".stripMargin
  }

  // --- Q41: distribution statistics (exact percentiles) ---------------------

  /** Q41: per-event-type value distribution — exact continuous percentiles
    * (linear interpolation at p·(n−1), the definition DuckDB's
    * `quantile_cont` shares) plus min/max. Exact `percentile` buffers a
    * group's values, which is fine per bounded group; the 100 TB path for
    * heavy groups is the MERGEABLE sketch twin `approx_percentile` (each
    * partition builds a bounded-memory sketch, the shuffle carries sketches,
    * not values) — approximate, so it is property-tested against this exact
    * result in PipelineSpec instead of oracle-gated. */
  def q41Percentiles(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      // NaN values are excluded: Spark sorts NaN greatest while DuckDB's
      // quantile interpolation ignores it, so a NaN-tolerant percentile
      // has no cross-engine meaning (adversarial-events sweep); nulls are
      // already ignored by both engines' aggregates
      .filter(!isnan(col("value")) || col("value").isNull)
      .groupBy("event_type")
      // ONE percentile buffer per group (array argument), not three — each
      // separate percentile() call would hold its own copy of the group
      .agg(expr("percentile(value, array(0.5D, 0.9D, 0.99D))").as("p"),
        stableRound(min(col("value")), 2).as("v_min"),
        stableRound(max(col("value")), 2).as("v_max"))
      .select(col("event_type"),
        stableRound(col("p")(0), 4).as("p50"),
        stableRound(col("p")(1), 4).as("p90"),
        stableRound(col("p")(2), 4).as("p99"), col("v_min"), col("v_max"))
      .orderBy("event_type")

  val q41Sql: String =
    s"""SELECT event_type,
      |       ${stableRoundSql("quantile_cont(value, 0.5)", 4)} AS p50,
      |       ${stableRoundSql("quantile_cont(value, 0.9)", 4)} AS p90,
      |       ${stableRoundSql("quantile_cont(value, 0.99)", 4)} AS p99,
      |       ${stableRoundSql("min(value)", 2)} AS v_min,
      |       ${stableRoundSql("max(value)", 2)} AS v_max
      |FROM events WHERE NOT isnan(value) OR value IS NULL
      |GROUP BY event_type ORDER BY event_type NULLS FIRST""".stripMargin

  // --- Q42: unpivot (wide -> long reshaping, q40's inverse shape) -----------

  private val MeltMeasures =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** Q42: melt lineitem's four measure columns into (measure, value) rows —
    * `Dataset.unpivot`, the narrow wide→long reshape (a per-row explode
    * inside one stage, no shuffle until the aggregate), then a per-measure
    * summary. The unpivot itself is the operator under test; the aggregate
    * keeps the oracle small and total-ordered. */
  def q42Unpivot(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .select(col("l_orderkey") +: MeltMeasures.map(col): _*)
      .unpivot(Array(col("l_orderkey")),
        MeltMeasures.map(col).toArray, "measure", "value")
      .groupBy("measure")
      .agg(count(lit(1)).as("n"), stableRound(sum(col("value")), 2).as("total"),
        stableRound(avg(col("value")), 4).as("mean"))
      .orderBy("measure")

  val q42Sql: String = {
    val legs = MeltMeasures.map(m =>
      s"SELECT l_orderkey, '$m' AS measure, $m AS value FROM lineitem")
      .mkString("\n  UNION ALL ")
    s"""SELECT measure, CAST(count(*) AS BIGINT) AS n,
       |       ${stableRoundSql("sum(value)", 2)} AS total,
       |       ${stableRoundSql("avg(value)", 4)} AS mean
       |FROM ($legs)
       |GROUP BY measure ORDER BY measure""".stripMargin
  }

  // --- Q43: ranking-distribution window family ------------------------------

  /** Q43: the remaining rank-family window functions — `ntile` (equal-depth
    * bucketing, the window twin of `range_bucket`'s equal-width routing),
    * `percent_rank` and `cume_dist` (relative standing inside a group).
    * Same total-order discipline as q7: suppliers partition, price +
    * unique-key tie-break order. One shuffle (the window), pruned scan. */
  def q43RankDist(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("l_suppkey")
      .orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
    table(spark, dir, "lineitem")
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        ntile(4).over(w).cast(LongType).as("quartile"),
        stableRound(percent_rank().over(w), 4).as("pct_rank"),
        stableRound(cume_dist().over(w), 4).as("cume"))
      .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
  }

  val q43Sql: String =
    s"""SELECT l_suppkey, l_orderkey, l_linenumber,
      |       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
      |       ${stableRoundSql("percent_rank() OVER w", 4)} AS pct_rank,
      |       ${stableRoundSql("cume_dist() OVER w", 4)} AS cume
      |FROM lineitem
      |WINDOW w AS (PARTITION BY l_suppkey
      |             ORDER BY l_extendedprice, l_orderkey, l_linenumber)
      |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin

  // --- Q44: as-of attribute propagation within a stream ---------------------

  /** Q44: attach to every event the user's most recent PURCHASE value — the
    * as-of / "latest label as of event time" pattern every training-data
    * pipeline needs (join features to the newest preceding annotation).
    * Expressed as `last(<conditional>, ignoreNulls)` over an unbounded
    * preceding frame: one shuffle by user, no self-join, no range join —
    * the frame IS the as-of semantics. DuckDB's `last_value(... IGNORE
    * NULLS)` is the exact twin. */
  def q44AsofAttr(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = table(spark, dir, "events")
    val w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.select(col("user_id"), col("event_id"), col("event_type"),
        col("value"), eventTsMs(ev).as("ts_ms"))
      .withColumn("last_purchase_value",
        last(when(col("event_type") === "purchase", col("value")),
          ignoreNulls = true).over(w))
      .select(col("user_id"), col("event_id"), col("ts_ms"),
        col("event_type"), col("last_purchase_value"))
      .orderBy("user_id", "ts_ms", "event_id")
  }

  val q44Sql: String =
    """SELECT user_id, event_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_ms,
      |       event_type,
      |       last_value(CASE WHEN event_type = 'purchase' THEN value END
      |                  IGNORE NULLS) OVER (
      |         PARTITION BY user_id
      |         ORDER BY epoch_ms(CAST(ts AS TIMESTAMP)), event_id
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |         AS last_purchase_value
      |FROM events
      |ORDER BY user_id NULLS FIRST, ts_ms, event_id""".stripMargin
}
