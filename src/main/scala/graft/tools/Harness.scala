package graft.tools

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** What `ScaleBench` and the scale tools share: wall-clock timing, noop-sink
  * materialization, order-independent result digests, edge replication and
  * the one JSON line each run prints. */
object Harness {

  /** `f`'s value and its wall seconds. */
  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs `f` three times: the first result, the first run's seconds and
    * the median seconds. Pure reads repeat and report the median because
    * single-shot times carry page-cache/JIT noise (BENCH_METHOD rule 2);
    * the first run is reported beside it as the closest thing to a cold
    * start, though earlier work in the same JVM has already warmed it
    * partially. */
  def median3[A](f: => A): (A, Double, Double) = {
    val (a, t1) = timed(f)
    val (_, t2) = timed(f)
    val (_, t3) = timed(f)
    (a, t1, Seq(t1, t2, t3).sorted.apply(1))
  }

  /** Materializes `df` through the noop sink and returns its row count,
    * observed in the same run. Not `count()`: under a count the optimizer
    * prunes what the query computes but does not count (an LWW merge's
    * `max_by` payload, an as-of join's whole `Window`), so the run would
    * time a different query; and a `count()` afterwards would run the job
    * again. */
  def sink(df: DataFrame): Long = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("rows"))
      .write.format("noop").mode("overwrite").save()
    obs.get("rows").asInstanceOf[Long]
  }

  /** Row count and the XOR of every row's `xxhash64` over all columns (0 for
    * no rows): equal for equal row multisets whatever the partitioning. XOR,
    * not a sum, which would overflow a long under ANSI arithmetic. */
  def digest(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      coalesce(bit_xor(xxhash64(df.columns.toSeq.map(col): _*)), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** `k` disjoint copies of an edge list: copy `i`'s `src` and `dst` ids end
    * in `#i`, so components and ranks repeat per copy and the work is `k`×
    * the edges. */
  def replicateEdges(edges: DataFrame, k: Int): DataFrame =
    (0 until k).map { i =>
      edges.select(concat(col("src"), lit(s"#$i")).as("src"),
        concat(col("dst"), lit(s"#$i")).as("dst"))
    }.reduce(_ union _)

  /** A JSON object of `fields`, in order. Values may be strings, numbers,
    * booleans, `JValue`s or sequences of these. Doubles print at full
    * precision and never through the default locale. */
  def obj(fields: (String, Any)*): JObject =
    JObject(fields.map { case (k, v) => k -> value(v) }.toList)

  private def value(v: Any): JValue = v match {
    case j: JValue => j
    case s: String => JString(s)
    case d: Double => JDouble(d)
    case n: Int => JLong(n.toLong)
    case n: Long => JLong(n)
    case b: Boolean => JBool(b)
    case xs: Iterable[_] => JArray(xs.map(value).toList)
    case other => throw new IllegalArgumentException(
      s"no JSON form for ${other.getClass.getName}")
  }

  /** Prints [[obj]]`(fields)` as one line. */
  def emit(fields: (String, Any)*): Unit =
    println(JsonMethods.compact(obj(fields: _*)))

  /** `s` as a JSON string literal. */
  def quote(s: String): String = JsonMethods.compact(JString(s))
}
