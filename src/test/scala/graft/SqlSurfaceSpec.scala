package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Lww

/** The pure-SQL surface: temp views + injected functions, so a client that
  * only speaks query text (the reference's entire access model,
  * `MasterServer.py:292-330`) can run the store's core operations without
  * touching the Scala API. */
class SqlSurfaceSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"
  TripleStore.registerViews(spark, sf)

  test("O1 point scan as SQL text over the registered views") {
    import spark.implicits._
    val got = spark.sql(
        "SELECT * FROM triples WHERE subject = '<order_1>' ORDER BY predicate")
      .as[(String, String, String, Long)].collect().toSeq
    val want = TripleStore.search(spark, sf, "<order_1>")
      .orderBy("predicate")
      .as[(String, String, String, Long)].collect().toSeq
    assert(got == want && got.nonEmpty)
    // and the same rows come back from the sharded layout's view
    val sharded = spark.sql(
        "SELECT * FROM store_sharded WHERE subject = '<order_1>' ORDER BY predicate")
      .as[(String, String, String, Long)].collect().toSeq
    assert(sharded == want)
  }

  test("O3 anti-entropy merge as pure SQL == Lww.merge") {
    import spark.implicits._
    val got = spark.sql(Lww.mergeSql("triples", "remote_changelog"))
      .as[(String, String, String, Long)].collect().toSet
    val want = Lww.merge(
        TripleStore.triples(spark, sf), TripleStore.remoteChangelog(spark, sf))
      .as[(String, String, String, Long)].collect().toSet
    assert(got == want && got.nonEmpty)
  }

  test("lww_object is callable from SQL text and plans as native max_by") {
    import spark.implicits._
    val df = spark.sql(
      """SELECT subject, predicate, lww_object(object, ts_ms) AS object
        |FROM (SELECT * FROM triples UNION ALL SELECT * FROM remote_changelog)
        |GROUP BY subject, predicate""".stripMargin)
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("max_by"), s"no max_by in:\n$optimized")
    assert(!optimized.contains("ScalaAggregator"),
      s"SQL lww_object should not round-trip a UDAF:\n$optimized")
    // same winners as the typed Column-API UDAF (q12's path)
    val got = df.as[(String, String, String)].collect().toSet
    val want = TripleStore.triples(spark, sf)
      .unionByName(TripleStore.remoteChangelog(spark, sf))
      .groupBy("subject", "predicate")
      .agg(graft.functions.LwwObject.column(
        org.apache.spark.sql.functions.col("object"),
        org.apache.spark.sql.functions.col("ts_ms")).as("object"))
      .as[(String, String, String)].collect().toSet
    assert(got == want && got.nonEmpty)
  }

  test("a wrong-arity call to any injected function is an analysis error " +
    "naming the function") {
    val arities = Seq("hamming_distance" -> 2, "range_bucket" -> 2,
      "gram_run_stats" -> 2, "minhash_signature" -> 2, "simhash_bits" -> 2,
      "window_mins" -> 2, "rolling_kgram_hashes" -> 2, "zorder_key" -> 2,
      "lww_object" -> 2, "vec_dot" -> 2, "vec_normalize" -> 1,
      "int8_dot" -> 2, "int8_norm2" -> 1, "int8_decode" -> 2,
      "nearest_centroid" -> 3, "bloom_build" -> 3, "bloom_might_contain" -> 2)
    arities.foreach { case (name, n) =>
      Seq(n - 1, n + 1).filter(_ > 0).foreach { k =>
        val call = s"SELECT $name(${Seq.fill(k)("'a'").mkString(", ")})"
        val e = intercept[org.apache.spark.sql.AnalysisException](
          spark.sql(call))
        assert(e.getCondition == "WRONG_NUM_ARGS.WITHOUT_SUGGESTION" &&
          e.getMessage.contains(name), s"$call: ${e.getMessage}")
      }
    }
  }
}
