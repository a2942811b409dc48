package graft

import java.util.Locale

import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Harness

class HarnessSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark

  test("emit prints one parseable line under a comma-decimal default locale") {
    val odd = "q\"b\\n\nc\u0001"
    val prev = Locale.getDefault
    val out = new java.io.ByteArrayOutputStream()
    try {
      Locale.setDefault(Locale.GERMANY)
      Console.withOut(out)(Harness.emit("half" -> 0.5, "tiny" -> 1e-12,
        "s" -> odd, "n" -> 3L, "ok" -> true,
        "per_job" -> Seq(Harness.obj("job" -> 1, "mb" -> 0.25))))
    } finally Locale.setDefault(prev)
    val line = out.toString("UTF-8")
    assert(line.endsWith("\n") && line.count(_ == '\n') == 1)
    assert(line.contains("\"half\":0.5,") && !line.contains("0,5"))
    val j = JsonMethods.parse(line)
    assert((j \ "half") == JDouble(0.5))
    assert((j \ "tiny") == JDouble(1e-12))
    assert((j \ "s") == JString(odd))
    assert((j \ "n") == JInt(3))
    assert((j \ "ok") == JBool(true))
    assert((j \ "per_job") ==
      JArray(List(JObject("job" -> JInt(1), "mb" -> JDouble(0.25)))))
  }

  test("sink counts and computes a Window that a bare count() prunes") {
    val w = Window.partitionBy(col("id") % 3).orderBy("id")
    val base = spark.range(0, 100, 1, 4)
    val ranked = base.withColumn("rn", row_number().over(w))
    assert(ranked.groupBy().count().queryExecution.optimizedPlan
      .collect { case x: logical.Window => x }.isEmpty)
    assert(Harness.sink(ranked) == 100)
    // a Window that fails when evaluated: count() never runs it, sink does
    val failing = base.withColumn("x",
      first(raise_error(lit("window ran")).cast("string")).over(w))
    assert(failing.count() == 100)
    val e = intercept[Exception](Harness.sink(failing))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("window ran")))
  }

  test("digest is partitioning-independent, matches the explicit XOR form, and is (0, 0) when empty") {
    val rows = spark.range(0, 1000).select(col("id"),
      (col("id") % 7).cast("string").as("s"), (col("id") / 3.0).as("d"))
    val one = Harness.digest(rows.coalesce(1))
    assert(one == Harness.digest(rows.repartition(7)))
    val r = rows.agg(count(lit(1)), expr("bit_xor(xxhash64(id, s, d))")).head()
    assert(one == ((r.getLong(0), r.getLong(1))))
    assert(one._1 == 1000L)
    assert(Harness.digest(rows.limit(0)) == ((0L, 0L)))
  }
}
