package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Docs, Vectors}
import graft.plans.ZOrderKey

/** Corpus/layout operators (q54–q65): the properties the SQL-oracle gate
  * can't express — coverage/overlap laws, in-memory model cross-checks,
  * scrub completeness on adversarial shapes, quantization error bounds and
  * the z-key's bit interleave. */
class CorpusOpsSpec extends AnyFunSuite with TempDirs {

  private val spark = SparkTestSession.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  test("q54 chunking: stride-aligned starts, full token coverage, " +
    "exact interior sizes") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), size(split(col("text"), " ")).as("n"))
      .as[(Long, Int)].collect().toMap
    val byDoc = Docs.q54Chunks(spark, sf).collect().groupBy(_.getLong(0))
    assert(byDoc.keySet == docs.keySet)
    byDoc.foreach { case (id, cs) =>
      val n = docs(id).toLong
      val sorted = cs.sortBy(_.getLong(1))
      // starts are exactly the stride multiples below the token count
      assert(sorted.map(_.getLong(2)).toSeq ==
        (0L until n by Docs.ChunkStride.toLong).toSeq, s"doc $id starts")
      sorted.foreach { r =>
        val (start, len) = (r.getLong(2), r.getLong(3))
        assert(len == math.min(Docs.ChunkSize.toLong, n - start),
          s"doc $id chunk at $start")
      }
      // union of [start, start+len) covers every token position
      val covered = sorted
        .flatMap(r => r.getLong(2) until (r.getLong(2) + r.getLong(3))).toSet
      assert(covered == (0L until n).toSet, s"doc $id coverage")
    }
  }

  test("q55 exact-k sample: exactly min(k, |stratum|) per source, " +
    "ranks dense, draw stable across runs") {
    val sizes = spark.read.parquet(s"$sf/documents.parquet")
      .groupBy("source").count().as[(String, Long)].collect().toMap
    val s1 = Docs.q55GroupSample(spark, sf).collect()
    val per = s1.groupBy(_.getString(0))
    assert(per.keySet == sizes.keySet)
    per.foreach { case (src, rows) =>
      assert(rows.length == math.min(Docs.SampleK.toLong, sizes(src)),
        s"stratum $src")
      assert(rows.map(_.getLong(1)).sorted.toSeq ==
        (1L to rows.length.toLong).toSeq, s"stratum $src ranks")
    }
    val s2 = Docs.q55GroupSample(spark, sf).collect()
    assert(s1.map(_.toString).toSeq == s2.map(_.toString).toSeq)
  }

  test("q56 tf-idf matches an in-memory model (score, rounding, tie order)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), lower(col("text"))).as[(Long, String)].collect()
    val n = docs.length.toDouble
    val tf = docs.flatMap { case (id, t) => t.split(" ").map(w => (id, w)) }
      .groupBy(identity).map { case (k, v) => k -> v.length }
    val df = tf.keys.toSeq.groupBy(_._2).map { case (w, ks) => w -> ks.size }
    def score(id: Long, w: String): Double =
      BigDecimal(tf((id, w)) * math.log(n / df(w)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = tf.keys.toSeq.groupBy(_._1).map { case (id, ks) =>
      id -> ks.map(_._2).distinct
        .map(w => (score(id, w), w)).sortBy { case (s, w) => (-s, w) }.take(3)
    }
    val got = Docs.q56TfidfKeywords(spark, sf).collect()
    assert(got.nonEmpty)
    got.groupBy(_.getLong(0)).foreach { case (id, rows) =>
      val gotSeq = rows.sortBy(_.getLong(1))
        .map(r => (r.getDouble(4), r.getString(2))).toSeq
      assert(gotSeq == expected(id), s"doc $id")
    }
  }

  test("q56 plan: the corpus is scanned and tokenized exactly once — df is " +
    "a window over tf, and only the 1-row N joins as a broadcast") {
    val plan = Docs.q56TfidfKeywords(spark, sf)
      .queryExecution.executedPlan.toString
    assert("Generate explode".r.findAllIn(plan).size == 1, plan)
    assert("BroadcastExchange".r.findAllIn(plan).size == 1, plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("zorder_key matches the per-bit definition, masks to 31 bits, " +
    "and runs through codegen via SQL") {
    def naive(x: Long, y: Long): Long =
      (0 until 31).map(i =>
        (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1)))
        .reduce(_ | _)
    val r = new scala.util.Random(7)
    (0 until 1000).foreach { _ =>
      val x = r.nextLong() & Long.MaxValue
      val y = r.nextLong() & Long.MaxValue
      val z = ZOrderKey.interleave(x, y)
      assert(z == naive(x, y) && z >= 0, s"($x, $y)")
    }
    // interleaving is order-preserving per dimension at fixed other dim
    assert(ZOrderKey.interleave(3, 5) == 39L)
    val viaSql = Seq((3L, 5L)).toDF("x", "y")
      .selectExpr("zorder_key(x, y) AS z").as[Long].head()
    assert(viaSql == 39L)
  }

  test("q58 quantization: int8 range, max element hits ±127, dequant error " +
    "bounded by mx/254, checksum consistent") {
    val embs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toMap
    val rows = Vectors.q58Quantize(spark, sf).collect()
    assert(rows.length == embs.size)
    rows.foreach { r =>
      val id = r.getLong(0)
      val q = r.getString(2).split(",").map(_.toLong)
      val x = embs(id).map(_.toDouble)
      assert(q.length == x.length)
      assert(q.forall(v => v >= -127 && v <= 127), s"vec $id out of int8 range")
      val mx = x.map(math.abs).max
      assert(r.getLong(1) == math.floor(mx * 1e6 + 0.5).toLong)
      if (mx == 0) assert(q.forall(_ == 0))
      else {
        assert(math.abs(q(x.indexWhere(v => math.abs(v) == mx))) == 127L,
          s"vec $id max element")
        q.zip(x).foreach { case (qi, xi) =>
          assert(math.abs(qi * mx / 127.0 - xi) <= mx / 254.0 + 1e-9,
            s"vec $id dequant error") }
      }
      assert(r.getLong(3) == q.sum, s"vec $id checksum")
    }
  }

  test("q58 degenerate vectors (zero, NaN, Inf, 1e30) quantize to zeros " +
    "with the -1 sentinel scale; sane vectors unaffected") {
    val dir = tmp("graft_q58z")
    Seq(
      (1L, Some(Array(0f, 0f, 0f, 0f)), 0),
      (2L, Some(Array(1f, -2f, 0.5f, 2f)), 0),
      (3L, Some(Array(Float.NaN, 1f, 2f, 3f)), 0),
      (4L, Some(Array(1e30f, 1f, 2f, 3f)), 0),
      (5L, Some(Array(Float.PositiveInfinity, 1f, 2f, 3f)), 0),
      (6L, Some(Array.empty[Float]), 0),
      (7L, None, 0),
      // below the micro-unit scale resolution: a 0 scale would dequantize
      // everything to zero, so these take the sentinel like NaN/Inf do
      (8L, Some(Array(1e-30f, -1e-31f)), 0),
      (9L, Some(Array(1e-7f, 2e-7f)), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = Vectors.q58Quantize(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getString(2), if (r.isNullAt(3)) None else Some(r.getLong(3)))))
      .toMap
    assert(out(1L) == ((-1L, "0,0,0,0", Some(0L))))
    assert(out(2L) == ((2000000L, "64,-127,32,127", Some(96L))))
    assert(out(3L)._1 == -1L && out(3L)._2 == "0,0,0,0")
    assert(out(4L)._1 == -1L && out(4L)._2 == "0,0,0,0")
    assert(out(5L)._1 == -1L && out(5L)._2 == "0,0,0,0")
    // empty vector: defined ('' / 0), NOT the oracle's raw NULL (the SQL
    // twin CASEs DuckDB's NULL-on-empty array_to_string/list_sum back)
    assert(out(6L) == ((-1L, "", Some(0L))))
    // NULL vector: NULL csv/sum on both engines
    assert(out(7L)._1 == -1L && out(7L)._2 == null && out(7L)._3.isEmpty)
    // sub-resolution magnitudes: sentinel, never a zero scale
    assert(out(8L)._1 == -1L && out(8L)._2 == "0,0")
    assert(out(9L)._1 == -1L && out(9L)._2 == "0,0")
  }

  test("q59 PII scrub: planted payload counted exactly once per kind and " +
    "fully redacted; adversarial shapes leave no residual match") {
    val out = Docs.q59PiiScrub(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(1) == 1L && r.getLong(2) == 1L && r.getLong(3) == 1L,
        s"doc ${r.getLong(0)} planted counts")
    }
    val fixtures = Seq(
      "mail a.b-c_d%e+f@sub.domain.co.uk end",
      "ip 192.168.0.1, 1.2.3.4. trailing dot",
      "call 555-123-4567 now",
      "edge a@b.co 999.999.999.999 000-000-0000",
      "no pii here at all")
    val cleaned = fixtures.toDF("t")
      .select(Docs.scrubPii(col("t")).as("c")).as[String].collect()
    cleaned.foreach { c =>
      Seq(Docs.EmailPat, Docs.Ipv4Pat, Docs.PhonePat).foreach(p =>
        assert(p.r.findFirstIn(c).isEmpty, s"residual PII in: $c"))
    }
    assert(cleaned(2) == "call <PHONE> now")
    assert(cleaned(1) == "ip <IP>, <IP>. trailing dot")
    assert(cleaned(4) == "no pii here at all")
  }

  test("q54/q58/q59 are map-only: the only exchange is the presentation sort") {
    Seq(
      "q54" -> Docs.q54Chunks(spark, sf),
      "q58" -> Vectors.q58Quantize(spark, sf),
      "q59" -> Docs.q59PiiScrub(spark, sf)).foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString
      val ex = "Exchange \\w+".r.findAllIn(plan).toSeq
      assert(ex.nonEmpty && ex.forall(_.contains("rangepartitioning")),
        s"$name unexpected exchange shape: $ex\n$plan")
    }
  }

  test("q60 cluster labels agree with an in-memory union-find over the " +
    "same pair list; reps are cluster minima") {
    val pairs = Docs.q19MinhashPairs(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.map(d => d -> find(d)).toMap
    val got = Docs.q60NeardupClusters(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    assert(got.keySet == expected.keySet)
    val bySize = expected.groupBy(_._2).map { case (rep, m) => rep -> m.size }
    got.foreach { case (doc, (rep, size, isRep)) =>
      assert(rep == expected(doc), s"doc $doc label")
      assert(size == bySize(rep).toLong, s"doc $doc cluster size")
      assert(isRep == (doc == rep), s"doc $doc rep flag")
    }
    // every cluster's rep is a member and its minimum
    expected.groupBy(_._2).foreach { case (rep, m) =>
      assert(m.keys.min == rep, s"cluster $rep min")
    }
  }

  test("q61 bloom path returns exactly q52's relation, with every join " +
    "broadcast (the corpus never shuffles)") {
    val q61 = Docs.q61BloomDedup(spark, sf)
    val got = q61.collect().map(_.toString).toSeq
    val want = Docs.q52IncrementalDedup(spark, sf).collect()
      .map(_.toString).toSeq
    assert(got == want)
    val plan = q61.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("ShuffledHashJoin"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q61 constructs lazily (no driver job beyond the file-source " +
    "metadata read every query pays) and ships the bloom as a scalar " +
    "subquery, not a plan literal") {
    // r7/r8 weak mark: construction used to head() the bloom aggregate and
    // embed 128 KB of filter bytes as a literal in every plan string/task.
    // Control = q52, the bloom-free twin with the identical input shape:
    // any job it triggers at construction (parquet schema inference) is
    // file-source overhead, not eagerness.
    def jobsDuring(body: => String): (Seq[String], String) = {
      val names = new scala.collection.mutable.ArrayBuffer[String]()
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          names.synchronized { names ++= j.stageInfos.map(_.name) }
      }
      // drained first, so no earlier test's job reaches the listener
      graft.obs.Work.drain(spark)
      spark.sparkContext.addSparkListener(l)
      try {
        val out = body
        // drained, every job `body` started has reached the listener
        graft.obs.Work.drain(spark)
        (names.synchronized(names.toSeq), out)
      } finally spark.sparkContext.removeSparkListener(l)
    }
    val (controlJobs, _) = jobsDuring {
      val q = Docs.q52IncrementalDedup(spark, sf)
      q.queryExecution.executedPlan.toString
    }
    val (q61Jobs, plans) = jobsDuring {
      val q = Docs.q61BloomDedup(spark, sf)
      q.queryExecution.analyzed.toString + q.queryExecution.executedPlan.toString
    }
    assert(q61Jobs.size <= controlJobs.size,
      s"q61 construction ran extra jobs vs the bloom-free control:\n" +
        s"q61=$q61Jobs\ncontrol=$controlJobs")
    assert(!q61Jobs.exists(_.contains("head at")),
      s"q61 construction still collects on the driver: $q61Jobs")
    assert(plans.toLowerCase.contains("subquery"),
      "bloom filter must travel as a scalar subquery")
    // no multi-KB token anywhere in the plan (the old binary literal
    // rendered as one giant hex/base64 run)
    assert(plans.split("\\s+").forall(_.length < 4096),
      "plan contains a huge literal token — bloom bytes leaked into the plan")
  }

  test("q65 per-doc risk: every paired doc appears once with its true " +
    "max-jaccard partner (min id on ties)") {
    val pairs = Docs.q19MinhashPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val sym = pairs.flatMap { case (a, b, j) => Seq((a, b, j), (b, a, j)) }
    val expected = sym.groupBy(_._1).map { case (d, rows) =>
      d -> rows.minBy(r => (-r._3, r._2))
    }
    val got = Docs.q65NeardupRisk(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (d, (_, n, j)) =>
      assert(got(d) == ((d, n, j)), s"doc $d nearest")
    }
  }

  test("clustersFromPairs/riskFromPairs compose over one materialized " +
    "pair list, equal to the self-contained gate forms") {
    val pairs = Docs.q19MinhashPairs(spark, sf) // already eager (checkpoint)
    assert(Docs.clustersFromPairs(pairs.select("doc_a", "doc_b"))
      .collect().toSeq ==
      Docs.q60NeardupClusters(spark, sf).collect().toSeq)
    assert(Docs.riskFromPairs(pairs).collect().toSeq ==
      Docs.q65NeardupRisk(spark, sf).collect().toSeq)
  }

  test("q64 mix plan conserves the token budget and hits target shares: " +
    "sum(epochs * token_mass) = total, epochs*mass/total = share") {
    val rows = Docs.q64MixPlan(spark, sf).collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
    val total = rows.map(_._2).sum.toDouble
    // budget conservation: re-mixed token count equals the original
    val remixed = rows.map(r => r._5 * r._2).sum
    assert(math.abs(remixed - total) / total < 1e-4, s"$remixed vs $total")
    // each source's re-mixed share equals its target share
    val sw = rows.map(_._3).sum.toDouble
    rows.foreach { case (src, mass, w, share, epochs) =>
      assert(math.abs(share - w / sw) < 1e-5, s"$src share")
      assert(math.abs(epochs * mass / total - w / sw) < 1e-4,
        s"$src re-mixed share")
      assert(w == src.drop(3).toLong % 4 + 1, s"$src weight")
    }
  }

  test("q63 classifier margin matches an in-memory hashed-feature model; " +
    "keep decision is the exact integer sign") {
    val md5 = java.security.MessageDigest.getInstance("MD5")
    def hex(s: String) =
      md5.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def weight(t: String): Long = {
      val b = java.lang.Long.parseLong(hex("q63|" + t).substring(0, 4), 16) % 64
      java.lang.Long.parseLong(hex("w|" + b).substring(0, 6), 16) - 8388608L
    }
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
    val expected = docs.map { case (id, t) =>
      val w = t.split(" ", -1)
      val s = w.map(weight).sum
      id -> (w.length.toLong,
        BigDecimal(s.toDouble / (8388608.0 * w.length))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        s > 0)
    }.toMap
    val got = Docs.q63ClfScore(spark, sf).collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getBoolean(3))).toMap
    assert(got == expected)
    // both classes represented — the draw isn't degenerate
    assert(got.values.exists(_._3) && got.values.exists(!_._3))
  }

  test("q62 per-source report matches an independent in-memory model") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("source", "text").as[(String, String)].collect()
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def sha(s: String) =
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val stop = Map(
      "en" -> Set("the", "a", "of", "and", "in", "to", "is"),
      "es" -> Set("el", "la", "de", "que", "y", "en", "los"),
      "de" -> Set("der", "die", "das", "und", "ist", "von"))
    val expected = docs.groupBy(_._1).map { case (src, rows) =>
      // NULL text contributes nothing: no tokens, fails keep/en, and has
      // no hash to collide on (the dup count runs over NON-NULL hashes —
      // q62's count(content_hash) - countDistinct semantics)
      val texts = rows.map(_._2).filter(_ != null)
      val toks = texts.map(_.split(" ", -1).toSeq)
      val keeps = toks.count { w =>
        val avg = w.map(_.length).sum.toDouble / w.length
        w.length >= 5 && avg >= 2.0 && avg <= 12.0
      }
      val en = texts.count { t =>
        val lw = t.toLowerCase.split(" ", -1)
        def s(l: String) = lw.count(stop(l))
        s("en") > s("es") && s("en") > s("de")
      }
      val mass = toks.map(_.size.toLong).sum
      src -> (rows.length.toLong, keeps.toLong,
        texts.length.toLong - texts.map(sha).distinct.length,
        en.toLong, mass,
        BigDecimal(mass.toDouble / rows.length)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val got = Docs.q62SourceReport(spark, sf).collect().map(r =>
      r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6))).toMap
    assert(got == expected)
  }
}
