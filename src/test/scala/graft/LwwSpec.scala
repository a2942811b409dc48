package graft

import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Lww

/** CRDT laws + tie-break semantics of the LWW kernel (SURVEY §5).
  *
  * The reference's anti-entropy merge is a state-based CRDT join
  * (`MongoDBConnector.py:116-165`, report.pdf "state based, merging"):
  * applying modification sets in any order/grouping must converge. The only
  * non-lattice wrinkle is the equal-timestamp different-object tie, where
  * each reference replica keeps its own row (`MongoDBConnector.py:150` is
  * strict `>`); we pin object := f(subject, predicate, ts) in the generators
  * so the join is a true semilattice, and test the tie rule separately with
  * explicit fixtures.
  */
class LwwSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  private type Row4 = (String, String, String, Long)

  /** object deterministic in (s, p, ts): ties always agree, so merge is a
    * commutative/associative/idempotent lattice join. */
  private val genTriples: Gen[List[Row4]] = {
    val one = for {
      s  <- Gen.oneOf("<a>", "<b>", "<c>", "<d>")
      p  <- Gen.oneOf("<p1>", "<p2>", "<p3>")
      ts <- Gen.choose(0L, 5L)
    } yield (s, p, s"obj-$s-$p-$ts", ts)
    Gen.listOfN(12, one)
  }

  private def df(rows: List[Row4]): DataFrame =
    rows.toDF("subject", "predicate", "object", "ts_ms")

  private def winners(d: DataFrame): Set[Row4] =
    d.as[Row4].collect().toSet

  private def checkProp(p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(12), p)
    assert(res.passed, res.status.toString)
  }

  test("merge is commutative: merge(a,b) == merge(b,a)") {
    checkProp(Prop.forAll(genTriples, genTriples) { (a, b) =>
      winners(Lww.merge(df(a), df(b))) == winners(Lww.merge(df(b), df(a)))
    })
  }

  test("merge is associative: merge(merge(a,b),c) == merge(a,merge(b,c))") {
    checkProp(Prop.forAll(genTriples, genTriples, genTriples) { (a, b, c) =>
      winners(Lww.merge(Lww.merge(df(a), df(b)), df(c))) ==
        winners(Lww.merge(df(a), Lww.merge(df(b), df(c))))
    })
  }

  test("merge is idempotent: merge(a,a) == merge(a,empty)") {
    checkProp(Prop.forAll(genTriples) { a =>
      winners(Lww.merge(df(a), df(a))) == winners(Lww.merge(df(a), df(Nil)))
    })
  }

  test("n-replica convergence: any merge order yields the same state") {
    checkProp(Prop.forAll(genTriples, genTriples, genTriples) { (a, b, c) =>
      val lr = winners(Lww.merge(Lww.merge(df(a), df(b)), df(c)))
      val rl = winners(Lww.merge(df(c), Lww.merge(df(b), df(a))))
      lr == rl
    })
  }

  test("mergeCoLocated == merge on compacted inputs (free objects, so " +
    "equal-ts ties are exercised)") {
    // objects independent of (s,p,ts): equal-timestamp ties with DIFFERENT
    // objects occur, and both paths must resolve them the same way (local
    // keeps). Inputs are compacted first — mergeCoLocated's contract.
    val genFree: Gen[List[Row4]] = {
      val one = for {
        s   <- Gen.oneOf("<a>", "<b>", "<c>")
        p   <- Gen.oneOf("<p1>", "<p2>")
        o   <- Gen.oneOf("x", "y", "z")
        ts  <- Gen.choose(0L, 3L)
      } yield (s, p, o, ts)
      Gen.listOfN(10, one)
    }
    checkProp(Prop.forAll(genFree, genFree) { (a, b) =>
      val ca = Lww.upsert(df(Nil), df(a)) // compact: one winner per key
      val cb = Lww.upsert(df(Nil), df(b))
      winners(Lww.mergeCoLocated(ca, cb)) == winners(Lww.merge(ca, cb))
    })
  }

  test("mergeCoLocated: a genuine null-ts row survives when the other side " +
    "is absent, and loses to any real timestamp") {
    // reachable via fromTsv when a malformed timestamp parses to null
    val l = Seq(("<s>", "<p>", "LOCAL", Option.empty[Long]),
        ("<t>", "<p>", "ONLY", Option(5L)))
      .toDF("subject", "predicate", "object", "ts_ms")
    val r = Seq(("<t>", "<p>", "REMOTE", Option(9L)))
      .toDF("subject", "predicate", "object", "ts_ms")
    val got = Lww.mergeCoLocated(l, r)
      .as[(String, String, String, Option[Long])].collect().toSet
    assert(got == Set(
      ("<s>", "<p>", "LOCAL", None),     // absent remote must NOT null it out
      ("<t>", "<p>", "REMOTE", Some(9L))))
    // and against a real remote timestamp the null-ts local loses
    val r2 = Seq(("<s>", "<p>", "NEWER", Option(1L)))
      .toDF("subject", "predicate", "object", "ts_ms")
    val got2 = Lww.mergeCoLocated(l, r2)
      .as[(String, String, String, Option[Long])].collect().toSet
    assert(got2.contains(("<s>", "<p>", "NEWER", Some(1L))))
  }

  test("the LWW kernel plans exactly ONE shuffle with map-side partial " +
    "combine (the 100 TB contract)") {
    val sf = "/root/testdata/sf0.001"
    for (d <- Seq(
        Lww.merge(TripleStore.triples(spark, sf),
          TripleStore.remoteChangelog(spark, sf)),
        Lww.upsert(TripleStore.triples(spark, sf),
          TripleStore.updates(spark, sf)))) {
      val plan = d.queryExecution.executedPlan.toString
      val exchanges = "Exchange".r.findAllIn(plan).length
      assert(exchanges == 1, s"expected exactly 1 Exchange, got $exchanges:\n$plan")
      // partial (map-side) + final aggregate pair around that one shuffle
      val aggs = "(Sort|Hash)Aggregate".r.findAllIn(plan).length
      assert(aggs >= 2, s"no partial+final aggregate pair:\n$plan")
    }
  }

  // --- explicit tie-break fixtures (the two reference comparators) ----------

  private val base = List(("<s>", "<p>", "LOCAL", 100L))

  test("merge: strictly newer remote wins (MongoDBConnector.py:150)") {
    val remote = List(("<s>", "<p>", "REMOTE", 101L))
    assert(winners(Lww.merge(df(base), df(remote))) ==
      Set(("<s>", "<p>", "REMOTE", 101L)))
  }

  test("merge: equal timestamp keeps local (strict >)") {
    val remote = List(("<s>", "<p>", "REMOTE", 100L))
    assert(winners(Lww.merge(df(base), df(remote))) ==
      Set(("<s>", "<p>", "LOCAL", 100L)))
  }

  test("merge: older remote loses") {
    val remote = List(("<s>", "<p>", "REMOTE", 99L))
    assert(winners(Lww.merge(df(base), df(remote))) ==
      Set(("<s>", "<p>", "LOCAL", 100L)))
  }

  test("upsert: explicit update overwrites even with an OLDER timestamp " +
    "(MongoDBConnector.py:73 has no ts guard)") {
    val upd = List(("<s>", "<p>", "NEW", 50L))
    assert(winners(Lww.upsert(df(base), df(upd))) ==
      Set(("<s>", "<p>", "NEW", 50L)))
  }

  test("upsert: equal timestamp overwrites") {
    val upd = List(("<s>", "<p>", "NEW", 100L))
    assert(winners(Lww.upsert(df(base), df(upd))) ==
      Set(("<s>", "<p>", "NEW", 100L)))
  }

  test("upsert: newest of several updates to one key wins") {
    val upd = List(
      ("<s>", "<p>", "U1", 60L), ("<s>", "<p>", "U2", 70L),
      ("<s>", "<p>", "U0", 55L))
    assert(winners(Lww.upsert(df(base), df(upd))) ==
      Set(("<s>", "<p>", "U2", 70L)))
  }

  test("upsert: absent key inserts (MongoDBConnector.py:89)") {
    val upd = List(("<s2>", "<p>", "INS", 10L))
    assert(winners(Lww.upsert(df(base), df(upd))) ==
      Set(("<s>", "<p>", "LOCAL", 100L), ("<s2>", "<p>", "INS", 10L)))
  }

  test("upsertPoint: returns old and new rows, touching one key " +
    "(MongoDBConnector.py:46-102 contract)") {
    val store = df(List(
      ("<s>", "<p>", "OLD", 100L), ("<s2>", "<p>", "OTHER", 5L)))
    val out = Lww.upsertPoint(store, "<s>", "<p>", "NEW", 50L)
      .as[(String, String, String, Long, String)].collect().toSet
    assert(out == Set(
      ("<s>", "<p>", "NEW", 50L, "new_row"),
      ("<s>", "<p>", "OLD", 100L, "old_row")))
  }

  test("upsertPoint on an absent key: inserts, no old_row") {
    val store = df(List(("<s2>", "<p>", "OTHER", 5L)))
    val out = Lww.upsertPoint(store, "<s>", "<p>", "NEW", 50L)
      .as[(String, String, String, Long, String)].collect().toSet
    assert(out == Set(("<s>", "<p>", "NEW", 50L, "new_row")))
  }

  test("upsertPoint scans its one key once: one Spark job per call") {
    Scratch.scoped(spark) { dir =>
      df(List(("<s>", "<p>", "OLD", 100L), ("<s2>", "<p>", "OTHER", 5L)))
        .write.parquet(s"$dir/store")
      val store = spark.read.parquet(s"$dir/store")
      val (out, work) = graft.obs.Work.of(spark) {
        Lww.upsertPoint(store, "<s>", "<p>", "NEW", 50L).collect()
      }
      assert(out.length == 2)
      assert(work.jobs == 1,
        s"upsertPoint ran ${work.jobs} jobs; one scan of the key needs 1")
    }
  }

  test("changelogUnion: newer changelog wins key collisions " +
    "(MasterServer.py:106-115)") {
    val older = List(("<s>", "<p>", "OLD", 100L))
    val newer = List(("<s>", "<p>", "NEW", 90L))
    assert(winners(Lww.changelogUnion(df(older), df(newer))) ==
      Set(("<s>", "<p>", "NEW", 90L)))
  }

  // ---- model-based differential check with FREE objects --------------
  // The lattice-law generators above pin object := f(s, p, ts) so ties
  // agree by construction; here objects are unconstrained, so equal-
  // (ts, prio) ties with DIFFERENT objects occur and the documented
  // deterministic tie-break (struct-lexicographic, object last, compared
  // in UTF-8 BINARY order — Catalyst UTF8String, not Java's UTF-16
  // code-unit compareTo) is what the naive in-memory model must
  // reproduce. The object pool includes "😀" (UTF-16 D83D…, UTF-8 F0…)
  // and "ﬀ" (UTF-16 FB00, UTF-8 EF…), whose relative order FLIPS
  // between the two encodings — a model (or an implementation) comparing
  // in the wrong encoding fails the property.

  private val genFree2: Gen[List[Row4]] = {
    val one = for {
      s  <- Gen.oneOf("<a>", "<b>")
      p  <- Gen.oneOf("<p1>", "<p2>")
      ts <- Gen.choose(0L, 2L)
      o  <- Gen.oneOf("", "a", "Z", "obj", "ä", "😀", "ﬀ")
    } yield (s, p, o, ts)
    Gen.listOfN(10, one)
  }

  /** Unsigned byte-wise UTF-8 comparison — UTF8String's order. */
  private def utf8Less(a: String, b: String): Boolean = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** Naive fold: winner per (s, p) under the production comparator —
    * merge order (ts, prio, object), upsert order (prio, ts, object). */
  private def modelWinners(tagged: List[(Row4, Int)],
      upsertOrder: Boolean): Set[Row4] =
    tagged.groupBy(t => (t._1._1, t._1._2)).values.map { group =>
      group.reduce { (x, y) =>
        val ((_, _, ox, tx), px) = x
        val ((_, _, oy, ty), py) = y
        val keyLess =
          if (upsertOrder) (px < py) || (px == py && tx < ty)
          else (tx < ty) || (tx == ty && px < py)
        val tie =
          if (upsertOrder) px == py && tx == ty else tx == ty && px == py
        if (keyLess || (tie && utf8Less(ox, oy))) y else x
      }._1
    }.toSet

  test("model check: merge == naive (ts, prio, object-utf8) fold under " +
    "free objects") {
    checkProp(Prop.forAll(genFree2, genFree2) { (l, r) =>
      winners(Lww.merge(df(l), df(r))) ==
        modelWinners(l.map((_, 1)) ++ r.map((_, 0)), upsertOrder = false)
    })
  }

  test("model check: upsert == naive (prio, ts, object-utf8) fold under " +
    "free objects") {
    checkProp(Prop.forAll(genFree2, genFree2) { (b, u) =>
      winners(Lww.upsert(df(b), df(u))) ==
        modelWinners(b.map((_, 0)) ++ u.map((_, 1)), upsertOrder = true)
    })
  }

  test("compact-then-mergeCoLocated == merge on UNCOMPACTED inputs " +
    "(free objects with astral ties — the path q31's bucketed ETL takes " +
    "on a corpus whose source keys are duplicated)") {
    // lexicographic max is associative, so compacting each side by
    // (ts, object) first must leave merge's (ts, prio, object) winners
    // unchanged; genFree2's 😀/ﬀ pool makes equal-ts dup-key ties hit the
    // UTF-8 object leg on both the compaction and the merge.
    checkProp(Prop.forAll(genFree2, genFree2) { (l, r) =>
      winners(Lww.mergeCoLocated(Lww.compact(df(l)), Lww.compact(df(r)))) ==
        winners(Lww.merge(df(l), df(r)))
    })
  }

  test("equal-(ts, prio) tie resolves in UTF-8 binary order: the astral " +
    "'😀' beats the BMP ligature 'ﬀ' (UTF-16 order would flip it)") {
    assert("😀".compareTo("ﬀ") < 0) // Java UTF-16 order: 😀 < ﬀ
    val side = List(("<s>", "<p>", "😀", 5L), ("<s>", "<p>", "ﬀ", 5L))
    assert(winners(Lww.merge(df(side), df(Nil))) ==
      Set(("<s>", "<p>", "😀", 5L))) // Spark UTF-8 order: 😀 > ﬀ
  }

  test("lww_object UDAF breaks the same tie the same way (its JVM-side " +
    "comparator must be UTF8String order, not Scala's String >)") {
    import org.apache.spark.sql.functions.col
    val in = df(List(("<s>", "<p>", "ﬀ", 5L), ("<s>", "<p>", "😀", 5L)))
    val viaUdaf = in.groupBy("subject", "predicate")
      .agg(graft.functions.LwwObject.column(col("object"), col("ts_ms"))
        .as("object"))
      .as[(String, String, String)].collect().toSet
    assert(viaUdaf == Set(("<s>", "<p>", "😀")))
  }
}
