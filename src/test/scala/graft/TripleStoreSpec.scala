package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Lww

class TripleStoreSpec extends AnyFunSuite with TempDirs {

  private val spark = SparkTestSession.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  test("search: O1 point scan returns the subject's triples (flagship)") {
    val rows = TripleStore.search(spark, sf, "<order_42>")
      .as[Triple].collect()
    assert(rows.length == 3)
    assert(rows.map(_.predicate).sorted.toSeq ==
      Seq("<hasPriority>", "<hasStatus>", "<orderedBy>"))
  }

  test("searchSharded == search, and the filter is pushed to the scan") {
    val direct  = TripleStore.search(spark, sf, "<order_42>")
      .as[Triple].collect().toSet
    val sharded = TripleStore.searchSharded(spark, sf, "<order_42>")
    assert(sharded.as[Triple].collect().toSet == direct)
    // Over the materialized layout the predicate reaches the parquet reader
    // (row-group min/max skipping); over the derived view it cannot.
    val plan = sharded.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(subject), EqualTo(subject,<order_42>)]"),
      s"subject filter not pushed:\n$plan")
  }

  test("sharded layout: range partitions cover disjoint subject ranges") {
    val path = TripleStore.shardedPath(spark, sf)
    val files = spark.read.parquet(path).inputFiles
    assert(files.length >= 2)   // numShards=3, small data may coalesce ranges
    // Each file's [min, max] subject range must not overlap any other's —
    // that disjointness is what makes shard pruning possible (the analog of
    // the reference's non-overlapping SHARDING boxes, MasterServer.py:59-63).
    val ranges = files.toSeq.map { f =>
      val r = spark.read.parquet(f)
        .agg(org.apache.spark.sql.functions.min("subject"),
          org.apache.spark.sql.functions.max("subject"))
        .as[(String, String)].head()
      r
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi1), (lo2, _)) => assert(hi1 <= lo2, s"overlap: $ranges")
      case _ =>
    }
  }

  test("describeShardsFromLayout: footer-derived shard map matches the " +
    "data, after a reshard reports the NEW boundaries") {
    val path5 = TripleStore.reshardedPath(spark, sf)
    val desc = TripleStore.describeShardsFromLayout(spark, path5)
      .select("shard_id", "n_rows", "min_subject", "max_subject")
      .as[(Long, Long, String, String)].collect().toSeq
    val store = spark.read.parquet(path5)
    // counts: per-shard rows sum to the store
    assert(desc.map(_._2).sum == store.count())
    assert(desc.forall(_._2 > 0))
    // bounds: footer stats must equal the data's actual per-file min/max
    val byFile = store.inputFiles.sorted.toSeq.map { f =>
      spark.read.parquet(f)
        .agg(org.apache.spark.sql.functions.min("subject"),
          org.apache.spark.sql.functions.max("subject"))
        .as[(String, String)].head()
    }
    assert(desc.map(d => (d._3, d._4)).sortBy(_._1) == byFile.sortBy(_._1),
      s"footer bounds != data bounds: $desc vs $byFile")
    // the physical map is the DISJOINT cover the declared map can't see
    desc.map(d => (d._3, d._4)).sortBy(_._1).sliding(2).foreach {
      case Seq((_, hi1), (lo2, _)) => assert(hi1 <= lo2)
      case _ =>
    }
  }

  test("auditFooterMap: EXACT branch audits every file at gate scale; " +
    "above the row threshold it audits the deterministic first/middle/" +
    "last 3-file sample — never the whole store (r16: a describe must " +
    "not hide a full corpus scan at 100x)") {
    val path5 = TripleStore.reshardedPath(spark, sf)
    val footer = TripleStore.describeShardsFromLayout(spark, path5)
      .select("file", "n_rows", "min_subject", "max_subject")
      .as[(String, Long, String, String)].collect().sortBy(_._1).toSeq
    // exact branch: threshold far above the store -> all 5 files audited
    val exactAudited = TripleStore.auditFooterMap(spark, path5, "spec",
      footer, maxExactRows = Long.MaxValue)
    assert(exactAudited == footer.map(_._1),
      s"exact branch must audit every file: $exactAudited")
    // sampled branch: threshold 0 -> exactly first/middle/last by name,
    // and the audit still validates (no exception) on those files
    val sampled = TripleStore.auditFooterMap(spark, path5, "spec",
      footer, maxExactRows = 0L)
    assert(sampled == Seq(footer.head._1, footer(footer.size / 2)._1,
      footer.last._1), s"sampled branch picked $sampled")
    // the sampled branch still CATCHES divergence on an audited file
    val poisoned = footer.updated(0,
      footer.head.copy(_2 = footer.head._2 + 1))
    val e = intercept[IllegalArgumentException] {
      TripleStore.auditFooterMap(spark, path5, "spec", poisoned,
        maxExactRows = 0L)
    }
    assert(e.getMessage.contains("diverged"))
  }

  test("auditFooterMap: a planted ORPHAN data file (foreign non-part name " +
    "the footer walk never sees) fails the audit in BOTH branches — the " +
    "listing-vs-footer reconciliation is an FS metadata op, so the " +
    "sampled branch catches it too (r17, the r16 sampled-branch blind " +
    "spot)") {
    val path5 = TripleStore.reshardedPath(spark, sf)
    val footer = TripleStore.describeShardsFromLayout(spark, path5)
      .select("file", "n_rows", "min_subject", "max_subject")
      .as[(String, Long, String, String)].collect().sortBy(_._1).toSeq
    val orphan = java.nio.file.Paths.get(
      path5.stripPrefix("file:"), "foreign-writer-0.parquet")
    java.nio.file.Files.writeString(orphan, "not a shard")
    try {
      val eExact = intercept[IllegalArgumentException] {
        TripleStore.auditFooterMap(spark, path5, "spec", footer,
          maxExactRows = Long.MaxValue)
      }
      assert(eExact.getMessage.contains("orphan or missing"), eExact.getMessage)
      val eSampled = intercept[IllegalArgumentException] {
        TripleStore.auditFooterMap(spark, path5, "spec", footer,
          maxExactRows = 0L)
      }
      assert(eSampled.getMessage.contains("orphan or missing"),
        eSampled.getMessage)
    } finally {
      // the layout is memoized per session — leave it clean for q84's own
      // gate entry and every later consumer
      java.nio.file.Files.deleteIfExists(orphan)
      ()
    }
    // and the audit is green again once the orphan is gone
    TripleStore.auditFooterMap(spark, path5, "spec", footer,
      maxExactRows = 0L)
  }

  test("shardPredicate filters a changelog to a shard's range box (O5/O11)") {
    val upd = TripleStore.updates(spark, sf)
    val inShard = upd.filter(Lww.shardPredicate("<order_1", "<a", "<order_5", "<z"))
      .as[Triple].collect()
    assert(inShard.nonEmpty)
    assert(inShard.forall(t =>
      t.subject >= "<order_1" && t.subject <= "<order_5"))
    // complement check: nothing outside the box was kept
    val all = upd.as[Triple].collect()
    val expected = all.filter(t =>
      t.subject >= "<order_1" && t.subject <= "<order_5" &&
        t.predicate >= "<a" && t.predicate <= "<z")
    assert(inShard.toSet == expected.toSet)
  }

  test("bucketed layout: LWW merge of two co-bucketed stores shuffles " +
    "nothing on the probe side") {
    import org.apache.spark.sql.functions.col
    spark.sql("DROP TABLE IF EXISTS t_local")
    spark.sql("DROP TABLE IF EXISTS t_remote")
    // a previous failed run may have left the managed locations behind
    // without catalog entries; saveAsTable refuses to reuse them
    val wh = new java.io.File(
      sys.props("java.io.tmpdir") + "/graft_test_warehouse")
    Seq("t_local", "t_remote").foreach { t =>
      val d = new java.io.File(wh, t)
      if (d.exists()) {
        d.listFiles().foreach(_.delete()); d.delete()
      }
    }
    TripleStore.writeBucketed(TripleStore.triples(spark, sf), "t_local", 4)
    TripleStore.writeBucketed(
      TripleStore.remoteChangelog(spark, sf), "t_remote", 4)
    // at test scale the planner would broadcast the small side; disable it
    // to get the sort-merge join a 100 TB merge would use, which is where
    // bucket co-location eliminates the shuffle
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("t_local").join(spark.table("t_remote"),
        Seq("subject", "predicate"), "left_semi")
      val plan = joined.queryExecution.executedPlan.toString
      // co-bucketed + co-sorted => sort-merge join with zero Exchange
      assert(plan.contains("SortMergeJoin"), s"not a merge join:\n$plan")
      assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
      assert(joined.count() > 0)
      // and an aggregation on the bucket key also avoids the shuffle
      val agg = spark.table("t_local").groupBy("subject", "predicate").count()
      assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"))
      // the full co-located anti-entropy merge (q31's operator): full-outer
      // SMJ, still Exchange-free, values identical to the aggregate kernel
      val co = Lww.mergeCoLocated(
        spark.table("t_local"), spark.table("t_remote"))
      val coPlan = co.queryExecution.executedPlan.toString
      assert(coPlan.contains("SortMergeJoin"), s"not a merge join:\n$coPlan")
      assert(!coPlan.contains("Exchange"), s"unexpected shuffle:\n$coPlan")
      val got = co.as[Triple].collect().toSet
      val want = Lww.merge(TripleStore.triples(spark, sf),
        TripleStore.remoteChangelog(spark, sf)).as[Triple].collect().toSet
      assert(got == want)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("dropTableAndLocation clears the LOWERCASED managed location for a " +
    "mixed-case table name (catalog folds unquoted identifiers)") {
    val wh = new java.io.File(new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath)
    // simulate a crashed save: stale staging tree at the catalog's (lower
    // case) location, no catalog entry
    val loc = new java.io.File(wh, "graft_mixedcase_tbl")
    val staging = new java.io.File(loc, "_temporary/0")
    staging.mkdirs()
    new java.io.FileOutputStream(new java.io.File(staging, "part-0")).close()
    TripleStore.dropTableAndLocation(spark, "Graft_MixedCase_TBL")
    assert(!loc.exists(),
      "stale lowercased location survived a mixed-case drop")
  }

  test("sharded point lookup: the scan outputs only the probed rows " +
    "(row-group skipping observed via scan metrics)") {
    val df = TripleStore.searchSharded(spark, sf, "<order_42>")
    assert(df.count() == 3)
    df.collect()
    // the scan metric counts rows surviving row-group/page min-max
    // skipping (row-level filtering happens in the Filter above it), so
    // "far fewer than the store" is what pruning guarantees here
    val scanRows = df.queryExecution.executedPlan.collectLeaves()
      .map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum
    val total = spark.read.parquet(TripleStore.shardedPath(spark, sf)).count()
    assert(total > 1000, s"store unexpectedly small: $total")
    assert(scanRows > 0 && scanRows < total / 2,
      s"scan emitted $scanRows of $total rows — no page skipping")
  }

  test("reshard 3->5 (O20): content preserved, ranges disjoint, pruning " +
    "still holds on the new boundaries") {
    val path5 = TripleStore.reshardedPath(spark, sf)
    val before = spark.read.parquet(TripleStore.shardedPath(spark, sf))
    val after = spark.read.parquet(path5)
    assert(after.count() == before.count())

    // new layout's files still cover disjoint subject ranges
    val ranges = after.inputFiles.toSeq.map { f =>
      spark.read.parquet(f)
        .agg(org.apache.spark.sql.functions.min("subject"),
          org.apache.spark.sql.functions.max("subject"))
        .as[(String, String)].head()
    }.sortBy(_._1)
    assert(ranges.length >= 2)
    ranges.sliding(2).foreach {
      case Seq((_, hi1), (lo2, _)) => assert(hi1 <= lo2, s"overlap: $ranges")
      case _ =>
    }

    // point scan against the resharded store still prunes (scan metrics)
    val probe = after
      .filter(org.apache.spark.sql.functions.col("subject") === "<order_42>")
    assert(probe.count() == 3)
    probe.collect()
    val scanRows = probe.queryExecution.executedPlan.collectLeaves()
      .map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum
    val total = after.count()
    assert(scanRows > 0 && scanRows < total / 2,
      s"scan emitted $scanRows of $total rows — reshard broke pruning")
  }

  test("z-ordered store layout: predicate-only probes prune files the " +
    "subject-sharded layout cannot, and subject probes still prune") {
    import org.apache.spark.sql.functions.{col, max, min}
    val t = TripleStore.triples(spark, sf)
    val base = tmp("graft_zstore")
    val (zdir, sdir) = (s"$base/z", s"$base/s")
    TripleStore.writeZOrdered(t, zdir, numShards = 16)
    TripleStore.writeSharded(t, sdir, 16)
    assert(spark.read.parquet(zdir).count() == t.count(), "content lost")

    // a file can serve min/max skipping for a point probe iff its stats
    // interval contains the probed value — count the files that cannot skip
    def overlapping(dir: String, c: String, v: String): Int =
      spark.read.parquet(dir).inputFiles.count { f =>
        val (mn, mx) = spark.read.parquet(f).agg(min(col(c)), max(col(c)))
          .as[(String, String)].head()
        mx >= v && mn <= v
      }
    val zn = spark.read.parquet(zdir).inputFiles.length
    val sn = spark.read.parquet(sdir).inputFiles.length
    assert(zn >= 8 && sn >= 8, s"need multiple files ($zn z, $sn sharded)")

    // predicate-only probe: the subject-sharded layout interleaves all
    // three order predicates inside every order file (~93% of rows), so
    // nearly every file's [min, max] covers the probe; the z layout
    // clusters the predicate dimension and skips most files
    val zp = overlapping(zdir, "predicate", "<hasPriority>")
    val sp = overlapping(sdir, "predicate", "<hasPriority>")
    assert(zp <= zn / 2, s"z layout: $zp of $zn files overlap the predicate")
    assert(sp >= sn * 3 / 4,
      s"subject layout unexpectedly predicate-clustered: $sp of $sn")

    // the z layout must keep pruning the FIRST dimension too (that's the
    // point of interleaving vs just sorting by predicate)
    val zs = overlapping(zdir, "subject", "<order_42>")
    assert(zs <= zn / 2, s"z layout: $zs of $zn files overlap the subject")

    // and the probe itself row-group-skips: scan metrics emit far fewer
    // rows than the store for a predicate-only point query (through the
    // serving API over the session-memoized layout)
    val probe = TripleStore.searchZOrdered(spark, sf,
      predicate = Some("<inRegion>"))
    probe.collect()
    assert(probe.count() == 25, "every nation has exactly one <inRegion>")
    val scanRows = probe.queryExecution.executedPlan.collectLeaves()
      .map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum
    val total = t.count()
    assert(scanRows > 0 && scanRows < total / 2,
      s"scan emitted $scanRows of $total rows — no predicate skipping")
  }

  // The reference's real shard boundary is the non-ASCII subject '<₩uNo>'
  // (MasterServer.py:62, MongoNodeServer.py:22-26) — its Python string
  // comparisons are code-point order, which for Spark means binary UTF-8
  // order (identical for all of Unicode). These fixtures put multi-byte
  // subjects AT a range boundary; Java's String order (UTF-16 code units)
  // diverges from code-point order above the BMP, so assertions compare by
  // code points, never by compareTo.
  private val boundarySubjects = Seq(
    "<AAA>", "<Steve_Pickell>", "<aaa>", "<zzz>",
    "<₩uNo>",      // ₩ U+20A9 — the reference's literal boundary
    "<₩uNo_2>",
    "<😀_img>", // 😀 U+1F600, supplementary: UTF-16 order diverges
    "<�_repl>")      // U+FFFD sorts between ₩ and 😀 by code point

  private def cpCompare(a: String, b: String): Int = {
    val (x, y) = (a.codePoints.toArray, b.codePoints.toArray)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      if (x(i) != y(i)) return Integer.compare(x(i), y(i))
      i += 1
    }
    Integer.compare(x.length, y.length)
  }

  test("non-ASCII boundary: writeSharded ranges stay disjoint under " +
    "code-point ordering (the reference's <₩uNo> boundary)") {
    val df = boundarySubjects.zipWithIndex.map { case (s, i) =>
      (s, "<p>", s"v$i", i.toLong)
    }.toDF("subject", "predicate", "object", "ts_ms")
    val out = tmp("graft_nonascii") + "/st"
    TripleStore.writeSharded(df, out, numShards = 3)
    val files = spark.read.parquet(out).inputFiles
    val ranges = files.toSeq.map { f =>
      spark.read.parquet(f)
        .agg(org.apache.spark.sql.functions.min("subject"),
          org.apache.spark.sql.functions.max("subject"))
        .as[(String, String)].head()
    }.sortWith((a, b) => cpCompare(a._1, b._1) < 0)
    assert(ranges.length >= 2)
    ranges.sliding(2).foreach {
      case Seq((_, hi1), (lo2, _)) =>
        assert(cpCompare(hi1, lo2) <= 0, s"overlap under code points: $ranges")
      case _ =>
    }
    // nothing lost or reordered by the multi-byte shuffle keys
    assert(spark.read.parquet(out).select("subject").as[String].collect()
      .toSet == boundarySubjects.toSet)
    // Spark's own ordering of the fixtures == code-point ordering (what the
    // reference's Python comparisons produce), including above the BMP
    val sparkSorted = df.orderBy("subject").select("subject")
      .as[String].collect().toSeq
    assert(sparkSorted == boundarySubjects.sortWith(cpCompare(_, _) < 0),
      s"Spark order diverges from code-point order: $sparkSorted")
  }

  test("non-ASCII boundary: writeZOrdered preserves multi-byte subjects " +
    "exactly and probes return them") {
    // the z-layout's sampled boundaries + range_bucket comparisons run over
    // the same multi-byte strings as writeSharded's range shuffle — nothing
    // may be lost, duplicated, or mis-bucketed at the <₩uNo>/astral edges
    val df = boundarySubjects.zipWithIndex.map { case (s, i) =>
      (s, if (i % 2 == 0) "<p>" else "<q>", s"v$i", i.toLong)
    }.toDF("subject", "predicate", "object", "ts_ms")
    val out = tmp("graft_nonascii_z") + "/z"
    TripleStore.writeZOrdered(df, out, numShards = 3)
    val back = spark.read.parquet(out)
    assert(back.select("subject").as[String].collect().toSet ==
      boundarySubjects.toSet)
    assert(back.count() == boundarySubjects.length)
    // point probes on each dimension return exactly the planted rows
    assert(back.filter(org.apache.spark.sql.functions.col("subject") ===
      "<😀_img>").count() == 1)
    assert(back.filter(org.apache.spark.sql.functions.col("predicate") ===
      "<q>").count() == boundarySubjects.length / 2)
  }

  test("writeZOrdered degenerate dimensions: a constant subject (one " +
    "post-distinct boundary) and a single-row input both round-trip") {
    val one = Seq(("<s>", "<p>", "v", 1L))
      .toDF("subject", "predicate", "object", "ts_ms")
    val constSubj = (1 to 50).map(i => ("<same>", s"<p$i>", s"v$i", i.toLong))
      .toDF("subject", "predicate", "object", "ts_ms")
    val base = tmp("graft_zdegen")
    TripleStore.writeZOrdered(one, s"$base/one", numShards = 2)
    TripleStore.writeZOrdered(constSubj, s"$base/c", numShards = 4)
    assert(spark.read.parquet(s"$base/one").count() == 1)
    val back = spark.read.parquet(s"$base/c")
    assert(back.count() == 50)
    assert(back.select("predicate").as[String].collect().toSet ==
      (1 to 50).map(i => s"<p$i>").toSet)
  }

  test("non-ASCII boundary: shardPredicate membership at <₩uNo> matches " +
    "code-point semantics") {
    val df = boundarySubjects.zipWithIndex.map { case (s, i) =>
      (s, "<p>", s"v$i", i.toLong)
    }.toDF("subject", "predicate", "object", "ts_ms")
    // the reference's box: subjects from '<₩uNo>' upward (MasterServer.py:62
    // gives shard 3 the range starting at the non-ASCII boundary)
    val kept = df.filter(Lww.shardPredicate("<₩uNo>", "<a", "￿", "<z"))
      .select("subject").as[String].collect().toSet
    val expected = boundarySubjects
      .filter(s => cpCompare(s, "<₩uNo>") >= 0).toSet
    assert(kept == expected, s"kept=$kept expected=$expected")
    assert(kept.contains("<₩uNo>") && kept.contains("<😀_img>"))
    assert(!kept.contains("<Steve_Pickell>"))
  }

  test("non-ASCII boundary: TSV round-trip preserves multi-byte subjects " +
    "exactly") {
    val orig = boundarySubjects.zipWithIndex.map { case (s, i) =>
      (s, "<p>", s"v$i", 1700000000000L + i)
    }.toDF("subject", "predicate", "object", "ts_ms")
    val dir = tmp("graft_tsv_nonascii") + "/out"
    TripleStore.writeTsv(orig, dir)
    val back = TripleStore.fromTsv(spark, dir)
    assert(back.as[Triple].collect().toSet == orig.as[Triple].collect().toSet)
  }

  test("TSV round-trip preserves boundary whitespace (the CSV writer " +
    "trims it BY DEFAULT — ignoreLeading/TrailingWhiteSpace default true " +
    "on write; caught by q73's object-bounds probe)") {
    val orig = Seq(
      ("<s1>", "<p>", " leading", 1700000000000L),
      ("<s2>", "<p>", "trailing ", 1700000000001L),
      ("<s3>", "<p>", "  both  ", 1700000000002L),
      ("<s4>", "<p>", "back\\slash", 1700000000003L))
      .toDF("subject", "predicate", "object", "ts_ms")
    val dir = tmp("graft_tsv_ws") + "/out"
    TripleStore.writeTsv(orig, dir)
    val back = TripleStore.fromTsv(spark, dir)
    assert(back.as[Triple].collect().toSet == orig.as[Triple].collect().toSet)
  }

  test("writeTsv/fromTsv round-trip preserves rows and timestamps") {
    import org.apache.spark.sql.functions.col
    val dir = tmp("graft_tsv_rt") + "/out"
    val orig = TripleStore.updates(spark, sf)
    TripleStore.writeTsv(orig, dir)
    val back = TripleStore.fromTsv(spark, dir)
    assert(back.as[Triple].collect().toSet == orig.as[Triple].collect().toSet)
  }

  test("writeJsonl round-trips the reference's JSON wire format through " +
    "the streaming jsonl source, including non-ASCII and quote-bearing " +
    "values") {
    val dir = tmp("graft_jsonl") + "/out"
    val orig = Seq(
      ("<Albert_Einstein>", "<hasWonPrize>", "<Nobel_Prize>", 1717245045123L),
      ("<₩uNo>", "<p>", "say \"hi\"\tok", 0L),
      ("<😀_img>", "<q>", "multi\nline", -62135596800000L))
      .toDF("subject", "predicate", "object", "ts_ms")
    TripleStore.writeJsonl(orig, dir)
    val q = graft.streaming.StreamingLww.jsonlSource(spark, dir,
        graft.streaming.StreamingLww.TripleSchema)
      .writeStream.format("memory").queryName("jsonl_roundtrip")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    assert(spark.table("jsonl_roundtrip").as[Triple].collect().toSet ==
      orig.as[Triple].collect().toSet)
  }

  test("fromTsv: O15 bulk load parses reference-format timestamps") {
    val dir = new java.io.File(tmp("graft_tsv"))
    val f = new java.io.File(dir, "fixture.tsv")
    // reference smoke rows (MongoDBConnector.py:211, MasterServer.py:59-63);
    // initial bulk-load rows get datetime.min (MongoDBConnector.py:254)
    Files.writeString(f.toPath,
      "<Albert_Einstein>\t<hasWonPrize>\t<Nobel_Prize>\t2024-06-01 12:30:45.123456\n" +
      "<Steve_Pickell>\t<playsFor>\t<team_1>\t0001-01-01 00:00:00.000000\n")
    val rows = TripleStore.fromTsv(spark, f.getAbsolutePath)
      .as[Triple].collect().sortBy(_.subject)
    assert(rows.length == 2)
    assert(rows(0).subject == "<Albert_Einstein>" &&
      rows(0).ts_ms ==
        java.time.Instant.parse("2024-06-01T12:30:45.123Z").toEpochMilli)
    assert(rows(1).subject == "<Steve_Pickell>" && rows(1).ts_ms < 0)
  }
}
