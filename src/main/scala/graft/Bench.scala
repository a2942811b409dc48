package graft
import graft.obs.Work
import graft.tools.Harness.{quote => js}
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession.create()
    // Warmup outside the timings: JVM/codegen/parquet-footer startup (else
    // the alphabetically-first query absorbs ~3 s of it) and the one-off
    // sharded materialization (an ETL write, not per-lookup cost — the
    // reference's baseline times lookups on an already-loaded store).
    spark.read.parquet(s"$sfDir/region.parquet").count()
    TripleStore.shardedPath(spark, sfDir)
    // Page-cache warm-up (BENCH_METHOD rule 9): stream every input file's
    // bytes through the OS read path once before any timed run. On freshly
    // regenerated testdata the r11 driver total was dominated by run-1
    // cold-cache I/O (169.9 s run 1 vs 88.1 s run 3, jobs flat —
    // BENCH_NOTES r11). Raw file reads, NOT Spark jobs: warming must not
    // perturb query plans or the job/stage counters.
    warmPageCache(new java.io.File(sfDir))
    // (name, seconds, jobs, stages, errorOrNull) — a failed query must be
    // visibly failed, not recorded as the round's fastest time. Per-query
    // MEDIAN of 3 runs: single-shot times at this scale carry ±0.1 s of
    // JIT/GC noise, which round-over-round comparisons would read as
    // regressions.
    //
    // Each run also records its job and stage count (BENCH_METHOD.md): an
    // iterative query's cost at fixed data size is dominated by its
    // driver-blocking job count, so a time regression with a flat job count
    // is environment noise while one with a job-count jump is a plan
    // regression. The counts are exact: `Work.of` drains the listener bus
    // on both sides of the run.
    val runs = 3
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val timed = (1 to runs).map(_ => Work.of(spark) {
        val t0 = System.nanoTime()
        val err =
          // noop sink, NOT count(): under a count the optimizer prunes the
          // final projection (a fingerprint query would be timed without
          // computing its fingerprints); the noop write materializes every
          // output row, which is what the reference's HTTP responses pay
          try {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            None
          }
          catch { case e: Throwable => Some(e.getClass.getSimpleName) }
        val dt = (System.nanoTime() - t0) / 1e9
        (dt, err)
      }).map { case ((dt, err), work) => (dt, work.jobs, work.stages, err) }
      val err = timed.flatMap(_._4).headOption
      // median over SUCCESSFUL runs only — a fast abort must not drag the
      // median down; if every run failed, fall back to all runs so the
      // entry still carries a (visibly-errored) time
      val ok = timed.filter(_._4.isEmpty)
      val used = if (ok.nonEmpty) ok else timed
      def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
      (name, med(used.map(_._1)), med(used.map(_._2.toDouble)).toLong,
        med(used.map(_._3.toDouble)).toLong, err)
    }
    val detail = renderDetail(results, sfDir)
    // per-sf file name: an sf0.001 smoke run must not clobber the committed
    // sf0.1 round-close artifact sitting in the same working directory
    val detailPath = detailFileName(sfDir)
    // the COMMITTED close detail: its total and a counts-flatness verdict
    // ride along in the stdout line (VERDICT r15 #8 — the driver's
    // post-close artifact and the committed close band are pure time-noise
    // apart whenever the executed plans are identical, but a reader of the
    // driver artifact alone could not see that without diffing details by
    // hand). Read from `git show HEAD:<path>` so the rider really compares
    // against the COMMITTED close, not whatever stale local run last
    // overwrote the working-tree file (r16 ADVICE); the working-tree read
    // is only the fallback for a non-repo checkout.
    // `git -C <detail dir>` + a path RELATIVE TO that dir (`./<name>`), so
    // resolution works from any JVM cwd — a bare `git show HEAD:<path>`
    // resolves repo-root-relative against the PROCESS cwd and, from any
    // other directory, silently fell through to the working-tree fallback:
    // exactly the stale-local-run comparison the HEAD read was added to
    // prevent (ADVICE r17). The rider carries WHICH source answered
    // (`close_src`) so a consumer can tell a committed-close comparison
    // from the non-repo fallback instead of inferring it.
    val detailDir = new java.io.File(detailPath).getAbsoluteFile.getParent
    val committedClose: Option[(String, String)] =
      (try {
        val silent = scala.sys.process.ProcessLogger(_ => ())
        Some((scala.sys.process.Process(
          Seq("git", "-C", detailDir, "show",
            s"HEAD:./${new java.io.File(detailPath).getName}")).!!(silent),
          "head"))
      } catch { case scala.util.control.NonFatal(_) => None })
      .orElse(
        try Some((java.nio.file.Files.readString(
          java.nio.file.Paths.get(detailPath)), "worktree"))
        catch { case scala.util.control.NonFatal(_) => None })
    try {
      val w = new java.io.PrintWriter(detailPath, "UTF-8")
      try w.println(detail) finally w.close()
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[graft.Bench] could not write $detailPath: $e")
    }
    val closeInfo = committedClose.flatMap { case (content, src) =>
      parseCloseDetail(content).map { case (tot, cJobs, cStages) =>
        // flat = SAME roster and per-query job+stage medians all equal;
        // a roster change is itself drift and must not read as flat
        val flat = results.map(_._1).toSet == cJobs.keySet &&
          results.forall { case (n, _, j, s, _) =>
            cJobs.get(n).contains(j) && cStages.get(n).contains(s) }
        (tot, flat, src)
      }
    }
    println(renderLine(results, sfDir, closeInfo))
    spark.stop()
  }

  /** Parse a committed BENCH_DETAIL file into (total-as-printed,
    * per-query jobs, per-query stages); None on any malformed content
    * (a missing or corrupt artifact must not fail the bench run). */
  private[graft] def parseCloseDetail(content: String):
      Option[(String, Map[String, Long], Map[String, Long])] =
    try {
      import org.json4s._
      val j = org.json4s.jackson.JsonMethods.parse(content)
      def longs(field: String): Map[String, Long] =
        (j \ field).asInstanceOf[JObject].obj.map {
          case (k, JInt(v)) => k -> v.toLong
          case (k, JLong(v)) => k -> v
          case (k, v) => k -> v.toString.toLong
        }.toMap
      val tot = (j \ "value") match {
        case JDouble(d) =>
          String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
        case JDecimal(d) => d.toString
        case JInt(i) => i.toString
        case _ => return None
      }
      Some((tot, longs("jobs"), longs("stages")))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** One result row: (query name, median seconds, median jobs, median
    * stages, first error class if any run failed). */
  type Result = (String, Double, Long, Long, Option[String])

  /** Reads every regular file under `dir` once and discards the bytes —
    * OS page-cache warming for the timed runs (BENCH_METHOD rule 9). */
  private def warmPageCache(dir: java.io.File): Unit = {
    val buf = new Array[Byte](1 << 20)
    Option(dir.listFiles()).getOrElse(Array.empty[java.io.File]).foreach { f =>
      if (f.isDirectory) warmPageCache(f)
      else {
        val in = new java.io.FileInputStream(f)
        try { while (in.read(buf) >= 0) () } finally in.close()
      }
    }
  }

  // Locale.ROOT, NOT the f interpolator: String.format under a
  // comma-decimal default locale (de_DE etc.) would render 0.72 as "0,72"
  // and break the JSON the line-budget work exists to make parseable.
  private def sec(v: Double) = // ±0.1 s run noise; ms is plenty
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
  // stdout-line values get less precision than the detail file: the
  // harness tail that must contain the whole line is 2000 chars, and at
  // 75 entries every byte of margin counts (±10 ms is inside run-to-run
  // noise anyway). Length-driven: decimals shed (2 → 1 → 0) until the
  // rendering fits 5 chars, so per-value width is BOUNDED for anything
  // under 100,000 s and the line-budget guarantee (BenchFormatSpec)
  // holds even in a pathological all-queries-at-999-s round, not only in
  // healthy ones. Magnitude thresholds alone don't work: %.1f of 999.994
  // is "1000.0" — rounding can grow the integer part past the tier.
  private def sec2(v: Double): String =
    (2 to 0 by -1).iterator
      .map(d => String.format(java.util.Locale.ROOT, s"%.${d}f",
        Double.box(v)))
      .find(_.length <= 5)
      .getOrElse(String.format(java.util.Locale.ROOT, "%.0f", Double.box(v)))
  private def errsJson(results: Seq[Result],
      key: String => String = identity) = results
    .collect { case (k, _, _, _, Some(e)) => s"${js(key(k))}:${js(e)}" }
    .mkString("{", ",", "}")

  /** Stdout-line query keys: the `qN` prefix of each gate name (the
    * driver contract's own example spells the line `{"q1":sec,…}`), full
    * name kept only where the bare prefix collides (the q5/q8 families).
    * At 81 entries the full names alone are ~1,600 chars — past the
    * harness tail budget at ANY value precision (r14) — while the detail
    * file ([[renderDetail]]) keeps full names for round-over-round
    * job/stage diffing. Injectivity is pinned in BenchFormatSpec: a
    * collision silently merging two queries' timings would be worse than
    * a long line. */
  private[graft] def lineKeys(names: Seq[String]): Map[String, String] = {
    val byPrefix = names.groupBy(_.takeWhile(_ != '_'))
    names.map { n =>
      val p = n.takeWhile(_ != '_')
      n -> (if (byPrefix(p).sizeIs == 1) p else n)
    }.toMap
  }

  /** The stdout contract: ONE parseable JSON line, and the harness that
    * reads it keeps only a 2,000-char tail of the run's output (with sbt's
    * success trailer behind the line) — r10's line carried the full
    * jobs/stages maps, overflowed that window, and the round lost its bench
    * numbers to a parse failure — and inspection showed every round's line
    * back to r5 had already overflowed it. So the line stays compact —
    * 2-decimal seconds, [[lineKeys]] short query keys (r14: the 81-entry
    * roster's full names alone no longer fit), errors only when any — and
    * the full tally is [[renderDetail]]'s file instead (BENCH_METHOD.md
    * rules 7–8). BenchFormatSpec pins the budget against the REAL gate
    * roster. */
  private[graft] def renderLine(results: Seq[Result], sfDir: String,
      closeInfo: Option[(String, Boolean, String)] = None): String = {
    val keys = lineKeys(results.map(_._1))
    val qsLine = results.map { case (k, v, _, _, _) =>
      s"${js(keys(k))}:${sec2(v)}"
    }.mkString("{", ",", "}")
    val ok = results.count(_._5.isEmpty)
    // errors only when present: the empty map would spend line budget on
    // the healthy case, and its absence IS the healthy signal (n_err 0)
    val errsLine =
      if (ok == results.size) ""
      else s""","errors":${errsJson(results, keys)}"""
    // total = sum of the per-query values AS PRINTED, so a consumer
    // cross-checking sum(queries) against value sees an exact match
    // instead of up-to-±0.005·n rounding skew (ADVICE r11). The total
    // itself keeps 2 decimals at any magnitude (one field; the adaptive
    // shedding is for the 75 per-query values) so the identity survives
    // totals ≥ 100 s.
    val total = results.filter(_._5.isEmpty)
      .map(r => sec2(r._2).toDouble).sum
    val totalStr = String.format(java.util.Locale.ROOT, "%.2f",
      Double.box(total))
    // the committed close's total + flatness verdict travel WITH the
    // driver's number (absent when no committed detail exists for this sf)
    val closeLine = closeInfo.map { case (tot, flat, src) =>
      s""","close_total":$tot,"close_counts_flat":$flat,"close_src":${js(src)}"""
    }.getOrElse("")
    s"""{"metric":"total","value":$totalStr,"unit":"sec","queries":$qsLine$errsLine,"n_ok":$ok,"n_err":${results.size - ok},"sf":${js(sfDir)}$closeLine}"""
  }

  /** `BENCH_DETAIL_<sf-basename>.json` — e.g. `BENCH_DETAIL_sf0.1.json`. */
  private[graft] def detailFileName(sfDir: String): String =
    "BENCH_DETAIL_" + new java.io.File(sfDir).getName + ".json"

  /** The full record (3-decimal seconds + per-query job/stage medians),
    * written to [[detailFileName]] and committed at round close. */
  private[graft] def renderDetail(results: Seq[Result], sfDir: String): String = {
    val qs = results.map { case (k, v, _, _, _) => s"${js(k)}:${sec(v)}" }
      .mkString("{", ",", "}")
    val jobs = results.map { case (k, _, j, _, _) => s"${js(k)}:$j" }
      .mkString("{", ",", "}")
    val stages = results.map { case (k, _, _, st, _) => s"${js(k)}:$st" }
      .mkString("{", ",", "}")
    val ok = results.filter(_._5.isEmpty)
    // same convention as renderLine: sum of the values as printed (3-dec)
    val total = ok.map(r => sec(r._2).toDouble).sum
    s"""{"metric":"total","value":${sec(total)},"unit":"sec","queries":$qs,"jobs":$jobs,"stages":$stages,"errors":${errsJson(results)},"n_ok":${ok.size},"n_err":${results.size - ok.size},"sf":${js(sfDir)}}"""
  }
}
