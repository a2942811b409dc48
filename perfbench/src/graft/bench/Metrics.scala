package graft.bench

import scala.collection.mutable

/** Every metric name the benchmark prints. Every workload prints every
  * name: the end-to-end names in untraced runs, the per-layer names in
  * traced runs. What one operation is differs by workload (README.md). */
object Names {
  val Workloads = Seq("serve", "ingest", "analytics")
  val Families = Seq("store_lww", "relational", "docs", "vectors", "graph",
    "media", "streaming")

  val EndToEnd: Seq[(String, String)] = Seq(
    "ops_per_s" -> "1/s", "op_p50_ms" -> "ms", "cpu_s" -> "s",
    "disk_mb" -> "MB", "setup_s" -> "s", "peak_rss_mb" -> "MB")

  /** Spark's layers, summed over the measured operations of a run. */
  val PerLayer: Seq[(String, String)] = Seq(
    "catalyst.plan_ms" -> "ms", "sql.exec_ms" -> "ms",
    "scheduler.jobs" -> "count", "scheduler.tasks" -> "count",
    "scheduler.task_wait_ms" -> "ms", "executor.cpu_ms" -> "ms",
    "executor.gc_ms" -> "ms",
    "scan.bytes_read" -> "bytes", "scan.rows_read" -> "count",
    "shuffle.bytes_written" -> "bytes", "sink.rows_written" -> "count",
    "sink.bytes_written" -> "bytes", "driver.ms" -> "ms")

  /** Metrics a run prints: end-to-end, or per-layer when traced. */
  def forRun(traced: Boolean): Seq[(String, String)] =
    if (traced) PerLayer else EndToEnd

  val Valid = "[A-Za-z0-9_.-]+".r
}

/** The per-layer metrics of one run: each operation's Spark counters
  * summed over the measured operations. */
object Layers {
  def of(ops: Seq[OpRecord]): Map[String, Double] = {
    def sum(f: Counters => Double) = ops.map(o => f(o.c)).sum
    Map(
      "catalyst.plan_ms" -> sum(_.planMs),
      "sql.exec_ms" -> sum(_.execMs),
      "scheduler.jobs" -> sum(_.jobs.toDouble),
      "scheduler.tasks" -> sum(_.tasks.toDouble),
      "scheduler.task_wait_ms" -> sum(_.taskWaitMs.toDouble),
      "executor.cpu_ms" -> sum(_.cpuMs),
      "executor.gc_ms" -> sum(_.gcMs.toDouble),
      "scan.bytes_read" -> sum(_.bytesRead.toDouble),
      "scan.rows_read" -> sum(_.recordsRead.toDouble),
      "shuffle.bytes_written" -> sum(_.shuffleBytes.toDouble),
      "sink.rows_written" -> sum(_.recordsWritten.toDouble),
      "sink.bytes_written" -> sum(_.bytesWritten.toDouble),
      "driver.ms" -> ops.map(o => o.c.uncoveredMs(o.startMs, o.endMs).toDouble).sum)
  }

  /** A few counters per operation kind, as a context line: which kind a
    * per-layer total moved in. */
  def byKind(ops: Seq[OpRecord], kind: OpRecord => String): String =
    ops.groupBy(kind).toSeq.sortBy(_._1).map { case (k, os) =>
      val c = os.map(_.c)
      f"$k(n=${os.size} jobs=${c.map(_.jobs).sum} plan_ms=${c.map(_.planMs).sum}%.0f " +
        f"cpu_ms=${c.map(_.cpuMs).sum}%.0f rows_read=${c.map(_.recordsRead).sum} " +
        f"wall_ms=${os.map(o => o.endMs - o.startMs).sum})"
    }.mkString(" ")
}

/** Sample statistics with the benchmark's reporting rules. */
object Stats {

  /** Nearest-rank percentile `p` of `xs`, or None unless at least
    * `minBeyond` samples lie above it — a p90 needs 100 samples, since the
    * value is only as good as the tail behind it. Failed operations enter
    * as +Infinity, so they push every percentile up. */
  def percentile(xs: Seq[Double], p: Double, minBeyond: Int): Option[Double] = {
    val n = xs.size
    val rank = math.max(1, math.ceil(p / 100.0 * n).toInt)
    if (n == 0 || n - rank < minBeyond) None else Some(xs.sorted.apply(rank - 1))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Counts operations attempted and failed, and keeps each operation kind's
  * latencies. An operation fails if it throws or if its output check says
  * so; a failed operation's latency is recorded as +Infinity, so it misses
  * every latency limit. */
final class Recorder {
  var attempted = 0L
  var failed = 0L
  val latencies = mutable.Map[String, mutable.ArrayBuffer[Double]]()
  val failures = mutable.ArrayBuffer[String]()

  def samples(kind: String): Seq[Double] =
    latencies.getOrElse(kind, mutable.ArrayBuffer.empty[Double]).toSeq

  /** Times `body` (milliseconds) and checks its result with `check`, which
    * returns an error message or None. Returns the result when it passed. */
  def run[A](kind: String)(body: => A)(check: A => Option[String]): Option[A] = {
    attempted += 1
    val t0 = System.nanoTime()
    val outcome = try Right(body) catch {
      case scala.util.control.NonFatal(e) => Left(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    val ms = (System.nanoTime() - t0) / 1e6
    val verdict = outcome.flatMap(a => check(a).toLeft(a))
    val buf = latencies.getOrElseUpdate(kind, mutable.ArrayBuffer())
    verdict match {
      case Right(a) => buf += ms; Some(a)
      case Left(why) =>
        failed += 1
        buf += Double.PositiveInfinity
        if (failures.size < 20) failures += s"$kind: $why"
        None
    }
  }
}
