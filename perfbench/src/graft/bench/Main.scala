package graft.bench

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** What a workload hands back: metric values by name, free-form facts
  * printed beside them (context, never compared), and the kind of each
  * measured operation, for the traced run's per-kind line. */
final case class Outcome(metrics: Map[String, Double], info: Map[String, String],
    kindOf: OpRecord => String = _.name)

/** Shared state of one benchmark run. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
    val work: String, val tracer: Tracer) {
  val rec = new Recorder
  val rng = new java.util.SplittableRandom(seed)
  /** Seconds of each timed set-up, for the run's record. */
  var setupRuns: Seq[Double] = Nil
  /** Process CPU seconds (every JVM thread) of the measured work. */
  var cpuS: Double = Double.NaN

  /** The first `n` set-ups are timed one by one; set-up time is the median,
    * and the last set-up's result is the one the run uses. */
  def setupMedian[A](n: Int)(build: Int => A): (A, Double) = {
    val runs = (0 until n).map { i =>
      val t0 = System.nanoTime()
      val a = build(i)
      (a, (System.nanoTime() - t0) / 1e9)
    }
    setupRuns = runs.map(_._2)
    (runs.last._1, Stats.median(setupRuns))
  }

  /** Runs the measured work: the tracer's operations and the process CPU
    * time are counted from here to its end, not during warm-up. */
  def measure[A](body: => A): A = {
    tracer.clearOps()
    val cpu0 = Main.processCpuNs()
    try body finally cpuS = (Main.processCpuNs() - cpu0) / 1e9
  }

  /** `xs` in a seeded random order. */
  def shuffled[A: scala.reflect.ClassTag](xs: Seq[A]): Array[A] = {
    val a = xs.toArray
    for (i <- a.indices.reverse) {
      val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }
}

/** Benchmark entry point:
  * `Main --workload <serve|ingest|analytics> --seed <n> --seconds <s>
  *  --trace <0|1> --work <dir> [--spans <file>]`.
  *
  * Prints `BENCH_RESULT <json>` as its last stdout line. With trace 0 the
  * metrics are the end-to-end names, with trace 1 the per-layer names (see
  * [[Names]]); every workload prints all of them. */
object Main {

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def arg(k: String) = args.getOrElse(k, sys.error(s"missing $k"))
    val workload = arg("--workload")
    require(Names.Workloads.contains(workload), s"unknown workload $workload")
    val traced = arg("--trace") == "1"
    val work = new File(arg("--work")).getAbsolutePath
    new File(work).mkdirs()

    val t0 = System.nanoTime()
    val spark = graft.LocalSession.create(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark, traced)
    val ctx = new Ctx(spark, arg("--seed").toLong, arg("--seconds").toDouble,
      work, tracer)
    val out = workload match {
      case "serve" => Serve.run(ctx)
      case "ingest" => Ingest.run(ctx)
      case "analytics" => Analytics.run(ctx)
    }
    val metrics = out.metrics ++ Layers.of(tracer.ops) ++ Map(
      "setup_s" -> (sessionS + out.metrics("setup_s")),
      "cpu_s" -> ctx.cpuS, "peak_rss_mb" -> peakRssMb())
    args.get("--spans").foreach(p => writeSpans(p, tracer.spans))
    val info = out.info ++ Map("session_s" -> f"$sessionS%.3f",
      "setup_runs_s" -> ctx.setupRuns.map(s => f"$s%.3f").mkString(" ")) ++
      (if (traced) Map("layers_by_op" -> Layers.byKind(tracer.ops, out.kindOf))
      else Map.empty)
    println(render(traced, metrics, info, ctx.rec))
    spark.stop()
  }

  /** CPU time of every thread of this JVM, nanoseconds. */
  def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** The process's resident-set high-water mark (Linux `VmHWM`). */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(Double.NaN)

  def json(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** The result line. Only the registered names are printed; a name the
    * run did not produce is left out, and so is an infinite value (a
    * percentile reached by failed operations). A traced run also carries
    * its end-to-end values under "traced_end_to_end", the input of the
    * tracing-overhead figure. */
  def render(traced: Boolean, metrics: Map[String, Double],
      info: Map[String, String], rec: Recorder): String = {
    def block(names: Seq[(String, String)]) = names.flatMap { case (n, unit) =>
      metrics.get(n).filter(v => !v.isNaN && !v.isInfinite).map(v =>
        s"${json(n)}: {${json("value")}: $v, ${json("unit")}: ${json(unit)}}")
    }.mkString("{", ", ", "}")
    val infos = info.toSeq.sortBy(_._1).map { case (k, v) => s"${json(k)}: ${json(v)}" }
    val fails = rec.failures.map(json)
    "BENCH_RESULT {" +
      s""""correct": ${rec.failed == 0}, "attempted": ${rec.attempted}, """ +
      s""""failed": ${rec.failed}, "metrics": ${block(Names.forRun(traced))}, """ +
      s""""traced_end_to_end": ${if (traced) block(Names.EndToEnd) else "{}"}, """ +
      s""""info": {${infos.mkString(", ")}}, "failures": [${fails.mkString(", ")}]}"""
  }

  private def writeSpans(path: String, spans: Seq[Span]): Unit = {
    val body = spans.sortBy(s => (s.startMs, s.id)).map { s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "name": ${json(s.name)}, """ +
        s""""start_ms": ${s.startMs}, "end_ms": ${s.endMs}, "group": ${json(s.group)}}"""
    }
    Files.writeString(Paths.get(path), body.mkString("[\n", ",\n", "\n]\n"))
  }

  /** Bytes of every regular file under `dir`. */
  def diskBytes(dir: File): Long =
    if (dir.isDirectory) Option(dir.listFiles()).toSeq.flatten.map(diskBytes).sum
    else if (dir.isFile) dir.length()
    else 0L

  /** Streams every file under `dir` through the OS read path once, so the
    * timed phase reads from the page cache. */
  def warmPageCache(dir: File): Unit = {
    val buf = new Array[Byte](1 << 20)
    Option(dir.listFiles()).toSeq.flatten.foreach { f =>
      if (f.isDirectory) warmPageCache(f)
      else {
        val in = new java.io.FileInputStream(f)
        try { while (in.read(buf) >= 0) () } finally in.close()
      }
    }
  }
}
