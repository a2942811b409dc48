package graft.bench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SQLContext
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.Triple
import graft.plans.RangeBucket
import graft.streaming.StreamingLww

/** `ingest`: micro-batches of seeded updates through the partition-wise
  * streaming sink (`StreamingLww.mergeIntoStorePartitioned`) into a
  * 16-shard copy of the `serve` store, each batch followed by point reads
  * of keys it just wrote. */
object Ingest {
  private val Shards = 16
  /** Order subjects per batch; each gets a newer `<hasStatus>` and every
    * fifth a `<hasNote>` (insert on first write, overwrite after). */
  private val BatchSubjects = 250
  /** Every `StaleEvery`-th batch also carries a `<hasPriority>` update one
    * day older than the stored row: it must lose. */
  private val StaleEvery = 4
  private val MinBatches = 5

  private final case class Winner(obj: String, ts: Long)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    implicit val sqlCtx: SQLContext = spark.sqlContext
    val data = new StoreData(ctx.seed)
    val keys = data.sortedOrderSubjects
    // 15 cut points at even positions of the subject order → 16 range shards
    val allSubjects = (0 until data.subjectCount).map(data.subject).sorted
    val boundaries = (1 until Shards).map(i => allSubjects(allSubjects.size * i / Shards))
    def shardOf(s: String) = boundaries.count(_ <= s)

    val (path, setupS) = ctx.setupMedian(3) { i =>
      val dir = s"${ctx.work}/ingest$i"
      data.triples(spark, s"$dir/base")
        .withColumn("shard", RangeBucket.shardId(col("subject"), boundaries))
        .write.partitionBy("shard").mode("overwrite").parquet(s"$dir/store")
      Main.warmPageCache(new File(s"$dir/store"))
      s"$dir/store"
    }

    val src = MemoryStream[Triple]
    val query = StreamingLww.mergeIntoStorePartitioned(src.toDS(), path,
      s"${ctx.work}/ingest-ckpt", boundaries, Trigger.ProcessingTime(0L))
    val winners = mutable.Map[(String, String), Winner]()
    // per measured batch: updates, batch seconds, batch-and-reads seconds
    val batchStats = mutable.ArrayBuffer[(Int, Double, Double)]()
    val touched = mutable.ArrayBuffer[Int]()

    def read(s: String, p: String, want: Winner): Unit =
      ctx.rec.run("read") {
        ctx.tracer.op("read")(spark.read.parquet(path)
          .filter(col("subject") === s && col("predicate") === p).collect())
      } { case (rows, _) =>
        val got = rows.map(r => Winner(r.getAs[String]("object"), r.getAs[Long]("ts_ms")))
        if (got.toSeq == Seq(want)) None
        else Some(s"read ($s, $p) saw ${got.mkString(",")}, expected $want")
      }

    def batch(b: Int): Unit = {
      val start = ctx.rng.nextInt(keys.size - BatchSubjects)
      val subjects = keys.slice(start, start + BatchSubjects)
      val base = subjects.map(s => s -> data.expected(s)).toMap
      val rows = subjects.zipWithIndex.flatMap { case (s, i) =>
        val ts = base(s).head.ts_ms + 86400000L + b
        Seq(Triple(s, "<hasStatus>", s"B$b", ts)) ++
          (if (i % 5 == 0) Seq(Triple(s, "<hasNote>", s"note-$b", ts)) else Nil)
      }
      val stale = if (b % StaleEvery == 0) {
        val s = subjects(ctx.rng.nextInt(subjects.size))
        val old = base(s)(1) // <hasPriority>
        Seq(Triple(s, old.predicate, "STALE", old.ts_ms - 86400000L))
      } else Nil
      val all = rows ++ stale
      val t0 = System.nanoTime()
      ctx.rec.run("batch") {
        ctx.tracer.op("batch") { src.addData(all); query.processAllAvailable() }
      }(_ => None)
      val t1 = System.nanoTime()
      rows.foreach(t => winners((t.subject, t.predicate)) = Winner(t.`object`, t.ts_ms))
      // read-after-write: a status this batch set, a note, the stale key
      val s = subjects(ctx.rng.nextInt(subjects.size))
      read(s, "<hasStatus>", winners((s, "<hasStatus>")))
      val noted = subjects(5 * ctx.rng.nextInt(BatchSubjects / 5))
      read(noted, "<hasNote>", winners((noted, "<hasNote>")))
      stale.foreach { t =>
        val old = base(t.subject)(1)
        read(t.subject, t.predicate, Winner(old.`object`, old.ts_ms))
      }
      batchStats += ((all.size, (t1 - t0) / 1e9, (System.nanoTime() - t0) / 1e9))
      touched += subjects.map(shardOf).distinct.size
    }

    try {
      batch(0) // warm-up batch: checked, its latency dropped
      ctx.rec.latencies.clear()
      batchStats.clear(); touched.clear()
      // one batch per second asked for: a count fixed by the arguments, so
      // every run with the same seed writes the same updates
      val batches = math.max(MinBatches, math.round(ctx.seconds).toInt)
      ctx.measure { for (b <- 1 to batches) batch(b) }
    } finally query.stop()

    // the store holds every base triple once plus each distinct note key
    val live = ctx.rec.run("count")(spark.read.parquet(path).count()) { n =>
      val want = data.liveTriples + winners.keys.count(_._2 == "<hasNote>")
      if (n == want) None else Some(s"store holds $n triples, expected $want")
    }
    val bytes = Main.diskBytes(new File(path))
    def p50(k: String) = Stats.percentile(ctx.rec.samples(k), 50, 2).getOrElse(Double.NaN)
    val e2e = Map(
      "ops_per_s" -> Stats.median(batchStats.toSeq.map(b => b._1 / b._3)),
      "op_p50_ms" -> Stats.percentile(Seq("batch", "read").flatMap(ctx.rec.samples),
        50, 2).getOrElse(Double.NaN),
      "disk_mb" -> bytes / 1048576.0,
      "setup_s" -> setupS)
    Outcome(e2e, Map(
      "store_triples" -> live.map(_.toString).getOrElse("?"),
      "store_bytes" -> bytes.toString,
      "batches" -> batchStats.size.toString,
      "updates" -> batchStats.map(_._1).sum.toString,
      "touched_shards_per_batch" -> touched.mkString(" "),
      "batch_and_reads_ms" -> batchStats.map(b => f"${b._3 * 1e3}%.0f").mkString(" "),
      "op_latency" -> Seq(
        f"ingest_updates_per_s=${Stats.median(batchStats.toSeq.map(b => b._1 / b._2))}%.1f",
        f"batch_p50_ms=${p50("batch")}%.1f",
        f"read_after_write_p50_ms=${p50("read")}%.1f",
        f"store_bytes_per_triple=${live.map(bytes.toDouble / _).getOrElse(Double.NaN)}%.3f")
        .mkString(" ")))
  }
}
