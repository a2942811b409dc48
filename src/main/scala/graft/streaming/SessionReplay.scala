package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, timestamp_millis}
import org.apache.spark.sql.streaming.Trigger

/** The ONE copy of the event-replay protocol shared by the q74 gate
  * ([[StreamingGate.q74StreamSessions]]) and the 10M-row rehearsal
  * (`graft.tools.SessionScaleBench`): time-ordered JSONL files with
  * strictly ascending pinned mtimes (FileStreamSource orders pending
  * files by mtime), the two-sentinel watermark-closing handshake, and the
  * `readStream` → [[StreamingSessions.sessionize]] → parquet-sink run.
  * The handshake and mtime convention are correctness-critical — a fix
  * here reaches both call sites instead of silently diverging. */
object SessionReplay {

  /** Watermark-driver sentinel identity: a user id outside the events
    * domain whose two far-future events advance the watermark past every
    * real session's `end + gap` (first sentinel batch) and then give the
    * engine a batch in which the resulting event-time timeouts fire
    * (second). Filtered from every consumer's result. */
  val SentinelUser = -1L

  /** Strictly ascending mtime pinning for replay files: base an hour in
    * the past (no file may look newer than the query start), stepped far
    * beyond filesystem timestamp granularity. Files are written, moved and
    * pinned through `src`'s Hadoop `FileSystem`, the one the source lists. */
  final class Placer(spark: SparkSession, src: String) {
    private val dir = new Path(src)
    val fs: FileSystem = dir.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(dir)
    private var mtime = System.currentTimeMillis() - 3600L * 1000
    private def stamp(f: Path): Unit = {
      fs.setTimes(f, mtime, -1)
      mtime += 2000
    }
    /** Move the file `from` in as `name`, the next file in replay order. */
    def place(from: Path, name: String): Unit = {
      val f = new Path(dir, name)
      require(fs.rename(from, f), s"could not move $from to $f")
      stamp(f)
    }
    /** Write a driver-built JSONL file as the next file in replay order. */
    def placeLines(name: String, lines: Seq[String]): Unit = {
      val f = new Path(dir, name)
      val out = fs.create(f, true)
      try out.write(String.join("\n", lines: _*).getBytes("UTF-8"))
      finally out.close()
      stamp(f)
    }
  }

  /** The closing handshake: sentinel 0 advances the watermark past every
    * real `end + gap`; sentinel 1 provides the batch in which the
    * resulting timeouts fire. */
  def placeSentinels(p: Placer, hiTs: Long, gapMs: Long): Unit = {
    p.placeLines("sentinel0.json", Seq(
      s"""{"user_id":$SentinelUser,"event_id":0,"ts_ms":${hiTs + 10 * gapMs},"value":0.0}"""))
    p.placeLines("sentinel1.json", Seq(
      s"""{"user_id":$SentinelUser,"event_id":1,"ts_ms":${hiTs + 11 * gapMs},"value":0.0}"""))
  }

  /** Run the replay to completion: one file per micro-batch
    * (`maxFilesPerTrigger=1`), FAILFAST parse, sessionize, parquet sink,
    * `AvailableNow`. */
  def run(spark: SparkSession, src: String, gapMs: Long,
      watermarkDelay: String, storePath: String, ckpt: String): Unit = {
    val stream = StreamingLww.jsonlSource(spark, src,
        "user_id LONG, event_id LONG, ts_ms LONG, value DOUBLE")
      .withColumn("ts", timestamp_millis(col("ts_ms")))
    StreamingSessions.sessionize(stream, gapMs, watermarkDelay)
      .toDF()
      .writeStream.format("parquet")
      .option("path", storePath)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
  }
}
