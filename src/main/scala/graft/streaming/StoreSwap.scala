package graft.streaming

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{ChecksumException, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit}

import graft.Scratch

/** The one store protocol both streaming sinks write through. A store is a
  * shard-partitioned parquet layout (`<store>/shard=k/`). Each micro-batch
  * rewrites only the shards its rows fall in, and each shard holds an
  * `_applied_upto` marker (underscore-prefixed, so the parquet reader skips
  * it): `<streamId>\n<batchId>`, the last batch of that stream merged into
  * the shard.
  *
  * A batch stages its merged shards under `<store>.next`. The commit
  * renames each live `shard=k` to `<store>.old/shard=k`, renames the
  * staged shard into place and deletes `.old`. A crash therefore leaves
  * each shard, marker included, wholly old or wholly new; the next batch
  * first restores every shard stranded at `.old`. Each move is one
  * `FileSystem.rename` on the store path's filesystem in the batch's
  * session, and a rename that returns `false` fails the batch. */
private[graft] object StoreSwap {

  private val Marker = "_applied_upto"

  /** Merges one micro-batch into `store`:
    *   1. restores shards a crashed commit left at `.old`, clears
    *      `.next`/`.old`;
    *   2. finds the touched shards. With `shard = Some(c)` it writes
    *      `batch` once, partitioned by `c`, to a [[Scratch.scoped]]
    *      directory, whose `shard=k` names are the touched shards (a second
    *      action on a streaming batch would re-read its source). With
    *      `None` the store is the one shard `shard=0`, and the batch is read
    *      once, straight from its source, by the merge;
    *   3. skips each touched shard whose marker for `streamId` is already
    *      at or past `batchId`, i.e. a redelivered batch, and says so on
    *      stderr;
    *   4. reads the remaining shards of the store with the batch's schema
    *      (no footer-reading inference job) and without `shard`;
    *   5. writes `combine(base, batch)`, partitioned by shard, to
    *      `<store>.next`, writes each merged shard's marker and swaps the
    *      merged shards in.
    * `c` is an expression over the batch's columns that `combine` keeps
    * per key, so a merged row lands in the shard its inputs came from. A
    * null key's shard is null, which parquet would write as
    * `__HIVE_DEFAULT_PARTITION__`; such rows go to shard 0. */
  def merge(batch: DataFrame, store: String, batchId: Long, streamId: String,
      shard: Option[Column])(
      combine: (DataFrame, DataFrame) => DataFrame): Unit = {
    val spark = batch.sparkSession
    val shardOf = shard.fold(lit(0))(coalesce(_, lit(0)))
    val rows = batch.withColumn("shard", shardOf)
    val swap = new Swap(spark, store)
    swap.recover()

    def mergeShards(touched: Seq[String], batchRows: DataFrame): Unit = {
      val (done, todo) = touched.partition(swap.applied(_, streamId) >= batchId)
      // logged: were the scope ever to collide, a silent skip would read
      // as data loss with no trace
      if (done.nonEmpty)
        System.err.println(s"[graft.StoreSwap] batch $batchId of stream " +
          s"$streamId already applied to ${done.mkString(", ")} of $store: " +
          "those shards skipped")
      if (todo.nonEmpty) {
        val ids = todo.map(_.stripPrefix("shard=").toInt)
        def inTodo(df: DataFrame): DataFrame =
          df.filter(col("shard").isin(ids: _*)).drop("shard")
        combine(inTodo(spark.read.schema(rows.schema).parquet(store)),
            inTodo(batchRows))
          .withColumn("shard", shardOf)
          .write.mode(SaveMode.Overwrite)
          .partitionBy("shard")
          .parquet(swap.staging)
        todo.foreach(swap.mark(_, streamId, batchId))
        swap.commitShards(todo)
      }
    }

    if (shard.isEmpty) mergeShards(Seq("shard=0"), rows)
    else Scratch.scoped(spark) { dir =>
      val staged = new Path(dir, "batch")
      rows.write.partitionBy("shard").parquet(staged.toString)
      val touched = staged.getFileSystem(spark.sessionState.newHadoopConf())
        .listStatus(staged).map(_.getPath.getName)
        .filter(_.startsWith("shard=")).toSeq
      mergeShards(touched,
        spark.read.schema(rows.schema).parquet(staged.toString))
    }
  }

  /** The stream identity a marker is scoped to: the query id in the
    * checkpoint's `metadata` file (JSON `{"id":"<uuid>"}`). Batch ids
    * restart at 0 per checkpoint, so a bare id would let a new query on an
    * existing store (the next crawl generation) skip its first batches.
    * The persisted id, not the checkpoint path, is the scope: a checkpoint
    * deleted and recreated at the same path gets a fresh id and restarted
    * batch ids. Falls back to the path if the file is missing, unreadable
    * or unparseable (before the query starts, or a hand-built test dir).
    * Read through the checkpoint's Hadoop `FileSystem`, which is where
    * Spark wrote it. */
  private[graft] def streamScope(checkpointPath: String): String =
    try {
      val meta = new Path(checkpointPath, "metadata")
      val conf = SparkSession.getActiveSession
        .orElse(SparkSession.getDefaultSession)
        .map(_.sessionState.newHadoopConf())
        .getOrElse(new org.apache.hadoop.conf.Configuration())
      val fs = meta.getFileSystem(conf)
      if (fs.exists(meta)) {
        val in = fs.open(meta)
        val txt =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        """"id"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(txt)
          .map(_.group(1)).getOrElse(checkpointPath)
      } else checkpointPath
    } catch { case scala.util.control.NonFatal(_) => checkpointPath }

  /** The file operations on one store, through its path's `FileSystem`. */
  private final class Swap(spark: SparkSession, store: String) {

    private val live = new Path(store)
    private val old = new Path(store + ".old")
    private val next = new Path(store + ".next")

    private val fs: FileSystem =
      live.getFileSystem(spark.sessionState.newHadoopConf())

    val staging: String = next.toString

    /** Restores each `.old` shard with no live directory, then clears
      * stale `.next`/`.old`. Creates the store directory, so the first
      * batch reads it as an empty store. */
    def recover(): Unit = {
      fs.mkdirs(live)
      if (fs.exists(old))
        fs.listStatus(old).filter(_.isDirectory).foreach { s =>
          val to = new Path(live, s.getPath.getName)
          if (!fs.exists(to)) rename(s.getPath, to)
        }
      clear()
    }

    /** The batch id in live shard `k`'s marker, or -1 if it has none. A
      * marker from another stream, or a malformed one (torn write, manual
      * edit, failed checksum), also reads as -1: nothing is skipped, where
      * throwing would fail the stream on every restart. */
    def applied(k: String, streamId: String): Long = {
      val f = new Path(new Path(live, k), Marker)
      if (!fs.exists(f)) -1L
      else {
        val in = fs.open(f)
        val lines =
          try new String(in.readAllBytes(), StandardCharsets.UTF_8)
            .split("\n", 2)
          catch { case _: ChecksumException => Array.empty[String] }
          finally in.close()
        if (lines.length == 2 && lines(0) == streamId)
          scala.util.Try(lines(1).trim.toLong).getOrElse(-1L)
        else -1L
      }
    }

    /** Writes staged shard `k`'s marker. */
    def mark(k: String, streamId: String, batchId: Long): Unit = {
      val out = fs.create(new Path(new Path(next, k), Marker))
      try out.write(s"$streamId\n$batchId".getBytes(StandardCharsets.UTF_8))
      finally out.close()
    }

    /** Swaps in each staged shard of `shards` (names such as `shard=3`). */
    def commitShards(shards: Seq[String]): Unit = {
      fs.mkdirs(old)
      shards.foreach { k =>
        val (staged, cur) = (new Path(next, k), new Path(live, k))
        if (fs.exists(cur)) rename(cur, new Path(old, k))
        rename(staged, cur)
      }
      clear()
    }

    private def clear(): Unit = Seq(next, old).foreach(fs.delete(_, true))

    /** `FileSystem.rename` reports most failures by returning false. */
    private def rename(from: Path, to: Path): Unit =
      if (!fs.rename(from, to))
        throw new java.io.IOException(s"store swap: rename $from -> $to failed")
  }
}
