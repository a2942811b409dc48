package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.GraftBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Where graft's derived layouts, staging directories and pinned executor
  * blocks live, how they are memoized and how they are released.
  *
  *  - [[once]] memoizes a layout per JVM: the sharded, z-ordered and TSV
  *    stores, IVF and int8 indexes, bloom indexes, streaming replay stores,
  *    media fixtures — the Spark analog of the reference's one-off
  *    preprocessing notebook, paid once per process.
  *  - [[path]] gives such a layout a fresh directory under one per-process
  *    root in `java.io.tmpdir`, created through the session's default
  *    Hadoop `FileSystem`, which also deletes the root when Hadoop closes
  *    its cached filesystems at JVM exit.
  *  - [[scoped]] gives one call a staging directory that is deleted through
  *    the same `FileSystem` when the call returns or throws.
  *  - [[pin]] materializes a frame into executor storage (a local
  *    checkpoint), [[release]] frees whatever backs a frame, and [[pinned]]
  *    releases a frame on every path out of the code that uses it.
  *
  * Paths are returned without a scheme, so Spark resolves them against the
  * same default filesystem that created them. */
object Scratch {

  /** One memo slot. `build` runs inside the `lazy val`, outside any map
    * call, so a build may itself call [[once]] for another key; the `lazy
    * val` blocks concurrent readers of the same slot until it is set, and
    * stays unset if `build` throws. */
  private final class Cell(build: => Any) { lazy val value: Any = build }

  private val cells = new ConcurrentHashMap[Any, Cell]()

  /** `build`'s value for `key`, computed once per JVM: concurrent first
    * calls run `build` once, and a `build` that throws is not cached.
    * Keys are shared by every caller, so each site leads its key with its
    * own name. */
  def once[T](key: Any)(build: => T): T = {
    val cell = cells.computeIfAbsent(key, _ => new Cell(build))
    try cell.value.asInstanceOf[T]
    catch { case e: Throwable => cells.remove(key, cell); throw e }
  }

  /** The per-process root every scratch directory lives under. */
  private[graft] val root = new Path(sys.props("java.io.tmpdir"),
    s"graft_scratch_${ProcessHandle.current().pid()}_" +
      java.lang.Long.toHexString(System.nanoTime()))

  private val seq = new AtomicLong()

  private def create(spark: SparkSession, name: String): (FileSystem, Path) = {
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())
    val dir = new Path(root, s"${name}_${seq.incrementAndGet()}")
    fs.mkdirs(dir)
    // a set on the filesystem: registering the root again is a no-op
    fs.deleteOnExit(root)
    (fs, dir)
  }

  /** A fresh directory, kept until the JVM exits. */
  def path(spark: SparkSession, name: String): String =
    create(spark, name)._2.toString

  /** Runs `f` on a fresh staging directory and deletes it afterwards. */
  def scoped[T](spark: SparkSession)(f: String => T): T = {
    val (fs, dir) = create(spark, "stage")
    try f(dir.toString) finally { fs.delete(dir, true); () }
  }

  /** `df` as a local checkpoint: its rows are computed once, when `eager`
    * right here, otherwise by the first action that reads them, and kept in
    * executor storage at `level` until [[release]]d. */
  def pin(df: DataFrame, eager: Boolean = true,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
    df.localCheckpoint(eager, level)

  /** Whether `df`, if it is a checkpoint, has been written. */
  private[graft] def materialized(df: DataFrame): Boolean =
    checkpoint(df).forall(_.isCheckpointed)

  /** Frees what backs `df` itself: a cached relation is unpersisted, the
    * blocks of a local checkpoint are dropped, and the files of a reliable
    * checkpoint are deleted (best-effort) through their path's
    * `FileSystem`. Any other frame, including one derived from a pinned or
    * cached frame, is left as it is: the frames it reads may still have
    * other readers. */
  def release(df: DataFrame): Unit = {
    val spark = df.sparkSession
    df.unpersist(blocking = false)
    for (rdd <- checkpoint(df)) rdd.getCheckpointFile match {
      case Some(file) =>
        try {
          val p = new Path(file)
          p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
        } catch {
          case NonFatal(e) => System.err.println(
            s"[graft.Scratch] could not delete checkpoint $file: $e")
        }
      case None =>
        if (spark.sparkContext.getPersistentRDDs.contains(rdd.id))
          GraftBus.unpersist(spark.sparkContext, rdd.id)
    }
  }

  /** `use(df)`, then [[release]] `df`, also when `use` throws. */
  def pinned[A](df: DataFrame)(use: DataFrame => A): A =
    try use(df) finally release(df)

  private def checkpoint(df: DataFrame) =
    Some(df.queryExecution.analyzed).collect { case l: LogicalRDD => l.rdd }
}
