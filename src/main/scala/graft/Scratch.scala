package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Where graft's derived layouts and staging directories live, how they are
  * memoized and how they are released.
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
}
