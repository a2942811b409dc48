package graft.bench

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** The Spark work one client operation caused, summed over its tasks,
  * jobs and SQL executions. Times are milliseconds unless named otherwise. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var taskWaitMs = 0L
  var bytesRead = 0L
  var recordsRead = 0L
  var recordsWritten = 0L
  var bytesWritten = 0L
  var shuffleBytes = 0L
  var planMs = 0.0
  var execMs = 0.0
  /** Wall-clock [start, end] of each job, epoch milliseconds. */
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()

  def cpuMs: Double = cpuNs / 1e6

  /** Milliseconds of [startMs, endMs] covered by no job: the driver-side
    * part of an operation (planning, commit logs, file moves). */
  def uncoveredMs(startMs: Long, endMs: Long): Long = {
    var covered = 0L
    var reach = startMs
    jobIntervals.map { case (s, e) => (math.max(s, startMs), math.min(e, endMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { covered += e - math.max(s, reach); reach = e }
      }
    (endMs - startMs) - covered
  }
}

/** One finished operation: its name, counters and wall-clock window
  * (epoch milliseconds). */
final case class OpRecord(name: String, c: Counters, startMs: Long, endMs: Long)

/** One node of the traced run's span tree. `group` is the job group the
  * operation ran under; every span of one operation carries it. */
final case class Span(id: Int, parent: Int, name: String, startMs: Long,
    endMs: Long, group: String)

/** Per-operation Spark accounting for the benchmark.
  *
  * Attribution is by delivery: the client runs one operation at a time and
  * [[op]] drains the listener bus before it returns, so every event
  * delivered while an operation is current was caused by it — streaming
  * jobs included, which run under a job group Spark picks itself. The
  * tracer also tags each operation with its own job group, reads
  * Catalyst's planning phases through a `QueryExecutionListener`, and
  * records spans. Untraced, nothing is attached at all and [[op]] only
  * runs the body — the untraced runs' end-to-end numbers carry no
  * listener cost. */
final class Tracer(spark: SparkSession, traced: Boolean)
    extends SparkListener with QueryExecutionListener {

  private val sc = spark.sparkContext
  private var nextId = 0
  private final class Op(val id: Int, val name: String, val group: String,
      val startMs: Long) { val c = new Counters }
  /** The operation in flight; null between operations, whose events
    * (set-up, checks) belong to no operation and are dropped. */
  @volatile private var current: Op = null
  private val spanBuf = mutable.ArrayBuffer[Span]()
  private val done = mutable.ArrayBuffer[OpRecord]()
  private val sqlStart = mutable.Map[Long, Long]()
  private val sqlEnd = mutable.Map[Long, Long]()
  private val jobStarts = mutable.Map[Int, (Op, Long, Int)]()

  if (traced) {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  private def newOp(name: String): Op = synchronized {
    nextId += 1
    new Op(nextId, name, s"bench-$nextId-$name", System.currentTimeMillis())
  }
  private def childSpan(o: Op, name: String, s: Long, e: Long): Unit =
    if (traced) synchronized {
      nextId += 1; spanBuf += Span(nextId, o.id, name, s, e, o.group)
    }

  /** Runs `body` as one traced operation; returns its result and counters. */
  def op[A](name: String)(body: => A): (A, Counters) = {
    val o = newOp(name)
    if (traced) {
      current = o
      sc.setJobGroup(o.group, name, interruptOnCancel = false)
    }
    try {
      val a = body
      (a, o.c)
    } finally {
      if (traced) {
        BenchBus.drain(sc)
        current = null
        sc.clearJobGroup()
        val endMs = System.currentTimeMillis()
        synchronized {
          done += OpRecord(name, o.c, o.startMs, endMs)
          spanBuf += Span(o.id, 0, name, o.startMs, endMs, o.group)
        }
      }
    }
  }

  def spans: Seq[Span] = synchronized(spanBuf.toList)

  /** The operations finished since the last [[clearOps]] (traced only). */
  def ops: Seq[OpRecord] = synchronized(done.toList)
  /** Drops the finished operations so far: warm-up is not measured. */
  def clearOps(): Unit = synchronized(done.clear())

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val o = current
    if (o == null) return
    o.c.jobs += 1
    o.c.jobIntervals += ((e.time, Long.MaxValue))
    jobStarts(e.jobId) = (o, e.time, o.c.jobIntervals.size - 1)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStarts.remove(e.jobId).foreach { case (o, start, idx) =>
      o.c.jobIntervals(idx) = (start, e.time)
      childSpan(o, s"job ${e.jobId}", start, e.time)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val o = current
    if (o == null) return
    o.c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      o.c.cpuNs += m.executorCpuTime
      o.c.gcMs += m.jvmGCTime
      o.c.bytesRead += m.inputMetrics.bytesRead
      o.c.recordsRead += m.inputMetrics.recordsRead
      o.c.recordsWritten += m.outputMetrics.recordsWritten
      o.c.bytesWritten += m.outputMetrics.bytesWritten
      o.c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      // the Spark UI's scheduler delay: task lifetime not spent running,
      // deserializing, serializing its result or shipping it back
      val i = e.taskInfo
      o.c.taskWaitMs += math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        i.gettingResultTime)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => sqlStart(s.executionId) = s.time
    case s: SparkListenerSQLExecutionEnd => sqlEnd(s.executionId) = s.time
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val o = current
    if (o == null) return
    val phases = qe.tracker.phases.values
    o.c.planMs += phases.map(_.durationMs).sum
    o.c.execMs += durationNs / 1e6
    if (phases.nonEmpty)
      childSpan(o, s"plan $funcName", phases.map(_.startTimeMs).min,
        phases.map(_.endTimeMs).max)
    val end = sqlEnd.getOrElse(qe.id, System.currentTimeMillis())
    childSpan(o, s"exec $funcName",
      sqlStart.getOrElse(qe.id, end - durationNs / 1000000L), end)
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}
