package graft.obs

import scala.collection.mutable

import org.apache.spark.GraftBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** The Spark work one block of code did, counted from listener events.
  *
  * @param jobs     jobs started
  * @param stages   stages of those jobs, counted at job start (skipped ones
  *                 included)
  * @param tasks    tasks ended
  * @param perJob   per job id, ascending, the tasks and shuffle-write bytes
  *                 of its completed stages; a job with no completed stage
  *                 is absent
  * @param progress streaming micro-batches that reported progress, from any
  *                 session of the context (`newSession()` clones too) */
final case class Work(
    jobs: Long,
    stages: Long,
    tasks: Long,
    shuffleBytes: Long,
    shuffleRecords: Long,
    memorySpillBytes: Long,
    diskSpillBytes: Long,
    peakExecutionMemory: Long,
    perJob: Seq[Work.Job],
    progress: Seq[StreamingQueryProgress])

object Work {
  final case class Job(id: Int, tasks: Long, shuffleBytes: Long)

  /** Returns once every listener event posted so far has been delivered. */
  def drain(spark: SparkSession): Unit = GraftBus.drain(spark.sparkContext)

  /** Runs `body` and counts the work it did. The bus is drained before the
    * meter attaches, so earlier jobs' events do not bleed in, and again
    * before it is read, so the count is complete. Wall time, if wanted, is
    * the caller's to take inside `body`. */
  def of[A](spark: SparkSession)(body: => A): (A, Work) = {
    val sc = spark.sparkContext
    drain(spark)
    val meter = new Meter
    sc.addSparkListener(meter)
    try {
      val a = body
      drain(spark)
      (a, meter.work)
    } finally sc.removeSparkListener(meter)
  }

  /** Listener callbacks arrive on the bus's one dispatch thread, and the
    * drain's atomic event count orders them before [[work]] reads. */
  private final class Meter extends SparkListener {
    private var jobs, stages, tasks, shufBytes, shufRecords = 0L
    private var memSpill, diskSpill, peakExec = 0L
    private val stageJob = mutable.Map.empty[Int, Int]
    private val perJob = mutable.TreeMap.empty[Int, Job]
    private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs += 1
      stages += e.stageInfos.size
      e.stageInfos.foreach(si => stageJob(si.stageId) = e.jobId)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageJob.get(e.stageInfo.stageId).foreach { j =>
        val p = perJob.getOrElse(j, Job(j, 0, 0))
        perJob(j) = p.copy(tasks = p.tasks + e.stageInfo.numTasks,
          shuffleBytes = p.shuffleBytes +
            e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        shufBytes += m.shuffleWriteMetrics.bytesWritten
        shufRecords += m.shuffleWriteMetrics.recordsWritten
        memSpill += m.memoryBytesSpilled
        diskSpill += m.diskBytesSpilled
        peakExec = math.max(peakExec, m.peakExecutionMemory)
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: StreamingQueryListener.QueryProgressEvent => progress += p.progress
      case _ =>
    }

    def work: Work = Work(jobs, stages, tasks, shufBytes, shufRecords,
      memSpill, diskSpill, peakExec, perJob.values.toList, progress.toList)
  }
}
