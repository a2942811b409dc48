package graft

import java.util.concurrent.locks.LockSupport

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.obs.Work

class ObsSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  private val sc = spark.sparkContext

  /** Runs `body` with a listener on the shared queue that takes 20 ms per
    * task end, so events are still queued when a `Work` block starts and
    * when it ends, as on a busy bus. */
  private def onBusyBus[A](body: => A): A = {
    val slow = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        LockSupport.parkNanos(20L * 1000 * 1000)
    }
    sc.addSparkListener(slow)
    try body finally sc.removeSparkListener(slow)
  }

  test("Work.of counts one job's stages and tasks exactly, with no wait") {
    val (n, work) =
      onBusyBus(Work.of(spark)(sc.parallelize(1 to 10, 3).count()))
    assert(n == 10)
    assert(work.jobs == 1)
    assert(work.stages == 1)
    assert(work.tasks == 3)
    assert(work.perJob.map(_.tasks) == Seq(3L))
  }

  test("events of jobs that ran before the block do not bleed into it") {
    val (_, work) = onBusyBus {
      (1 to 50).foreach(i => sc.parallelize(1 to i, 2).count())
      Work.of(spark)(())
    }
    assert(work.jobs == 0)
    assert(work.tasks == 0)
    assert(work.perJob.isEmpty)
  }

  test("a streaming query on a newSession() clone reports one progress " +
    "event per micro-batch") {
    Scratch.scoped(spark) { dir =>
      val rs = spark.newSession()
      val src = s"$dir/in"
      Seq("a", "b").foreach { f =>
        rs.range(3).selectExpr(s"concat('$f', id) AS value")
          .coalesce(1).write.mode("append").text(src)
      }
      val (_, work) = Work.of(spark) {
        rs.readStream.option("maxFilesPerTrigger", "1").text(src)
          .writeStream.format("noop")
          .option("checkpointLocation", s"$dir/ckpt")
          .trigger(Trigger.AvailableNow())
          .start()
          .awaitTermination()
      }
      assert(work.progress.map(_.numInputRows) == Seq(3L, 3L))
      assert(work.progress.map(_.batchId) == Seq(0L, 1L))
    }
  }
}
