package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Scheduler counters from a `SparkListener`, registered only in traced
  * runs: jobs, tasks, task time, shuffle bytes written, bytes spilled.
  */
final class SparkTrace(sc: SparkContext) extends SparkListener {
  private var c = SparkTrace.Counts()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { c = c.copy(jobs = c.jobs + 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    c = c.copy(tasks = c.tasks + 1)
    Option(e.taskMetrics).foreach { m =>
      c = c.copy(taskMs = c.taskMs + m.executorRunTime,
        shuffleBytes = c.shuffleBytes + m.shuffleWriteMetrics.bytesWritten,
        spillBytes = c.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Deliver every queued event, then read and reset the counters. */
  def take(): SparkTrace.Counts = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized { val r = c; c = SparkTrace.Counts(); r }
  }
}

object SparkTrace {
  final case class Counts(jobs: Long = 0, tasks: Long = 0, taskMs: Long = 0, shuffleBytes: Long = 0,
      spillBytes: Long = 0)

  def install(sc: SparkContext): SparkTrace = {
    val t = new SparkTrace(sc)
    sc.addSparkListener(t)
    t
  }
}
