package perfbench

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** Totals of one counting window (see [[Counters.snap]]). */
final case class Snap(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0, failedTasks: Long = 0,
    taskNs: Long = 0, shuffleRead: Long = 0, shuffleWrite: Long = 0,
    spill: Long = 0, peakJobs: Long = 0) {
  def -(o: Snap): Snap = Snap(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    failedTasks - o.failedTasks, taskNs - o.taskNs, shuffleRead - o.shuffleRead,
    shuffleWrite - o.shuffleWrite, spill - o.spill, peakJobs)
}

/** Job and stage times from the listener, in epoch milliseconds. */
final case class JobSpan(id: Int, start: Long, end: Long, stageIds: Seq[Int])
final case class StageSpan(id: Int, attempt: Int, start: Long, end: Long, tasks: Int)

/** Benchmark-owned listener. It tags nothing: one query is in flight at a
  * time, so the harness drains the bus at each phase boundary and bills the
  * window's delta to that phase. Spark local properties are not used —
  * `graft.Par`'s pooled threads keep stale ones and would misbill Par legs.
  */
final class Counters extends SparkListener {
  private val jobs, stages, tasks, failedTasks = new AtomicLong
  private val taskNs, shuffleRead, shuffleWrite, spill = new AtomicLong
  private val active, peak = new AtomicInteger
  private val jobSpans = ArrayBuffer.empty[JobSpan]
  private val stageSpans = ArrayBuffer.empty[StageSpan]
  private val jobStart = scala.collection.mutable.HashMap.empty[Int, (Long, Seq[Int])]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    val now = active.incrementAndGet()
    peak.accumulateAndGet(now, math.max)
    synchronized(jobStart(e.jobId) = (e.time, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    active.decrementAndGet()
    synchronized(jobStart.remove(e.jobId).foreach { case (t0, st) =>
      jobSpans += JobSpan(e.jobId, t0, e.time, st)
    })
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stages.incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    for (t0 <- i.submissionTime; t1 <- i.completionTime)
      synchronized(stageSpans += StageSpan(i.stageId, i.attemptNumber(), t0, t1, i.numTasks))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (!e.taskInfo.successful) failedTasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskNs.addAndGet(m.executorRunTime * 1000000L)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.diskBytesSpilled)
    }
  }

  /** Totals so far; `peakJobs` is the most jobs running at once since the
    * last snap, which then restarts from the jobs running now. Call only
    * after draining the bus. */
  def snap(): Snap = {
    val p = peak.getAndSet(active.get)
    Snap(jobs.get, stages.get, tasks.get, failedTasks.get, taskNs.get,
      shuffleRead.get, shuffleWrite.get, spill.get, p)
  }

  def spans: (Seq[JobSpan], Seq[StageSpan]) = synchronized((jobSpans.toSeq, stageSpans.toSeq))
}
