package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** Cumulative Spark counters; a layer's share is the difference of two
  * snapshots taken at its span boundaries. */
final case class Snap(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0, failedTasks: Long = 0,
    runMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0,
    inputBytes: Long = 0, inputRows: Long = 0,
    shuffleWrite: Long = 0, shuffleRead: Long = 0,
    spillDisk: Long = 0, outputBytes: Long = 0
) {
  def -(o: Snap): Snap = Snap(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    failedTasks - o.failedTasks, runMs - o.runMs, cpuNs - o.cpuNs,
    gcMs - o.gcMs, inputBytes - o.inputBytes, inputRows - o.inputRows,
    shuffleWrite - o.shuffleWrite, shuffleRead - o.shuffleRead,
    spillDisk - o.spillDisk,
    outputBytes - o.outputBytes)
  def +(o: Snap): Snap = Snap(
    jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    failedTasks + o.failedTasks, runMs + o.runMs, cpuNs + o.cpuNs,
    gcMs + o.gcMs, inputBytes + o.inputBytes, inputRows + o.inputRows,
    shuffleWrite + o.shuffleWrite, shuffleRead + o.shuffleRead,
    spillDisk + o.spillDisk,
    outputBytes + o.outputBytes)
}

/** The benchmark's one listener: job, stage and task counts, task
  * metrics, and each task's [launch, finish) interval (epoch ms) for
  * the no-task share of an op's wall time. */
final class Counters extends SparkListener {
  private var cur = Snap()
  private val intervals = ArrayBuffer.empty[(Long, Long)]

  def snap: Snap = synchronized(cur)

  /** Task intervals that overlap [fromMs, toMs), clipped to it. */
  def busyMs(fromMs: Long, toMs: Long): Long = synchronized {
    val clipped = intervals.iterator
      .map { case (a, b) => (math.max(a, fromMs), math.min(b, toMs)) }
      .filter { case (a, b) => b > a }
      .toSeq
      .sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    covered
  }

  def forgetIntervals(): Unit = synchronized(intervals.clear())

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { cur = cur.copy(jobs = cur.jobs + 1) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { cur = cur.copy(stages = cur.stages + 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val info = e.taskInfo
    intervals += ((info.launchTime, info.finishTime))
    val m = e.taskMetrics
    val failed = if (info.successful) 0 else 1
    cur =
      if (m == null) cur.copy(tasks = cur.tasks + 1, failedTasks = cur.failedTasks + failed)
      else {
        val sr = m.shuffleReadMetrics
        Snap(
          cur.jobs, cur.stages, cur.tasks + 1, cur.failedTasks + failed,
          cur.runMs + m.executorRunTime, cur.cpuNs + m.executorCpuTime,
          cur.gcMs + m.jvmGCTime,
          cur.inputBytes + m.inputMetrics.bytesRead,
          cur.inputRows + m.inputMetrics.recordsRead,
          cur.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
          cur.shuffleRead + sr.remoteBytesRead + sr.localBytesRead,
          cur.spillDisk + m.diskBytesSpilled,
          cur.outputBytes + m.outputMetrics.bytesWritten)
      }
  }
}
