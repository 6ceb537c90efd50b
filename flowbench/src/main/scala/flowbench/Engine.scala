package flowbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.flowbenchshim.ListenerBus
import org.apache.spark.scheduler._

/** Engine counters over one window of a run. Times are milliseconds,
  * sizes bytes.
  */
final case class EngineWindow(
    jobs: Long,
    tasks: Long,
    taskRunMs: Long,
    shuffleWriteBytes: Long,
    spillBytes: Long,
    inputBytes: Long,
    taskMsSamples: Vector[Double],
    cutJobs: Long,
    cutJobMs: Long) {

  def taskSkew: Double =
    if (taskMsSamples.isEmpty) 0.0
    else taskMsSamples.max / math.max(1.0, Stats.median(taskMsSamples))
}

/** Benchmark-owned `SparkListener`: counts jobs and tasks, adds up task
  * time, shuffle, spill and input bytes, and times lineage-cutting
  * checkpoint jobs (the jobs `Materialize.cut` launches).
  */
final class EngineListener extends SparkListener {
  private var jobs = 0L
  private var tasks = 0L
  private var taskRunMs = 0L
  private var shuffleW = 0L
  private var spill = 0L
  private var input = 0L
  private val taskMs = mutable.ArrayBuffer.empty[Double]
  private var cutJobs = 0L
  private var cutJobMs = 0L
  private val cutJobStart = mutable.Map.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    if (e.stageInfos.exists(si => EngineListener.isCut(si.name)))
      cutJobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    cutJobStart.remove(e.jobId).foreach { t0 =>
      cutJobs += 1
      cutJobMs += e.time - t0
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    taskMs += e.taskInfo.duration.toDouble
    Option(e.taskMetrics).foreach { m =>
      taskRunMs += m.executorRunTime
      shuffleW += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      input += m.inputMetrics.bytesRead
    }
  }

  /** Counters so far, after every posted event has been delivered. */
  def snapshot(sc: SparkContext): EngineWindow = {
    ListenerBus.drain(sc)
    synchronized {
      EngineWindow(jobs, tasks, taskRunMs, shuffleW, spill, input,
        taskMs.toVector, cutJobs, cutJobMs)
    }
  }
}

object EngineListener {

  /** Stage names carry the call site; the eager checkpoint behind
    * `Materialize.cut` shows as `localCheckpoint at ...` (or
    * `checkpoint at ...` in reliable mode).
    */
  def isCut(stageName: String): Boolean =
    stageName.startsWith("localCheckpoint at") ||
      stageName.startsWith("checkpoint at")

  /** Counters accrued between two snapshots. */
  def between(a: EngineWindow, b: EngineWindow): EngineWindow =
    EngineWindow(b.jobs - a.jobs, b.tasks - a.tasks,
      b.taskRunMs - a.taskRunMs, b.shuffleWriteBytes - a.shuffleWriteBytes,
      b.spillBytes - a.spillBytes, b.inputBytes - a.inputBytes,
      b.taskMsSamples.drop(a.taskMsSamples.size), b.cutJobs - a.cutJobs,
      b.cutJobMs - a.cutJobMs)
}

/** Polls Spark's storage memory (cached and checkpointed blocks,
  * broadcasts) from its own thread and keeps the peak.
  */
final class StoragePoller(sc: SparkContext, periodMs: Long = 20L) {
  @volatile private var peak = 0L
  @volatile private var running = true
  private val thread = new Thread(() => {
    while (running) {
      val used = sc.getExecutorMemoryStatus.values
        .map { case (max, free) => max - free }.sum
      if (used > peak) peak = used
      Thread.sleep(periodMs)
    }
  }, "flowbench-storage-poller")
  thread.setDaemon(true)
  thread.start()

  def peakBytes: Long = peak

  def stop(): Unit = {
    running = false
    thread.join()
  }
}
