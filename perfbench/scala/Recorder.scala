package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Cumulative execution counters of one Spark application. An operation's
  * share is the difference of two snapshots taken around it.
  */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    cpuNs: Long = 0, runMs: Long = 0, gcMs: Long = 0,
    shuffleWriteBytes: Long = 0, spillBytes: Long = 0,
    inputBytes: Long = 0, outputBytes: Long = 0) {
  def -(o: Counters): Counters = Counters(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    cpuNs - o.cpuNs, runMs - o.runMs, gcMs - o.gcMs,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes,
    inputBytes - o.inputBytes, outputBytes - o.outputBytes)
  def +(o: Counters): Counters = Counters(
    jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    cpuNs + o.cpuNs, runMs + o.runMs, gcMs + o.gcMs,
    shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes,
    inputBytes + o.inputBytes, outputBytes + o.outputBytes)
}

/** The benchmark's one SparkListener: counts work and keeps each job's
  * wall-clock span, so the time no job covers (driver-side work between
  * jobs) can be measured over any window.
  */
final class Recorder extends SparkListener {
  private var c = Counters()
  private val started = mutable.Map.empty[Int, Long]
  private val spans = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    started(e.jobId) = e.time
    c = c.copy(jobs = c.jobs + 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    started.remove(e.jobId).foreach(s => spans += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { c = c.copy(stages = c.stages + 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    c = if (m == null) c.copy(tasks = c.tasks + 1) else Counters(
      c.jobs, c.stages, c.tasks + 1,
      c.cpuNs + m.executorCpuTime, c.runMs + m.executorRunTime,
      c.gcMs + m.jvmGCTime,
      c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
      c.spillBytes + m.diskBytesSpilled + m.memoryBytesSpilled,
      c.inputBytes + m.inputMetrics.bytesRead,
      c.outputBytes + m.outputMetrics.bytesWritten)
  }

  def snapshot: Counters = synchronized(c)

  /** Milliseconds of [t0, t1] covered by no job. */
  def gapMs(t0: Long, t1: Long): Long = synchronized {
    var covered = 0L
    var cur = t0
    spans.iterator
      .map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }
      .filter { case (s, e) => e > s }
      .toSeq.sortBy(_._1)
      .foreach { case (s, e) =>
        val from = math.max(s, cur)
        if (e > from) { covered += e - from; cur = e }
      }
    (t1 - t0) - covered
  }
}
