package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Runtime counters the benchmark observes through its own listener
  * (attached in traced runs only): jobs, tasks, shuffle write, spill,
  * task run time and each stage's task durations (for skew).
  */
final class Counters extends SparkListener {
  @volatile var jobs = 0L
  @volatile var tasks = 0L
  @volatile var shuffleWriteBytes = 0L
  @volatile var spillBytes = 0L
  @volatile var taskRunNs = 0L
  /** Stage task times are kept only while a timed call runs. */
  @volatile var recording = false
  private val stageTaskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      taskRunNs += m.executorRunTime * 1000000L
    }
    if (recording && e.taskInfo != null)
      stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration
  }

  /** A copy of the scalar counters, to diff around a measured window. */
  def snapshot: Counters.Snap = synchronized {
    Counters.Snap(jobs, tasks, shuffleWriteBytes, spillBytes, taskRunNs)
  }

  /** Worst stage's max/median task duration among stages with at least
    * `minTasks` tasks that ran at least 10 ms (shorter stages are
    * scheduling noise); 1.0 when no stage qualifies.
    */
  def worstSkew(minTasks: Int = 4): Double = synchronized {
    val ratios = stageTaskMs.values.filter(_.size >= minTasks).flatMap { ds =>
      val s = ds.sorted
      val med = s(s.size / 2)
      if (s.last >= 10 && med > 0) Some(s.last.toDouble / med) else None
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}

object Counters {
  final case class Snap(jobs: Long, tasks: Long, shuffleWriteBytes: Long,
      spillBytes: Long, taskRunNs: Long) {
    def -(o: Snap): Snap = Snap(jobs - o.jobs, tasks - o.tasks,
      shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes,
      taskRunNs - o.taskRunNs)
    def +(o: Snap): Snap = Snap(jobs + o.jobs, tasks + o.tasks,
      shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes,
      taskRunNs + o.taskRunNs)
  }
}
