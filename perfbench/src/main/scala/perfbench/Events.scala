package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** What one finished task cost, stamped with its launch time (epoch ms). */
final case class TaskRec(launchMs: Long, cpuNs: Long, gcMs: Long,
                         shuffleReadB: Long, shuffleWriteB: Long,
                         spillB: Long, peakMemB: Long, outputB: Long)

/** Spark listener that only buffers events with their epoch-ms stamps.
  *
  * The benchmark has a single client thread, so every job, stage and task
  * belongs to whichever span was open when it started: events are attributed
  * to spans by time after the run, which needs no bus draining (and so adds
  * no waiting) inside the timed region.
  */
final class Events extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[Long]()
  val stages = new ConcurrentLinkedQueue[Long]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.add(e.stageInfo.submissionTime.getOrElse(
      e.stageInfo.completionTime.getOrElse(0L)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(
      e.taskInfo.launchTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory,
      m.outputMetrics.bytesWritten))
  }

  /** Events whose start lies in [fromMs, toMs). */
  def jobsIn(fromMs: Double, toMs: Double): Int =
    jobs.asScala.count(t => t >= fromMs && t < toMs)
  def stagesIn(fromMs: Double, toMs: Double): Int =
    stages.asScala.count(t => t >= fromMs && t < toMs)
  def tasksIn(fromMs: Double, toMs: Double): Iterable[TaskRec] =
    tasks.asScala.filter(t => t.launchMs >= fromMs && t.launchMs < toMs)
}
