package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One finished task, attributed to the job that submitted its stage. */
final case class TaskRec(job: Int, stage: Int, durationMs: Long, cpuNs: Long,
    runMs: Long, shuffleWriteBytes: Long, shuffleReadBytes: Long,
    spillBytes: Long, inputBytes: Long)

/** One job: wall-clock bounds (epoch ms) and the call site Spark recorded. */
final case class JobRec(id: Int, startMs: Long, endMs: Long, callSite: String)

/** Task-side usage summed over a set of jobs. */
final case class Usage(cpuS: Double, runS: Double, shuffleBytes: Long,
    spillBytes: Long, inputBytes: Long, taskSkew: Double)

/** Records every job and task the session runs. Read it only after
  * [[org.apache.spark.PerfbenchBus.drain]], which makes it complete.
  */
final class Tally extends SparkListener {
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val executionSite = mutable.HashMap.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized(executionSite(s.executionId) = s.details)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // A job's call site is the long-form stack of the action that started
    // it. Jobs a SQL action submits from Spark's own threads (adaptive
    // query stages) carry it only on the action's SQL execution.
    val props = Option(e.properties)
    val execution = props.flatMap(p => Option(p.getProperty("spark.sql.execution.root.id"))
      .orElse(Option(p.getProperty("spark.sql.execution.id")))).map(_.toLong)
    val site = execution.flatMap(executionSite.get)
      .getOrElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse(""))
    e.stageIds.foreach(stageJob(_) = e.jobId)
    jobs += JobRec(e.jobId, e.time, -1L, site)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val i = jobs.lastIndexWhere(_.id == e.jobId)
    if (i >= 0) jobs(i) = jobs(i).copy(endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskRec(stageJob.getOrElse(e.stageId, -1), e.stageId,
      e.taskInfo.duration, m.executorCpuTime, m.executorRunTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead)
  }

  /** Number of jobs seen so far: pass it to [[jobsSince]] later. */
  def mark: Int = synchronized(jobs.size)

  def jobsSince(mark: Int): Seq[JobRec] = synchronized(jobs.drop(mark).toList)

  def usage(of: Seq[JobRec]): Usage = synchronized {
    val ids = of.map(_.id).toSet
    val ts = tasks.filter(t => ids.contains(t.job))
    val durations = ts.map(_.durationMs).sorted
    val skew =
      if (durations.isEmpty) 0.0
      else durations.last / math.max(1.0, durations(durations.size / 2).toDouble)
    Usage(ts.map(_.cpuNs).sum / 1e9, ts.map(_.runMs).sum / 1e3,
      ts.map(_.shuffleWriteBytes).sum, ts.map(_.spillBytes).sum,
      ts.map(_.inputBytes).sum, skew)
  }
}
