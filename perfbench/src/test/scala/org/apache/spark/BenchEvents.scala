package org.apache.spark

import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler._

/** Synthetic listener events (their constructors and setters are
  * Spark-private). */
object BenchEvents {
  private def props(request: Option[String]): java.util.Properties = {
    val p = new java.util.Properties
    request.foreach(p.setProperty(graftbench.Trace.RequestKey, _))
    p
  }

  def jobStart(job: Int, time: Long, request: Option[String]): SparkListenerJobStart =
    SparkListenerJobStart(job, time, Seq.empty, props(request))

  def jobEnd(job: Int, time: Long): SparkListenerJobEnd =
    SparkListenerJobEnd(job, time, JobSucceeded)

  def stageSubmitted(stage: Int, request: Option[String]): SparkListenerStageSubmitted =
    SparkListenerStageSubmitted(
      new StageInfo(stage, 0, s"stage $stage", 1, Seq.empty, Seq.empty, "",
        resourceProfileId = 0),
      props(request))

  def taskEnd(stage: Int, task: Long, launch: Long, finish: Long,
      runMs: Long, recordsRead: Long): SparkListenerTaskEnd = {
    val info = new TaskInfo(task, 0, 0, 0, launch, "driver", "localhost",
      TaskLocality.PROCESS_LOCAL, false)
    info.markFinished(TaskState.FINISHED, finish)
    val m = TaskMetrics.empty
    m.setExecutorRunTime(runMs)
    m.inputMetrics.incRecordsRead(recordsRead)
    SparkListenerTaskEnd(stage, 0, "ResultTask", Success, info, null, m)
  }
}
