package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Spark-side accounting for the traced replay. Registered from
  * outside the engine; a job is tied to its request by the
  * [[Trace.RequestKey]] local property the client thread sets. Events
  * arrive on the listener-bus thread; read the results only after the
  * bus has drained. */
final class LayerListener extends SparkListener {
  import LayerListener._

  val jobs = mutable.Map[Int, JobRec]()
  val stages = mutable.Map[Int, String]() // stage id -> request ("" = none)
  val tasks = mutable.ArrayBuffer[TaskRec]()
  /** SQL execution id -> planning ms (analysis + optimization + planning). */
  val planMs = mutable.Map[Long, Double]()

  private def prop(p: java.util.Properties, k: String): String =
    Option(p).flatMap(x => Option(x.getProperty(k))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = JobRec(prop(e.properties, Trace.RequestKey),
      prop(e.properties, "spark.sql.execution.id").toLongOption, e.time, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stages(e.stageInfo.stageId) = prop(e.properties, Trace.RequestKey)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += taskRec(stages.getOrElse(e.stageId, ""), e.stageId, e.taskInfo, e.taskMetrics)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd =>
      org.apache.spark.sql.BenchSql.queryExecution(end).foreach { qe =>
        val ms = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
        synchronized { planMs(end.executionId) = ms }
      }
    case _ =>
  }
}

object LayerListener {
  final case class JobRec(request: String, execution: Option[Long], start: Long, end: Long)

  final case class TaskRec(request: String, stage: Int, launch: Long, finish: Long,
      runMs: Long, cpuNs: Long, gcMs: Long, schedulerDelayMs: Long,
      spillBytes: Long, inputBytes: Long, sourceRecords: Long, recordsIn: Long,
      shuffleWriteBytes: Long, shuffleReadBytes: Long, outputBytes: Long)

  def taskRec(request: String, stage: Int, info: TaskInfo,
      m: org.apache.spark.executor.TaskMetrics): TaskRec =
    if (m == null) TaskRec(request, stage, info.launchTime, info.finishTime,
      0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    else {
      val duration = math.max(0L, info.finishTime - info.launchTime)
      // the Spark UI's definition: task wall not spent running,
      // deserializing, or shipping the result
      val delay = duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime -
        (if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L)
      val sr = m.shuffleReadMetrics
      TaskRec(request, stage, info.launchTime, info.finishTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime, math.max(0L, delay),
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead,
        m.inputMetrics.recordsRead, m.inputMetrics.recordsRead + sr.recordsRead,
        m.shuffleWriteMetrics.bytesWritten,
        sr.localBytesRead + sr.remoteBytesRead, m.outputMetrics.bytesWritten)
    }
}

/** Spans of one replayed request, in epoch milliseconds (the clock
  * Spark stamps job events with) at sub-millisecond precision. */
final case class Spans(request: String,
    authMs: Double, parseMs: Double, validateMs: Double, admitMs: Double,
    runStart: Double, runEnd: Double, renderStart: Double, renderEnd: Double,
    responseBytes: Long, cubesLive: Int, tasksOk: Int, tasksTotal: Int,
    fileBytesWritten: Long) {
  def wallMs: Double = renderEnd - runStart + authMs + parseMs + validateMs + admitMs
}

object Trace {
  /** Local property naming the request a Spark job belongs to. */
  val RequestKey = "graftbench.request"

  private val epochBaseMs = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  /** Epoch ms with nanoTime's resolution. */
  def nowMs(): Double = epochBaseMs + (System.nanoTime() - nanoBase) / 1e6

  /** Time a call; returns (result, elapsed ms). */
  def timed[A](f: => A): (A, Double) = {
    val s = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - s) / 1e6)
  }

  /** Per-request layer figures from spans plus listener records; every
    * value is one request's, the report takes medians over requests. */
  def layers(spans: Seq[Spans], l: LayerListener, cores: Int,
      inputFileBytes: Long): Map[String, Seq[Double]] = l.synchronized {
    val jobsBy = l.jobs.values.groupBy(_.request)
    val tasksBy = l.tasks.groupBy(_.request)
    val stagesBy = l.stages.groupBy(_._2).map { case (k, v) => k -> v.size }
    val out = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    def put(k: String, v: Double): Unit = out.getOrElseUpdate(k, mutable.ArrayBuffer()) += v
    spans.foreach { s =>
      val jobs = jobsBy.getOrElse(s.request, Nil).toSeq
      val tasks = tasksBy.getOrElse(s.request, Nil).toSeq
      val intervals = jobs.map(j => (j.start * 1000, j.end * 1000)) // in µs
      def self(a: Double, b: Double): Double =
        (b - a) - Stats.covered((a * 1000).toLong, (b * 1000).toLong, intervals) / 1000.0
      val runMs = tasks.map(_.runMs).sum.toDouble
      put("server.auth_ms", s.authMs)
      put("workflow.parse_ms", s.parseMs)
      put("workflow.validate_ms", s.validateMs)
      put("engine.run_ms", s.runEnd - s.runStart)
      put("engine.driver_self_ms", self(s.runStart, s.runEnd))
      put("engine.cubes_live", s.cubesLive)
      put("engine.tasks_ok_frac",
        if (s.tasksTotal == 0) 1.0 else s.tasksOk.toDouble / s.tasksTotal)
      put("render.ms", s.renderEnd - s.renderStart)
      put("render.self_ms", self(s.renderStart, s.renderEnd))
      put("render.response_bytes", s.responseBytes)
      put("spark.plan_ms", jobs.flatMap(_.execution).distinct
        .map(l.planMs.getOrElse(_, 0.0)).sum)
      put("spark.jobs", jobs.size)
      put("spark.stages", stagesBy.get(s.request).fold(0.0)(_.toDouble))
      put("spark.tasks", tasks.size)
      put("spark.scheduler_delay_ms", tasks.map(_.schedulerDelayMs).sum)
      put("spark.empty_task_frac",
        if (tasks.isEmpty) 0.0 else tasks.count(_.recordsIn == 0).toDouble / tasks.size)
      put("spark.executor_run_ms", runMs)
      put("spark.executor_cpu_ms", tasks.map(_.cpuNs).sum / 1e6)
      put("spark.core_busy_frac", Stats.coreBusyFrac(runMs, s.wallMs, cores))
      put("spark.gc_ms", tasks.map(_.gcMs).sum)
      put("spark.spill_bytes", tasks.map(_.spillBytes).sum)
      put("spark.input_bytes", tasks.map(_.inputBytes).sum)
      // computed, not measured: the input file's size times the number
      // of stages that read source records (the scans of the file)
      val scans = tasks.filter(_.sourceRecords > 0).map(_.stage).distinct.size
      put("sources.file_bytes_read", inputFileBytes.toDouble * scans)
      put("spark.shuffle_write_bytes", tasks.map(_.shuffleWriteBytes).sum)
      put("spark.shuffle_read_bytes", tasks.map(_.shuffleReadBytes).sum)
      put("spark.output_bytes", tasks.map(_.outputBytes).sum)
      put("sources.file_bytes_written", s.fileBytesWritten)
    }
    out.map { case (k, v) => k -> v.toSeq }.toMap
  }
}
