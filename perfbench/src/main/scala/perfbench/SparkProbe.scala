package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark scheduler listener owned by the benchmark.
  *
  * Work is attributed by job group, never by time window: every operation
  * runs under `setJobGroup("bench:<workload>:<op>")` on its calling thread,
  * and worker threads it spawns (DriverPar) inherit the group, so jobs that
  * overlap in time still land on the right operation. */
final class SparkProbe(sc: SparkContext) extends SparkListener {
  import SparkProbe._

  private val jobs = mutable.HashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.HashMap.empty[Int, StageRec]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]

  sc.addSparkListener(this)
  Trace.onSpanChange = id => sc.setLocalProperty(SpanProperty, id.map(_.toString).orNull)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = e.properties
    def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k))).getOrElse("")
    // the result stage is named after the call site that started the job
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    jobs(e.jobId) = JobRec(e.jobId, prop("spark.jobGroup.id"), site,
      prop(SpanProperty) match { case "" => 0L; case s => s.toLong }, e.time, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stages(i.stageId) = StageRec(i.stageId, stageJob.getOrElse(i.stageId, -1),
      i.submissionTime.getOrElse(0L), 0L, Long.MaxValue)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages.get(i.stageId).foreach(s =>
      stages(i.stageId) = s.copy(endMs = i.completionTime.getOrElse(s.submitMs)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    stages.get(e.stageId).foreach(s =>
      if (info.launchTime < s.firstLaunchMs) stages(e.stageId) = s.copy(firstLaunchMs = info.launchTime))
    tasks += (if (m == null) TaskRec(e.stageId, info.launchTime, info.finishTime, 0, 0, 0, 0, 0, 0,
      info.failed)
    else TaskRec(e.stageId, info.launchTime, info.finishTime, m.executorRunTime,
      m.executorCpuTime, m.jvmGCTime,
      m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.recordsRead, info.failed))
  }

  /** Waits until every posted event has reached this listener. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Totals for the jobs whose group starts with `groupPrefix`. `ops` are
    * the operations' own [start, end] intervals (epoch ms): the part of
    * them no job covers is driver time. */
  def totals(groupPrefix: String, ops: Seq[(Long, Long)]): Totals = synchronized {
    val js = jobs.values.filter(_.group.startsWith(groupPrefix)).toVector
    val jobIds = js.map(_.id).toSet
    val ss = stages.values.filter(s => jobIds.contains(s.job)).toVector
    val stageIds = ss.map(_.id).toSet
    val ts = tasks.filter(t => stageIds.contains(t.stage)).toVector
    val jobIntervals = js.map(j => (j.startMs, j.endMs)).sortBy(_._1)
    val gapMs = ops.map { case (s, e) => (e - s) - covered(jobIntervals, s, e) }.sum
    Totals(
      jobs = js.size,
      ckptJobs = js.count(_.callSite.startsWith("localCheckpoint")),
      stages = ss.size,
      tasks = ts.size,
      runMs = ts.map(_.runMs).sum,
      cpuNs = ts.map(_.cpuNs).sum,
      gcMs = ts.map(_.gcMs).sum,
      shuffleBytes = ts.map(_.shuffleBytes).sum,
      spillBytes = ts.map(_.spillBytes).sum,
      recordsRead = ts.map(_.recordsRead).sum,
      failedTasks = ts.count(_.failed),
      schedWaitMs = ss.filter(_.firstLaunchMs != Long.MaxValue)
        .map(s => math.max(0L, s.firstLaunchMs - s.submitMs)).sum,
      driverGapMs = gapMs,
      jobMs = js.map(j => j.endMs - j.startMs).sum)
  }

  /** Job, stage and task spans for the traced run, parented by the span
    * that was open on the thread that started each job. */
  def spans(groupPrefix: String): Seq[Span] = synchronized {
    val out = mutable.ArrayBuffer.empty[Span]
    val jobSpan = mutable.HashMap.empty[Int, Long]
    val stageSpan = mutable.HashMap.empty[Int, Long]
    for (j <- jobs.values if j.group.startsWith(groupPrefix)) {
      val id = Trace.newId()
      jobSpan(j.id) = id
      out += Span(id, j.span, s"job ${j.id} ${j.callSite}", "spark.scheduler",
        j.startMs * 1000000L, j.endMs * 1000000L)
    }
    for (s <- stages.values; parent <- jobSpan.get(s.job)) {
      val id = Trace.newId()
      stageSpan(s.id) = id
      out += Span(id, parent, s"stage ${s.id}", "spark.scheduler",
        s.submitMs * 1000000L, math.max(s.submitMs, s.endMs) * 1000000L)
    }
    for (t <- tasks; parent <- stageSpan.get(t.stage))
      out += Span(Trace.newId(), parent, s"task", "spark.executor",
        t.launchMs * 1000000L, t.finishMs * 1000000L)
    out.toSeq
  }
}

object SparkProbe {
  val SpanProperty = "perfbench.span"

  final case class JobRec(id: Int, group: String, callSite: String, span: Long,
      startMs: Long, endMs: Long)
  final case class StageRec(id: Int, job: Int, submitMs: Long, endMs: Long, firstLaunchMs: Long)
  final case class TaskRec(stage: Int, launchMs: Long, finishMs: Long, runMs: Long, cpuNs: Long,
      gcMs: Long, shuffleBytes: Long, spillBytes: Long, recordsRead: Long, failed: Boolean)

  final case class Totals(jobs: Int, ckptJobs: Int, stages: Int, tasks: Int, runMs: Long,
      cpuNs: Long, gcMs: Long, shuffleBytes: Long, spillBytes: Long, recordsRead: Long,
      failedTasks: Int, schedWaitMs: Long, driverGapMs: Long, jobMs: Long)

  /** Length of [s, e] covered by the (start-sorted) intervals. */
  def covered(intervals: Seq[(Long, Long)], s: Long, e: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((a0, b0) <- intervals) {
      val a = math.max(a0, s)
      val b = math.min(b0, e)
      if (b > a) {
        if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
    }
    if (curE > curS) total += curE - curS
    total
  }
}
