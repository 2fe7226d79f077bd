package graft.audit

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Aggregated task-metric totals for one measured action — the numbers a
  * cluster operator budgets by. `jobs` counts the action's job starts
  * (AQE map-stage submissions included). All byte counts are sums over
  * tasks; `peakExecMem` is the max single-task execution-memory peak (the
  * per-slot pressure figure — a task peaking above executor-mem/cores is
  * the spill/OOM predictor at scale). */
final case class BudgetSnapshot(
    jobs: Long,
    tasks: Long,
    inputBytes: Long,
    shuffleReadBytes: Long,
    shuffleWriteBytes: Long,
    memorySpillBytes: Long,
    diskSpillBytes: Long,
    peakExecMem: Long,
    maxTaskShuffleRead: Long) {
  /** Share of ALL shuffle-read bytes consumed by the single hungriest
    * task — the straggler/skew signal: a balanced stage sits near
    * 1/parallelism, a hot-key stage near the hot key's row share
    * (SkewRehearsalSpec asserts on this under Zipf input). */
  def maxTaskShuffleShare: Double =
    if (shuffleReadBytes == 0) 0.0
    else maxTaskShuffleRead.toDouble / shuffleReadBytes
  def pretty: String = {
    def mb(b: Long): String = f"${b / 1048576.0}%.1fMB"
    s"jobs=$jobs tasks=$tasks input=${mb(inputBytes)} shufR=${mb(shuffleReadBytes)} " +
      s"shufW=${mb(shuffleWriteBytes)} spillMem=${mb(memorySpillBytes)} " +
      s"spillDisk=${mb(diskSpillBytes)} peakTaskMem=${mb(peakExecMem)} " +
      f"maxTaskShufR=${mb(maxTaskShuffleRead)} (${maxTaskShuffleShare}%.2f)"
  }
}

/** SparkListener that totals the task metrics of ONE tagged action so
  * scale budgets can be ASSERTED, not inferred from plan shapes alone:
  * ScaleBudgetSpec pins per-family shuffle/spill ceilings the way PlanSpec
  * pins plan shapes, and [[ScaleAudit]] dumps the full-surface table behind
  * SCALE.md.
  *
  * Attribution is by job tag, not by time window: a job counts when its
  * start event carries `tag`, and a task counts when its stage belongs to
  * such a job. Jobs started concurrently on other threads (another suite,
  * a background query) carry no tag and are ignored. Use it through
  * [[TaskBudgetListener.measure]]. */
final class TaskBudgetListener private (private val tag: String) extends SparkListener {
  private val stages = mutable.HashSet.empty[Int]
  private var jobs, tasks, input, shufR, shufW, memSpill, diskSpill, peak, maxShufR = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tags = Option(e.properties).flatMap(p => Option(p.getProperty(TaskBudgetListener.TagsKey)))
    if (tags.exists(_.split(',').contains(tag))) {
      jobs += 1
      stages ++= e.stageIds
    }
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    val m = t.taskMetrics
    if (m != null && stages.contains(t.stageId)) {
      tasks += 1
      input += m.inputMetrics.bytesRead
      shufR += m.shuffleReadMetrics.totalBytesRead
      shufW += m.shuffleWriteMetrics.bytesWritten
      memSpill += m.memoryBytesSpilled
      diskSpill += m.diskBytesSpilled
      peak = math.max(peak, m.peakExecutionMemory)
      maxShufR = math.max(maxShufR, m.shuffleReadMetrics.totalBytesRead)
    }
  }

  private def snapshot(): BudgetSnapshot = synchronized {
    BudgetSnapshot(jobs, tasks, input, shufR, shufW, memSpill, diskSpill, peak, maxShufR)
  }
}

object TaskBudgetListener {
  /** The local property Spark stores a thread's job tags in (comma-joined). */
  private val TagsKey = "spark.job.tags"
  private val TagPrefix = "graft-budget-"
  /** Bound on the listener-bus drain after the action returns. */
  private val DrainTimeoutMs = 60000L
  private val calls = new AtomicLong

  /** Run `action` under a fresh job tag and return the budget of the jobs
    * that carry it. Threads the action creates inherit the tag (Spark local
    * properties are inheritable), `DriverPar`'s workers included; Spark's
    * own broadcast/subquery threads capture it with the other local
    * properties. After the action returns, the listener bus is drained
    * (bounded: a `TimeoutException` rather than an unsettled snapshot). */
  def measure[A](spark: SparkSession)(action: => A): (A, BudgetSnapshot) = {
    val sc = spark.sparkContext
    val l = new TaskBudgetListener(s"$TagPrefix${calls.incrementAndGet()}")
    sc.addSparkListener(l)
    try {
      sc.addJobTag(l.tag)
      val a = try action finally sc.removeJobTag(l.tag)
      GraftListenerBus.waitUntilEmpty(sc, DrainTimeoutMs)
      (a, l.snapshot())
    } finally sc.removeSparkListener(l)
  }
}
