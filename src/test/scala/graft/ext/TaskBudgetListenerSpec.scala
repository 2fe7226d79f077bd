package graft.ext

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.audit.TaskBudgetListener

/** `TaskBudgetListener.measure` attributes Spark work by job tag: what the
  * measured action runs counts (its own threads included), what other
  * threads run at the same time does not. Each collect of a
  * `spark.range` with p slices is one job of p tasks. */
class TaskBudgetListenerSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def slices(p: Int): Long = spark.range(0, 10L * p, 1, p).collect().length.toLong

  test("a job started on another, untagged thread during measure is not counted") {
    val go = new CountDownLatch(1)
    @volatile var otherRows = 0L
    // built before measure, so it does not inherit the measured tag
    val other = new Thread(() => { go.await(); otherRows = slices(7) })
    other.setDaemon(true)
    other.start()
    val (rows, b) = TaskBudgetListener.measure(spark) {
      go.countDown()
      other.join(TimeUnit.SECONDS.toMillis(60))
      slices(3)
    }
    assert(otherRows == 70L, "the untagged job did not finish inside the window")
    assert(rows == 30L)
    assert(b.tasks == 3 && b.jobs == 1, s"untagged work leaked in: ${b.pretty}")
  }

  test("jobs of DriverPar.map branches inside measure are counted") {
    val (rows, b) = TaskBudgetListener.measure(spark) {
      DriverPar.map(spark, Seq(2, 3, 4))(slices)
    }
    assert(rows == Seq(20L, 30L, 40L))
    assert(b.jobs == 3 && b.tasks == 9, b.pretty)
  }

  test("jobs equals the number of actions run") {
    val (_, b) = TaskBudgetListener.measure(spark)((1 to 4).foreach(_ => slices(2)))
    assert(b.jobs == 4 && b.tasks == 8, b.pretty)
    val (_, none) = TaskBudgetListener.measure(spark)(())
    assert(none.jobs == 0 && none.tasks == 0, none.pretty)
  }
}
