package graft.ext

import java.util.concurrent.TimeUnit

import org.apache.spark.JobExecutionStatus
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

import graft.SparkTestSession

class DriverParSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("results come back in item order") {
    assert(DriverPar.map(spark, Seq(1, 2, 3))(_ * 2) == Seq(2, 4, 6))
  }

  test("first branch failure rethrows it and cancels the sibling's running job") {
    import spark.implicits._
    val sc = spark.sparkContext
    val group = s"driverpar-spec-${System.nanoTime()}"
    def running: Seq[Int] = sc.statusTracker.getJobIdsForGroup(group).toSeq
      .filter(id => sc.statusTracker.getJobInfo(id)
        .exists(_.status == JobExecutionStatus.RUNNING))
    // the branches inherit the caller's job group; interruptOnCancel lets
    // the cancelled sleeping task stop instead of holding a core
    sc.setJobGroup(group, "DriverParSpec", interruptOnCancel = true)
    val t0 = System.nanoTime()
    try {
      val err = intercept[IllegalStateException] {
        DriverPar.map(spark, Seq(0, 1)) { i =>
          if (i == 0) {
            // one task sleeping ~60 s: far longer than the test may take
            spark.range(0, 600, 1, 1).map { x => Thread.sleep(100); x }.count()
          } else {
            val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
            while (running.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
            assert(running.nonEmpty, "the sibling's job never started under the caller's group")
            throw new IllegalStateException("branch 1 failed")
          }
        }
      }
      assert(err.getMessage == "branch 1 failed")
      assert(System.nanoTime() - t0 < TimeUnit.SECONDS.toNanos(45))
      eventually(timeout(Span(20, Seconds))) { assert(running.isEmpty) }
      // the per-call tag stays on the branch threads
      assert(!sc.getJobTags().exists(_.startsWith("graft-driverpar-")))
    } finally sc.clearJobGroup()
  }
}
