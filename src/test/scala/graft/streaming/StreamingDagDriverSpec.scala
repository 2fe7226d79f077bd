package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.core.Dag
import graft.replay.SparkBatch

/** Micro-batch = dag cycle: the Structured Streaming <-> dag bridge. */
class StreamingDagDriverSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("each micro-batch executes one dag cycle with batch data") {
    val dag = new Dag
    val source = dag.sourceStream(SparkBatch(spark.emptyDataFrame, 0), name = "ticks")
    var running = Map.empty[String, Double]
    val state = dag.state(source) { b: SparkBatch =>
      b.df.groupBy("ticker").agg(sum("price").as("p")).as[(String, Double)]
        .collect().foreach { case (t, p) => running += t -> (running.getOrElse(t, 0.0) + p) }
      running
    }
    val sinkValues = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    dag.stream(state)(List.empty[Int]) { s => sinkValues += s; List(1) }

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Double)]
    val driver = new StreamingDagDriver(dag, source, (_, id) => id * 1000L)
    val query = driver.start(input.toDF().toDF("ticker", "price"))
    try {
      input.addData(("A", 1.0), ("B", 2.0))
      query.processAllAvailable()
      input.addData(("A", 3.0))
      query.processAllAvailable()
      assert(driver.cycleCount == 2)
      assert(running == Map("A" -> 4.0, "B" -> 2.0))
      assert(sinkValues.lastOption.contains(Map("A" -> 4.0, "B" -> 2.0)))
      // dag cycle ids advanced with batches
      assert(dag.getCycleId == 2)
    } finally query.stop()
  }

  test("an empty batch with a due timer reads the clock once and runs one cycle at that time") {
    val dag = new Dag
    val source = dag.sourceStream(SparkBatch(spark.emptyDataFrame, 0), name = "ticks")
    val tm = dag.timerManager()
    val firedAt = dag.state2(tm, dag.now())((_, now) => now)
    tm.getValue.setNextTimer(500L)
    var clockCalls = 0
    val driver = new StreamingDagDriver(dag, source, (_, _) => { clockCalls += 1; 1000L })
    driver.onBatch(spark.emptyDataFrame, 0L)
    assert(clockCalls == 1)
    assert(driver.cycleCount == 1 && dag.getCycleId == 1)
    assert(firedAt.getValue == 1000L)
  }
}
