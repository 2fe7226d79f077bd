package graft.replay

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.core.{Dag, Time}
import graft.core.Time.Nanos

/** Replay-driver semantics mirroring `/root/reference/tests/test_replay.py`:
  * warp cycling, empty-period skipping, timer-driven cycles, sink gating,
  * source stitching. */
class ReplaySpec extends AnyFunSuite {

  case class Word(timestamp: Nanos, value: String)

  def ts(s: String): Nanos = Time.parse(s)
  val Hour: Nanos = 3600L * 1000000000L

  def wordCountDag(): (Dag, graft.core.Node[List[Word]], graft.core.Node[Unit]) = {
    val dag = new Dag
    val messages = dag.sourceStream(List.empty[Word], name = "messages")
    val counts = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val state = dag.state(messages) { ws: List[Word] =>
      ws.foreach(w => counts(w.value) += 1); counts.toMap
    }
    val touched = dag.stream(messages)(List.empty[String])(ws => ws.map(_.value).distinct.sorted)
    val records = dag.stream2(touched, state)(Map.empty[String, Long]) { (ks, all) =>
      ks.map(k => k -> all(k)).toMap
    }
    val sink = dag.sink("results", records)
    (dag, messages, sink)
  }

  test("replay runs only data cycles and warps over quiet periods") {
    val (dag, _, _) = wordCountDag()
    val words = Seq(
      Word(ts("2023-01-01T01:00:00Z"), "hello"),
      Word(ts("2023-01-01T01:01:00Z"), "world"),
      Word(ts("2023-01-01T02:30:00Z"), "hello"))
    val sink = new ListDataSink[Any]
    val driver = ReplayDriver.create(
      dag,
      ReplayContext(ts("2023-01-01T00:00:00Z"), ts("2023-01-02T00:00:00Z"), Hour),
      Map("messages" -> (_ => new ListDataSource[Word](words, _.timestamp))),
      Map("results" -> (_ => sink)))
    driver.run()

    assert(sink.closed)
    assert(sink.appended.map(_._1) ==
      Seq(ts("2023-01-01T01:00:00Z"), ts("2023-01-01T02:00:00Z"), ts("2023-01-01T03:00:00Z")))
    assert(sink.appended.map(_._2) == Seq(
      Map("hello" -> 1L), Map("world" -> 1L), Map("hello" -> 2L)))
    // 3 data cycles out of a 24h window: quiet hours were skipped instantly.
    assert(driver.metrics.size == 3)
    assert(driver.metrics.forall(_.warpRatio > 0))
  }

  test("pending timers force a data-less cycle (replay.py:230)") {
    val dag = new Dag
    val src = dag.sourceStream(List.empty[Nanos], name = "timers")
    var fired = List.empty[Nanos]
    val node = dag.stream3(src, dag.now(), dag.timerManager())(List.empty[Nanos]) {
      (entries, now, tm) =>
        entries.foreach(t => tm.setNextTimer(t))
        if (tm.justTriggered) { fired :+= now; List(now) } else Nil
    }
    dag.sink("out", node)
    val sink = new ListDataSink[Any]
    // a record delivered at 01:00 whose value sets a timer for 05:00
    val driver = ReplayDriver.create(
      dag,
      ReplayContext(ts("2023-01-01T00:00:00Z"), ts("2023-01-01T12:00:00Z"), Hour),
      Map("timers" -> (_ => new ListDataSource[Nanos](
        Seq(ts("2023-01-01T05:00:00Z")), _ => ts("2023-01-01T01:00:00Z")))),
      Map("out" -> (_ => sink)))
    driver.run()
    // Reference semantics: the warp advance ignores timers (replay.py:254-256
    // considers only next data), so after the 01:00 cycle time jumps to the
    // window end and the pending timer fires there, on a cycle with NO
    // source data (the `get_next_timer() <= now` branch, replay.py:230).
    assert(fired == List(ts("2023-01-01T12:00:00Z")))
    assert(sink.appended == Seq((ts("2023-01-01T12:00:00Z"), List(ts("2023-01-01T12:00:00Z")))))
  }

  test("source/sink name validation (replay.py:285-321)") {
    val (dag, _, _) = wordCountDag()
    val err = intercept[IllegalArgumentException] {
      ReplayDriver.create(dag,
        ReplayContext(0L, Hour, Hour),
        Map("wrong" -> (_ => new ListDataSource[Word](Nil, _.timestamp))),
        Map("results" -> (_ => new ListDataSink[Any])))
    }
    assert(err.getMessage.contains("don't match"))
  }

  test("IteratorDataSourceAdapter stitches consecutive sources (replay.py:324-371)") {
    def src(xs: (Nanos, Int)*) =
      new ListDataSource[(Nanos, Int)](xs, _._1)
    val adapter = new IteratorDataSourceAdapter[List[(Nanos, Int)]](
      Iterator(src((1L, 1), (2L, 2)), src(), src((3L, 3), (10L, 4))),
      Nil, _ ++ _)
    assert(adapter.getNext == 1L)
    assert(adapter.readTo(5L) == List((1L, 1), (2L, 2), (3L, 3)))
    assert(adapter.getNext == 10L)
    assert(adapter.readTo(20L) == List((10L, 4)))
    assert(adapter.getNext == Time.UtcMax)
    assert(adapter.readTo(30L) == Nil)
  }

  test("stitched Spark sources: an empty slice has length 0 and runs no cycle") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    def src(tss: Long*) =
      new SparkTableDataSource(tss.map(t => (t, s"v$t")).toDF("ts", "v"), "ts")
    val empty = SparkBatch(spark.emptyDataFrame, 0)
    def stitched() = new IteratorDataSourceAdapter[SparkBatch](
      Iterator(src(10L, 10L, 20L), src(30L)), empty,
      (a, b) => SparkBatch(a.df.unionByName(b.df), a.count + b.count))

    val direct = stitched()
    val before = direct.readTo(5L)
    assert(direct.length(before) == 0 && before.df.count() == 0)
    val first = direct.readTo(25L)
    assert(direct.length(first) == 3 && first.df.count() == 3)
    val rest = direct.readTo(40L) // exhausts the first source, reads the second
    assert(direct.length(rest) == 1 && rest.df.count() == 1)
    val after = direct.readTo(50L)
    assert(direct.length(after) == 0)

    // the slices before the first and after the last timestamp are empty:
    // the driver must skip them, and count sink rows, not sink values
    val dag = new Dag
    val events = dag.sourceStream(empty, name = "events")
    dag.sink("events", events)
    val driver = ReplayDriver.create(dag, ReplayContext(0L, 40L, 10L),
      Map("events" -> (_ => stitched())), Map("events" -> (_ => new ListDataSink[Any])))
    driver.run()
    assert(driver.metrics.map(_.timestamp) == Seq(10L, 20L, 30L))
    assert(driver.metrics.map(_.sourceRecords) == Seq(2L, 1L, 1L))
    assert(driver.metrics.map(_.sinkRecords) == Seq(2L, 1L, 1L))
  }

  test("Spark parquet replay source slices events by virtual time") {
    val spark = SparkTestSession.spark
    val dag = new Dag
    val src = dag.sourceStream(SparkBatch(spark.emptyDataFrame, 0L), name = "events")
    var totalRows = 0L
    var cycles = 0
    val counted = dag.stream(src)(List.empty[Long]) { b: SparkBatch =>
      cycles += 1
      // exercise the lazy slice: a real Spark job over just this window
      val n = b.df.count()
      assert(n == b.count, "index count must match actual slice rows")
      totalRows += n
      List(n)
    }
    dag.sink("counts", counted)
    val sink = new ListDataSink[Any]
    val driver = ReplayDriver.create(
      dag,
      ReplayContext(ts("2024-01-01T00:00:00Z"), ts("2024-02-01T00:00:00Z"), 24 * Hour),
      Map("events" -> (_ =>
        SparkTableDataSource.parquet(spark, "/root/testdata/sf0.001/events.parquet", "ts"))),
      Map("counts" -> (_ => sink)))
    driver.run()
    val expected = spark.read.parquet("/root/testdata/sf0.001/events.parquet").count()
    assert(totalRows == expected)
    assert(cycles > 1) // multiple daily cycles, not one big gulp
    assert(sink.appended.size == cycles)
  }
}
