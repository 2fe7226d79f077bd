package graft.core

import org.scalatest.funsuite.AnyFunSuite
import graft.core.Time.Nanos

/** Contract tests mirroring the reference semantics suite
  * (`/root/reference/tests/test_dag.py`): propagation, cycle ids, cutoff,
  * silence, timers, prune, metrics, diamond dedup.
  */
class DagSpec extends AnyFunSuite {

  /** Reference `GetLatest` (`tests/test_util.py:27-35`). */
  class GetLatest[T](default: T) extends (List[T] => T) {
    private var value: T = default
    def apply(values: List[T]): T = { if (values.nonEmpty) value = values.last; value }
  }

  def ts(s: String): Nanos = Time.parse(s + "T00:00:00Z")

  test("state positional propagation (test_state_positional)") {
    val dag = new Dag
    val xSource = dag.sourceStream(List.empty[Int], name = "x")
    val x = dag.state(xSource)(new GetLatest(1))
    val ySource = dag.sourceStream(List.empty[Int], name = "y")
    val y = dag.state(ySource)(new GetLatest(2))
    val z = dag.state2(x, y)((a: Int, b: Int) => a + b)

    dag.execute()
    assert(z.getValue == 3)

    xSource.setStream(List(5))
    dag.execute()
    assert(z.getValue == 7)
  }

  test("const and lambdas (test_using_lambda)") {
    val dag = new Dag
    val xSource = dag.sourceStream(List.empty[Int], name = "x")
    val x = dag.state(xSource)(new GetLatest(40))
    val ySource = dag.sourceStream(List.empty[Int], name = "y")
    val y = dag.state(ySource)(new GetLatest(41))
    val z = dag.state2(x, y)((a: Int, b: Int) => a + b)
    val w = dag.state2(y, z)((left: Int, right: Int) => left - right)
    dag.execute()
    assert(w.getValue == -40)
  }

  test("empty stream output => not updated (test_mutate_inputs shape)") {
    val dag = new Dag
    val source = dag.sourceStream(List.empty[Int])
    val right = dag.sourceStream(List.empty[Int])
    val concat = dag.stream2(source, right)(List.empty[Int])((a, b) => a ++ b)
    val passthrough = dag.stream2(source, right)(List.empty[Int])((a, _) => a)

    source.setStream(List(1, 2, 3)); right.setStream(List(4))
    dag.execute()
    assert(concat.getValue == List(1, 2, 3, 4))
    // Reference test sees List(1,2,3,4) here only via Python in-place list
    // mutation aliasing (`_modify`, tests/test_dag.py:669-695); immutable
    // Scala values make that hazard impossible — intentional improvement.
    assert(passthrough.getValue == List(1, 2, 3))

    dag.execute()
    assert(concat.getValue == Nil) // not notified => reset to empty
    assert(passthrough.getValue == Nil)

    right.setStream(List(1))
    dag.execute()
    assert(concat.getValue == List(1))
    assert(passthrough.getValue == Nil) // notified but empty result
    assert(passthrough.getCycleId != dag.getCycleId) // considered not updated
  }

  test("cutoff default comparator (test_cutoff_update)") {
    val dag = new Dag
    val xSource = dag.sourceStream(List.empty[String], name = "x")
    val x = dag.state(xSource)(new GetLatest("?"))
    val xChangeOnly = dag.cutoff(x)

    xSource.setStream(List("a"))
    dag.execute()
    assert(x.getValue == "a" && xChangeOnly.getValue == "a")
    assert(x.getCycleId == dag.getCycleId)
    assert(xChangeOnly.getCycleId == dag.getCycleId)

    dag.execute()
    assert(x.getCycleId == dag.getCycleId - 1)
    assert(xChangeOnly.getCycleId == dag.getCycleId - 1)

    xSource.setStream(List("a")) // same value again
    dag.execute()
    assert(x.getCycleId == dag.getCycleId) // x recomputed
    assert(xChangeOnly.getCycleId == dag.getCycleId - 2) // cutoff suppressed
  }

  test("cutoff custom tolerance (test_cutoff_custom)") {
    val dag = new Dag
    val xSource = dag.sourceStream(List.empty[Double], name = "x")
    val x = dag.state(xSource)(new GetLatest(1.0))
    val cut = dag.cutoff[Double](x, (a, b) => math.abs(a - b) < 0.1)

    xSource.setStream(List(1.0)); dag.execute()
    assert(cut.getValue == 1.0 && cut.getCycleId == dag.getCycleId)
    dag.execute()
    xSource.setStream(List(1.01)); dag.execute()
    assert(cut.getCycleId == dag.getCycleId - 2)
    xSource.setStream(List(1.09)); dag.execute()
    assert(cut.getCycleId == dag.getCycleId - 3)
    xSource.setStream(List(1.11)); dag.execute()
    assert(cut.getCycleId == dag.getCycleId && cut.getValue == 1.11)
  }

  test("silence state (test_silence_state)") {
    val dag = new Dag
    val xSource = dag.sourceStream(List.empty[String], name = "x")
    val x = dag.state(xSource)(new GetLatest("?"))
    val xSilent = dag.silence(x)

    xSource.setStream(List("a")); dag.execute()
    assert(x.getValue == "a" && xSilent.getValue == "a")
    assert(x.getCycleId == dag.getCycleId && xSilent.getCycleId == 0)

    xSource.setStream(List("b")); dag.execute()
    assert(x.getValue == "b" && xSilent.getValue == "b")
    assert(xSilent.getCycleId == 0)
  }

  test("silence stream (test_silence_stream)") {
    val dag = new Dag
    val xSource = dag.sourceStream(List.empty[String], name = "x")
    val xSilent = dag.silence(xSource)
    xSource.setStream(List("a", "b")); dag.execute()
    assert(xSilent.getCycleId == 0)
    assert(xSource.getCycleId == 1)
    assert(xSilent.getValue == List("a", "b"))
  }

  test("now node is silent virtual time (test_now)") {
    val dag = new Dag
    val now = dag.now()
    assert(now.getValue == Time.UtcEpoch)
    dag.execute(ts("2022-09-22"))
    assert(now.getValue == ts("2022-09-22") && now.getCycleId == 0)
    dag.execute(ts("2022-09-23"))
    assert(now.getValue == ts("2022-09-23") && now.getCycleId == 0)
  }

  test("timers fire at virtual time (test_timers)") {
    case class TimerEntry(timestamp: Nanos, values: List[Int])
    // Reference `SetATimer` (`tests/test_util.py:84-105`).
    class SetATimer extends ((List[TimerEntry], Nanos, TimerManager) => List[Int]) {
      private var entry: Option[TimerEntry] = None
      def apply(entries: List[TimerEntry], now: Nanos, tm: TimerManager): List[Int] = {
        if (entries.nonEmpty) { entry = Some(entries.last); tm.setNextTimer(entry.get.timestamp) }
        if (entry.isDefined && now >= entry.get.timestamp) {
          val out = entry.get.values; entry = None; out
        } else Nil
      }
    }

    val dag = new Dag
    val timerSource = dag.sourceStream(List.empty[TimerEntry])
    val node = dag.stream3(timerSource, dag.now(), dag.timerManager())(List.empty[Int])(new SetATimer)

    assert(dag.getNextTimer == Time.UtcMax)
    dag.execute(ts("2022-09-22"))
    assert(dag.getNextTimer == Time.UtcMax && node.getValue == Nil && node.getCycleId == 0)

    timerSource.setStream(List(TimerEntry(ts("2022-09-24"), List(1, 2, 3))))
    dag.execute(ts("2022-09-23"))
    assert(node.getCycleId == 0 && node.getValue == Nil)
    assert(dag.getNextTimer == ts("2022-09-24"))

    dag.execute(ts("2022-09-23"))
    assert(node.getCycleId == 0 && dag.getNextTimer == ts("2022-09-24"))

    dag.execute(ts("2022-09-24"))
    assert(node.getValue == List(1, 2, 3) && node.getCycleId == 4)
    assert(dag.getNextTimer == Time.UtcMax)

    dag.execute(ts("2022-09-25"))
    assert(node.getValue == Nil && node.getCycleId == 4 && dag.getNextTimer == Time.UtcMax)

    timerSource.setStream(List(TimerEntry(ts("2022-09-27"), List(4, 5, 6))))
    dag.execute(ts("2022-09-26"))
    assert(node.getValue == Nil && node.getCycleId == 4)
    assert(dag.getNextTimer == ts("2022-09-27"))

    dag.execute(ts("2022-09-30"))
    assert(node.getValue == List(4, 5, 6) && node.getCycleId == 7)
    assert(dag.getNextTimer == Time.UtcMax)
  }

  test("timer manager flush (test_timer_manager)") {
    val dag = new Dag
    val tmNode = dag.timerManager()
    val tm = tmNode.getValue
    val t1 = ts("2022-10-20")
    tm.setNextTimer(t1)
    assert(tm.hasNextTimer && tm.getNextTimer == t1)
    assert(dag.getNextTimer == t1)
    tm.clearNextTimer()
    assert(!tm.hasNextTimer)
  }

  test("sinks and sources (test_sinks_and_sources)") {
    val dag = new Dag
    val s1 = dag.sourceStream(List.empty[Int], name = "source_1")
    val s2 = dag.sourceStream(List.empty[Int], name = "source_2")
    val both = dag.stream2(s1, s2)(List.empty[Int])((a, b) => a ++ b)
    val sink = dag.sink("sink", both)

    assert(dag.getSources == Map("source_1" -> s1, "source_2" -> s2))
    assert(dag.getSinks("sink") == Seq(sink))

    s1.setStream(List(1, 2, 3)); dag.execute()
    assert(dag.getSinks("sink").head.getSinkValue == List(1, 2, 3))

    s1.setStream(List(4, 5, 6)); dag.execute()
    assert(sink.getSinkValue == List(4, 5, 6))

    s1.setStream(List(7)); s2.setStream(List(8, 9)); dag.execute()
    assert(sink.getSinkValue == List(7, 8, 9))
  }

  test("duplicate named source returns same node (test_duplicate_source)") {
    val dag = new Dag
    val s1 = dag.sourceStream(List.empty[Int], name = "source")
    val s2 = dag.sourceStream(List.empty[Int], name = "source")
    assert(s1 eq s2)
  }

  test("multiple sinks may share a name; getSinks groups them (dag.py:644-650)") {
    val dag = new Dag
    val src = dag.sourceStream(List.empty[Int], name = "s")
    val doubled = dag.stream(src)(List.empty[Int])(_.map(_ * 2))
    dag.sink("out", src)
    dag.sink("out", doubled)
    assert(dag.getSinks("out").size == 2)
    src.setStream(List(1, 2)); dag.execute()
    assert(dag.getSinks("out").map(_.getSinkValue) == Seq(List(1, 2), List(2, 4)))
  }

  test("diamond inputs evaluated once per cycle (test_dag.py:490-514 shape)") {
    val dag = new Dag
    var calls = 0
    val source = dag.sourceStream(List.empty[Int], name = "source")
    val node = dag.stream2(source, source)(List.empty[Int]) { (a, b) =>
      calls += 1; a ++ b
    }
    source.setStream(List(1)); dag.execute()
    assert(node.getValue == List(1, 1))
    assert(calls == 1) // evaluated exactly once despite being a double input
    source.setStream(List(2)); dag.execute()
    assert(calls == 2)
  }

  test("metrics exact counts (test_metrics)") {
    val dag = new Dag
    val xSource = dag.sourceStream(List.empty[Int], name = "x")
    val x = dag.state(xSource)(new GetLatest(40))
    val ySource = dag.sourceStream(List.empty[Int], name = "y")
    val y = dag.state(ySource)(new GetLatest(41))
    val z = dag.state2(x, y)((a: Int, b: Int) => a + b)
    dag.state2(y, z)((left: Int, right: Int) => left - right)

    dag.execute()
    assert(dag.flushMetrics() == DagMetrics(13, 8, 1, 8))

    dag.execute()
    assert(dag.flushMetrics() == DagMetrics(0, 0, 1, 8))
    assert(dag.flushMetrics() == DagMetrics(0, 0, 0, 8))

    xSource.setStream(List(1, 2, 3)); ySource.setStream(List(1, 2, 3))
    dag.execute()
    assert(dag.flushMetrics() == DagMetrics(8, 6, 1, 8))

    xSource.setStream(List(1, 2, 3))
    dag.execute()
    assert(dag.flushMetrics() == DagMetrics(4, 4, 1, 8))
  }

  test("prune removes dead subgraph but keeps sinks (test_prune_*)") {
    val dag = new Dag
    val sourceA = dag.sourceStream(List.empty[String], name = "source_a")
    val sourceB = dag.sourceStream(List.empty[String], name = "source_b")
    dag.stream(sourceA)(List.empty[String])(identity)
    val nodeB = dag.stream(sourceB)(List.empty[String])(identity)
    dag.sink("sink_b", nodeB)

    val removed = dag.prune()
    assert(removed.size == 2)
    assert(dag.getSources == Map("source_b" -> sourceB))
    dag.execute() // pruned dag still executes

    sourceB.setStream(List("a", "b")); dag.execute()
    assert(nodeB.getValue == List("a", "b"))
  }

  test("prune keeps everything wired to a sink (test_prune_nothing)") {
    val dag = new Dag
    val source = dag.sourceStream(List.empty[String], name = "source")
    val node = dag.stream2(source, dag.now())(List.empty[String])((x, _) => x)
    dag.sink("sink", node)
    assert(dag.prune().isEmpty)
  }

  test("errors carry build-site (test_map_runtime_failure shape)") {
    val dag = new Dag
    val xSource = dag.sourceStream(List.empty[Int], name = "x")
    val x = dag.state(xSource)(new GetLatest(40))
    val ySource = dag.sourceStream(List.empty[Int], name = "y")
    val y = dag.state(ySource)(new GetLatest(1))
    val z = dag.state2(x, y) { (a: Int, b: Int) =>
      val r = a + b
      if (r == 42) throw new IllegalStateException(s"$a + $b == 42") else r
    }
    dag.execute()
    assert(z.getValue == 41)
    ySource.setStream(List(2))
    val err = intercept[RuntimeException](dag.execute())
    assert(err.getMessage.contains("Unable to run node"))
    assert(err.getCause.isInstanceOf[IllegalStateException])
  }

  test("word count dag (create_word_count_dag shape)") {
    val dag = new Dag
    val messages = dag.sourceStream(List.empty[String], name = "messages")
    val counts = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val state = dag.state(messages) { words: List[String] =>
      words.foreach(w => counts(w) += 1); counts.toMap
    }
    val changedKeys = dag.stream(messages)(List.empty[String])(ws => ws.distinct.sorted)
    val records = dag.stream2(changedKeys, state)(Map.empty[String, Long]) { (keys, all) =>
      keys.map(k => k -> all(k)).toMap
    }
    dag.sink("results", records)

    messages.setStream(List("hello", "world", "hello"))
    dag.execute()
    assert(records.getValue == Map("hello" -> 2L, "world" -> 1L))

    messages.setStream(List("world"))
    dag.execute()
    assert(records.getValue == Map("world" -> 2L)) // only touched keys emitted

    dag.execute()
    assert(records.getValue == Map.empty[String, Long]) // no input => empty
  }

  test("3- and 4-ary node constructors wire all inputs") {
    val dag = new Dag
    val a = dag.sourceStream(List.empty[Int], name = "a")
    val b = dag.sourceStream(List.empty[Int], name = "b")
    val c = dag.sourceStream(List.empty[Int], name = "c")
    val d = dag.sourceStream(List.empty[Int], name = "d")
    val s4 = dag.stream4(a, b, c, d)(List.empty[Int])((w, x, y, z) => w ++ x ++ y ++ z)
    val latest = (n: Node[List[Int]]) => dag.state(n)(new GetLatest(0) compose ((l: List[Int]) => l))
    val la = latest(a); val lb = latest(b); val lc = latest(c); val ld = latest(d)
    val t3 = dag.state3(la, lb, lc)((x: Int, y: Int, z: Int) => x + y + z)
    val t4 = dag.state4(la, lb, lc, ld)((w: Int, x: Int, y: Int, z: Int) => w + x + y + z)
    a.setStream(List(1)); b.setStream(List(2)); c.setStream(List(3)); d.setStream(List(4))
    dag.execute()
    assert(s4.getValue == List(1, 2, 3, 4))
    assert(t3.getValue == 6 && t4.getValue == 10)
  }

  test("invalid usage is rejected (test_wrong_usage shapes)") {
    val dag = new Dag
    // non-empty `empty` value
    intercept[IllegalArgumentException](dag.sourceStream(List(1), name = "bad"))
    // input node from another dag
    val other = new Dag
    val foreign = other.sourceStream(List.empty[Int], name = "f")
    intercept[IllegalArgumentException](dag.stream(foreign)(List.empty[Int])(identity))
    // sink value read on a non-sink; setStream on a non-source
    val src = dag.sourceStream(List.empty[Int], name = "ok")
    val node = dag.stream(src)(List.empty[Int])(identity)
    intercept[IllegalArgumentException](node.getSinkValue)
    intercept[IllegalArgumentException](node.setStream(List(1)))
  }

  test("stateAdv honours StateUnchanged and SilentUpdate") {
    val dag = new Dag
    val source = dag.sourceStream(List.empty[Int], name = "s")
    var latest = 0
    val n = dag.stateAdv[List[Int], Int](source) { xs =>
      if (xs.isEmpty) StateUnchanged
      else if (xs.last < 0) SilentUpdate { latest = xs.last; latest }
      else { latest = xs.last; latest }
    }
    val downstreamTouches = new java.util.concurrent.atomic.AtomicInteger
    dag.state(n) { v: Int => downstreamTouches.incrementAndGet(); v }

    dag.execute() // first cycle: n returns Unchanged; downstream initial stain runs once
    val base = downstreamTouches.get

    source.setStream(List(7)); dag.execute()
    assert(n.getValue == 7 && downstreamTouches.get == base + 1)

    source.setStream(List(-3)); dag.execute() // silent: value moves, no notify
    assert(n.getValue == -3 && downstreamTouches.get == base + 1)
  }

  test("streamN wires arity > 4 with notify-any and typed extraction (dag.py:179-205,363-374)") {
    val dag = new Dag
    val srcs = (0 until 6).map(i => dag.sourceStream(List.empty[Int], name = s"s$i"))
    var runs = 0
    val sum = dag.streamN(srcs)(List.empty[Int]) { in =>
      runs += 1
      val total = (0 until in.size).flatMap(i => in.as[List[Int]](i)).sum
      if (total == 0) Nil else List(total)
    }
    dag.sink("sum", sum)

    // all six inputs set: one recompute, values from every position
    srcs.zipWithIndex.foreach { case (s, i) => s.setStream(List(i + 1)) }
    dag.execute()
    assert(sum.getValue == List(21) && runs == 1)

    // notify-any: a single updated input recomputes once; others read empty
    srcs(3).setStream(List(100))
    dag.execute()
    assert(sum.getValue == List(100) && runs == 2)

    // no input updated => node does not run, stream resets to empty
    dag.execute()
    assert(sum.getValue.isEmpty && runs == 2)
  }

  test("stateN persists across cycles and honours sentinels at arity > 4") {
    val dag = new Dag
    val srcs = (0 until 5).map(i => dag.sourceStream(List.empty[Int], name = s"t$i"))
    val acc = dag.stateN[Int](srcs) { in =>
      val total = (0 until in.size).flatMap(i => in.as[List[Int]](i)).sum
      if (total < 0) StateUnchanged else total
    }
    srcs(0).setStream(List(7)); dag.execute()
    assert(acc.getValue == 7)
    srcs(4).setStream(List(-1)); dag.execute() // sentinel: keep previous value
    assert(acc.getValue == 7 && acc.getCycleId < dag.getCycleId)
  }

  test("duplicate source name: same empty reuses the node, different empty throws (dag.py:448-453)") {
    val dag = new Dag
    val a = dag.sourceStream(List.empty[Int], name = "dup")
    // identical empty value => the existing node is returned
    assert(dag.sourceStream(List.empty[Int], name = "dup") eq a)
    // different element type / empty value => build-time error, not a distant
    // ClassCastException at runtime
    val err = intercept[IllegalArgumentException] {
      dag.sourceStream(Set.empty[String], name = "dup")
    }
    assert(err.getMessage.contains("Duplicate source: dup"))
  }

  test("duplicate source name: reference-unequal empties of the same class reuse the node") {
    // Array equality is reference equality — two Array.empty calls are !=
    // but are the same registration; the reference compares empty FACTORIES,
    // not values (dag.py:448-453)
    val dag = new Dag
    val a = dag.sourceStream(Array.empty[Int], name = "arr")
    assert(dag.sourceStream(Array.empty[Int], name = "arr") eq a)
    // a different array element class still throws
    val err = intercept[IllegalArgumentException] {
      dag.sourceStream(Array.empty[String], name = "arr")
    }
    assert(err.getMessage.contains("Duplicate source: arr"))
  }

  test("duplicate source name: SparkBatch empties compare wrapped schemas") {
    val spark = graft.SparkTestSession.spark
    import spark.implicits._
    import graft.replay.SparkBatch
    val dag = new Dag
    val a = dag.sourceStream(
      SparkBatch(Seq.empty[(Long, String)].toDF("id", "name"), 0), name = "sb")
    // same wrapped schema: reuse
    assert(dag.sourceStream(
      SparkBatch(Seq.empty[(Long, String)].toDF("id", "name"), 0), name = "sb") eq a)
    // different wrapped schema: build-site error (SparkBatch shares one
    // runtime class for every schema, so the class check alone can't see it)
    val err = intercept[IllegalArgumentException] {
      dag.sourceStream(
        SparkBatch(Seq.empty[(Double, Double)].toDF("x", "y"), 0), name = "sb")
    }
    assert(err.getMessage.contains("Duplicate source: sb"))
  }

  test("a raw Dataset stream does not compile: DataFrames travel as SparkBatch") {
    // no HasLength for a Dataset, so no emptiness check can hide a Spark job
    lazy val spark = graft.SparkTestSession.spark
    val dag = new Dag
    assertTypeError("dag.sourceStream(spark.emptyDataFrame)")
    assertCompiles("dag.sourceStream(graft.replay.SparkBatch(spark.emptyDataFrame, 0))")
  }
}
