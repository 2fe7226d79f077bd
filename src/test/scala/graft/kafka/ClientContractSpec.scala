package graft.kafka

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Time.Nanos

/** The reusable CONTRACT every [[ConsumerClient]] implementation must pass —
  * the KafkaSpec scenarios parameterized over the client factory (reference
  * test style: tests/test_kafka.py mock-driven scenarios). A future real
  * binding (via [[RawConsumer]] + [[RawConsumerAdapter]]) plugs in here and
  * inherits offset-resolution, ordering, backpressure and priming coverage.
  *
  * Timestamps in `data` are engine nanos; use whole-millisecond values so
  * clients that store broker ms timestamps (the RawConsumer path) roundtrip
  * exactly.
  */
abstract class ConsumerClientContract[C <: ConsumerClient] extends AnyFunSuite {
  def clientName: String
  def newConsumer(data: Map[String, Seq[Seq[(Nanos, String)]]]): C
  def setCommitted(client: C, tp: TopicPartition, offset: Long): Unit

  private def ms(m: Long): Nanos = m * 1000000L
  private def drain(c: ConsumerClient, n: Int): Seq[KMessage] =
    (1 to n).flatMap(_ => c.poll(0))

  private val oneTopic = Map("a" -> Seq(Seq((ms(10), "a1"), (ms(30), "a2"), (ms(50), "a3"))))

  test(s"[$clientName] partitions, watermarks and time lookup resolve offsets per policy") {
    val c = newConsumer(oneTopic)
    assert(c.partitions("a") == Seq(0))
    assert(c.partitions("nope").isEmpty)
    val tp = TopicPartition("a", 0)
    assert(c.watermarkOffsets(tp) == (0L, 3L))
    assert(c.offsetForTime(tp, ms(30)) == Some(1L))
    assert(c.offsetForTime(tp, ms(31)) == Some(2L))
    assert(c.offsetForTime(tp, ms(51)).isEmpty)
  }

  test(s"[$clientName] assign + poll returns every message in offset order with timestamps") {
    val c = newConsumer(oneTopic)
    val tp = TopicPartition("a", 0)
    c.assign(Map(tp -> 1L)) // seek past the first message
    val got = drain(c, 5)
    assert(got.map(m => new String(m.value, "UTF-8")) == Seq("a2", "a3"))
    assert(got.map(_.offset) == Seq(1L, 2L))
    assert(got.map(_.timestampNs) == Seq(ms(30), ms(50)))
    assert(c.poll(0).isEmpty)
  }

  test(s"[$clientName] committed offsets resolve the Committed policy") {
    val c = newConsumer(oneTopic)
    val tp = TopicPartition("a", 0)
    setCommitted(c, tp, 2L)
    val resolved = OffsetResolver.resolveTopic(
      c, SourceTopic[List[String]]("a",
        (ms: Seq[KMessage]) => ms.map(m => new String(m.value, "UTF-8")).toList,
        OffsetPolicy.Committed), ms(100))
    assert(resolved(tp) == (2L, 2L))
  }

  test(s"[$clientName] pause stops delivery, resume restores it") {
    val c = newConsumer(oneTopic)
    val tp = TopicPartition("a", 0)
    c.assign(Map(tp -> 0L))
    assert(c.poll(0).isDefined)
    c.pause(Seq(tp))
    // a real client may still drain records fetched before the pause, but
    // must stop after the in-flight batch
    drain(c, 10)
    assert(c.poll(0).isEmpty)
    c.resume(Seq(tp))
    val after = drain(c, 10)
    assert(after.nonEmpty, "resume must restart delivery")
    assert((Seq("a1") ++ after.map(m => new String(m.value, "UTF-8"))).toSet
      .subsetOf(Set("a1", "a2", "a3")))
  }

  test(s"[$clientName] a paused partition's fetched records wait, then arrive once and in order") {
    val n = 3000
    val data = Map(
      "a" -> Seq((0 until n).map(i => (ms(10L + i), s"a$i"))),
      "b" -> Seq((0 until n).map(i => (ms(10L + i), s"b$i"))))
    val c = newConsumer(data)
    val a = TopicPartition("a", 0)
    val b = TopicPartition("b", 0)
    c.assign(Map(a -> 0L, b -> 0L))
    val got = mutable.ArrayBuffer.empty[KMessage]
    got ++= c.poll(0) // fetches a batch of a's records ahead of b's
    c.pause(Seq(a))
    var m = c.poll(0)
    while (m.isDefined) { got ++= m; m = c.poll(0) }
    val beforeResume = got.count(_.tp == a)
    assert(got.count(_.tp == b) == n, "the other partition drains while one is paused")
    assert(beforeResume < n)
    c.resume(Seq(a))
    m = c.poll(0)
    while (m.isDefined) { got ++= m; m = c.poll(0) }
    for (tp <- Seq(a, b))
      assert(got.filter(_.tp == tp).map(_.offset) == (0L until n.toLong),
        s"$tp: every record once, in offset order")
  }

  test(s"[$clientName] ConsumerManager primes cross-topic messages in global event-time order") {
    val data = Map(
      "a" -> Seq(Seq((ms(10), "a1"), (ms(30), "a2"), (ms(50), "a3"))),
      "b" -> Seq(Seq((ms(20), "b1"), (ms(40), "b2"), (ms(60), "b3"))))
    val c = newConsumer(data)
    val topics = Seq(
      SourceTopic[List[String]]("a",
        (ms: Seq[KMessage]) => ms.map(m => new String(m.value, "UTF-8")).toList,
        OffsetPolicy.Earliest),
      SourceTopic[List[String]]("b",
        (ms: Seq[KMessage]) => ms.map(m => new String(m.value, "UTF-8")).toList,
        OffsetPolicy.Earliest))
    val manager = ConsumerManager.create(c, topics, batchSize = 2, nowNs = () => ms(1000))
    val released = mutable.ArrayBuffer.empty[String]
    (1 to 10).foreach { _ =>
      released ++= manager.poll(0).map(m => new String(m.value, "UTF-8"))
    }
    assert(released.toList == List("a1", "b1", "a2", "b2", "a3", "b3"))
    assert(manager.primingWatermark.isEmpty)
  }
}

/** The in-memory mock passes the contract (baseline). */
class MockConsumerContractSpec extends ConsumerClientContract[MockClients.MockConsumer] {
  override def clientName = "MockConsumer"
  override def newConsumer(data: Map[String, Seq[Seq[(Nanos, String)]]]) =
    new MockClients.MockConsumer(data)
  override def setCommitted(c: MockClients.MockConsumer, tp: TopicPartition, offset: Long): Unit =
    c.committedOffsets(tp) = offset
}

/** The production adapter path passes the same contract: a kafka-clients-
  * shaped [[RawConsumer]] lifted through [[RawConsumerAdapter]]. */
class RawConsumerAdapterContractSpec extends ConsumerClientContract[ConsumerClient] {
  private val raws = mutable.Map.empty[ConsumerClient, MockClients.MockRawConsumer]
  override def clientName = "RawConsumerAdapter(MockRawConsumer)"
  override def newConsumer(data: Map[String, Seq[Seq[(Nanos, String)]]]): ConsumerClient = {
    val raw = new MockClients.MockRawConsumer(data)
    val adapted = new RawConsumerAdapter(raw)
    raws(adapted) = raw
    adapted
  }
  override def setCommitted(c: ConsumerClient, tp: TopicPartition, offset: Long): Unit =
    raws(c).committedOffsets(tp) = offset
}

/** [[RawConsumerAdapter]] delivers, under any pause/resume sequence, what
  * scanning one arrival-ordered buffer for the first record of an unpaused
  * partition delivered (the adapter's earlier implementation, kept here as
  * the model). */
class RawConsumerAdapterOrderSpec extends AnyFunSuite {

  final class ScanModel(raw: RawConsumer) {
    private val buffered = mutable.ArrayDeque.empty[KMessage]
    private val paused = mutable.Set.empty[TopicPartition]
    private def first(): Option[KMessage] = {
      val i = buffered.indexWhere(m => !paused.contains(m.tp))
      if (i < 0) None else Some(buffered.remove(i))
    }
    def poll(): Option[KMessage] = first().orElse {
      raw.poll(0).foreach(r => buffered.append(KMessage(TopicPartition(r.topic, r.partition),
        r.offset, r.timestampMs * 1000000L, r.key, r.value)))
      first()
    }
    def pause(tps: Seq[TopicPartition]): Unit = { paused ++= tps; raw.pause(tps) }
    def resume(tps: Seq[TopicPartition]): Unit = { paused --= tps; raw.resume(tps) }
  }

  test("delivery order equals the single-buffer scan under random pause/resume") {
    for (seed <- 0 until 200) {
      val rng = new scala.util.Random(seed)
      def partition(name: String) = (0 until rng.nextInt(250)).map(i => ((i + 1) * 1000000L, s"$name$i"))
      val data = Map("a" -> Seq(partition("a0-"), partition("a1-")), "b" -> Seq(partition("b0-")))
      val tps = Seq(TopicPartition("a", 0), TopicPartition("a", 1), TopicPartition("b", 0))
      val adapter = new RawConsumerAdapter(new MockClients.MockRawConsumer(data))
      val model = new ScanModel({
        val raw = new MockClients.MockRawConsumer(data); raw.assign(tps); raw
      })
      adapter.assign(tps.map(_ -> 0L).toMap)
      def some() = tps.filter(_ => rng.nextBoolean())
      for (step <- 0 until 600) rng.nextInt(8) match {
        case 0 => val p = some(); adapter.pause(p); model.pause(p)
        case 1 => val r = some(); adapter.resume(r); model.resume(r)
        case _ =>
          val got = adapter.poll(0).map(m => (m.tp, m.offset))
          val want = model.poll().map(m => (m.tp, m.offset))
          assert(got == want, s"seed $seed, step $step")
      }
    }
  }
}
