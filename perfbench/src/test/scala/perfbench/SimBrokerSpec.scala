package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.kafka.{RawConsumerAdapter, RawRecord, TopicPartition}

class SimBrokerSpec extends AnyFunSuite {

  private val a = TopicPartition("t", 0)
  private val b = TopicPartition("t", 1)

  /** Partition whose message `o` is due at `start + o * step` ns. */
  private def log(n: Long, start: Long, step: Long): PartitionLog = new PartitionLog {
    val size: Long = n
    def dueNs(o: Long): Long = start + o * step
    def key(o: Long): Array[Byte] = Array.emptyByteArray
    def value(o: Long): Array[Byte] = o.toString.getBytes("UTF-8")
  }

  private final class Clock(var now: Long) extends (() => Long) { def apply(): Long = now }

  private def broker(clock: Clock, maxPoll: Int = 500) = {
    val logs = Map(a -> log(1000, 1000000L, 1000000L), b -> log(1000, 1500000L, 1000000L))
    (new SimBroker(logs, clock, maxPoll), logs)
  }

  test("never delivers a message before its due time") {
    val clock = new Clock(0L)
    val (br, logs) = broker(clock)
    br.assign(Seq(a, b))
    assert(br.poll(0L).isEmpty)
    for (t <- Seq(999999L, 1000000L, 1499999L, 7300000L, 500000000L)) {
      clock.now = t
      br.poll(0L).foreach(r => assert(logs(TopicPartition(r.topic, r.partition)).dueNs(r.offset) <= t))
    }
  }

  test("a poll with a timeout waits for the next due message") {
    val clock = new Clock(0L)
    val logs = Map(a -> log(1, 2000000L, 1L))
    val br = new SimBroker(logs, () => { clock.now += 100000L; clock.now })
    br.assign(Seq(a))
    val got = br.poll(5L)
    assert(got.map(_.offset) == Seq(0L))
    assert(clock.now >= 2000000L && clock.now < 3000000L)
  }

  test("per-partition order holds across polls and batch limits") {
    val clock = new Clock(Long.MaxValue / 2)
    val (br, _) = broker(clock, maxPoll = 37)
    br.assign(Seq(a, b))
    val seen = Iterator.continually(br.poll(0L)).takeWhile(_.nonEmpty).flatten.toVector
    assert(seen.forall(_.value.nonEmpty))
    for (tp <- Seq(a, b)) {
      val offsets = seen.filter(r => r.partition == tp.partition).map(_.offset)
      assert(offsets == (0L until 1000L))
    }
    assert(br.delivered == 2000)
  }

  test("pause and resume are honoured") {
    val clock = new Clock(Long.MaxValue / 2)
    val (br, _) = broker(clock, maxPoll = 100)
    br.assign(Seq(a, b))
    br.poll(0L)
    br.pause(Seq(a))
    val whilePaused = (0 until 5).flatMap(_ => br.poll(0L))
    assert(whilePaused.nonEmpty && whilePaused.forall(_.partition == b.partition))
    br.resume(Seq(a))
    val rest: Seq[RawRecord] = Iterator.continually(br.poll(0L)).takeWhile(_.nonEmpty).flatten.toVector
    val aOffsets = rest.filter(_.partition == a.partition).map(_.offset)
    assert(aOffsets.nonEmpty && aOffsets == (aOffsets.head until 1000L))
    assert(br.pauseCalls == 1)
  }

  test("offsetsForTimes and end offsets match what RawConsumerAdapter expects") {
    val clock = new Clock(10500000L) // a: offsets 0..9 due, b: 0..9 due
    val (br, _) = broker(clock)
    val adapter = new RawConsumerAdapter(br)
    assert(adapter.partitions("t") == Seq(0, 1))
    assert(adapter.watermarkOffsets(a) == ((0L, 10L)))
    assert(adapter.watermarkOffsets(b) == ((0L, 10L)))
    // record timestamps are ms; the adapter floors the query to ms
    assert(adapter.offsetForTime(a, 3000000L) == Some(2L))
    assert(adapter.offsetForTime(a, 3000001L) == Some(2L))
    assert(adapter.offsetForTime(b, 3000000L) == Some(2L))
    assert(adapter.offsetForTime(b, 2000000L) == Some(1L))
    // nothing at or after the time yet exists: no offset
    assert(adapter.offsetForTime(a, 11000000L).isEmpty)
    assert(adapter.committed(Seq(a)) == Map(a -> 0L))
    adapter.assign(Map(a -> 4L, b -> 0L))
    val first = Iterator.continually(adapter.poll(0L)).takeWhile(_.isDefined).flatten.toVector
    assert(first.filter(_.tp == a).map(_.offset) == (4L until 10L))
    assert(first.forall(m => m.timestampNs % 1000000L == 0))
  }

  test("the ETF dag releases every message once and publishes the recomputed NAVs") {
    val w = new EtfKafka(7L)
    val pass = w.catchUp(50000L)
    val report = new Report
    w.check(pass, report, "catch-up")
    assert(report.attempted == 2 && report.failed == 0, report.notes.mkString("; "))
  }
}
