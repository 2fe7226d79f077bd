package graft.kafka

import scala.collection.mutable

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Time.Nanos

/** Property-based priming invariants over random multi-topic timelines:
  * while replaying, releases are globally time-ordered and complete, with
  * bounded held memory, for any batch size. */
class PrimingPropertiesSpec extends AnyFunSuite {

  private def forAll[A](gen: Gen[A], runs: Int = 40)(f: A => Unit): Unit =
    (0 until runs).foreach(i => gen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(f))

  val noopDeser: MessageDeserializer[List[String]] =
    (ms: Seq[KMessage]) => ms.map(m => new String(m.value, "UTF-8")).toList

  class GenConsumer(topicsData: Map[String, Seq[Seq[(Nanos, String)]]]) extends ConsumerClient {
    private val cursors = mutable.Map.empty[TopicPartition, Long]
    private val paused = mutable.Set.empty[TopicPartition]
    override def partitions(topic: String): Seq[Int] = topicsData(topic).indices.toSeq
    override def watermarkOffsets(tp: TopicPartition): (Long, Long) =
      (0L, topicsData(tp.topic)(tp.partition).size.toLong)
    override def offsetForTime(tp: TopicPartition, t: Nanos): Option[Long] = {
      val i = topicsData(tp.topic)(tp.partition).indexWhere(_._1 >= t)
      if (i < 0) None else Some(i.toLong)
    }
    override def committed(tps: Seq[TopicPartition]): Map[TopicPartition, Long] =
      tps.map(_ -> 0L).toMap
    override def assign(offsets: Map[TopicPartition, Long]): Unit =
      offsets.foreach { case (tp, o) => cursors(tp) = o }
    override def poll(timeoutMs: Long): Option[KMessage] = {
      cursors.toSeq.sortBy(t => (t._1.topic, t._1.partition)).foreach { case (tp, off) =>
        if (!paused.contains(tp)) {
          val data = topicsData(tp.topic)(tp.partition)
          if (off < data.size) {
            val (t, v) = data(off.toInt)
            cursors(tp) = off + 1
            return Some(KMessage(tp, off, t, null, v.getBytes("UTF-8")))
          }
        }
      }
      None
    }
    override def pause(tps: Seq[TopicPartition]): Unit = paused ++= tps
    override def resume(tps: Seq[TopicPartition]): Unit = paused --= tps
  }

  val timelineGen: Gen[(Map[String, Seq[Seq[(Nanos, String)]]], Int)] = for {
    nTopics <- Gen.choose(1, 3)
    batchSize <- Gen.choose(1, 5)
    topics <- Gen.sequence[List[(String, Seq[Seq[(Nanos, String)]])], (String, Seq[Seq[(Nanos, String)]])](
      (0 until nTopics).map { t =>
        for {
          n <- Gen.choose(0, 25)
          ts <- Gen.listOfN(n, Gen.choose(1L, 1000L))
        } yield s"t$t" -> Seq(ts.sorted.zipWithIndex.map { case (x, i) => (x, s"t$t-$i") })
      }.toList)
  } yield (topics.toMap, batchSize)

  test("priming releases are globally time-sorted, complete, bounded") {
    forAll(timelineGen) { case (data, batchSize) =>
      val total = data.values.flatten.map(_.size).sum
      if (total > 0) {
        val consumer = new GenConsumer(data)
        val manager = ConsumerManager.create(
          consumer,
          data.keys.toSeq.sorted.map(t =>
            SourceTopic[List[String]](t, noopDeser, OffsetPolicy.Earliest)),
          batchSize, nowNs = () => 1000000L) // cutoff far in the future: always "replaying"
        val released = mutable.ArrayBuffer.empty[KMessage]
        var stuck = 0
        while (released.size < total && stuck < 500) {
          val r = manager.poll(0)
          if (r.isEmpty) stuck += 1 else stuck = 0
          released ++= r
          assert(r.size <= batchSize, "release respects the batch cap")
          assert(manager.flushMetrics().heldMessageCount <= batchSize * 5L + batchSize,
            "held buffer stays bounded")
        }
        assert(released.size == total, "every message is eventually released")
        val ts = released.map(_.timestampNs).toList
        assert(ts == ts.sorted, "global event-time order across topics while priming")
        assert(released.map(m => new String(m.value, "UTF-8")).distinct.size == total,
          "exactly-once")
      }
    }
  }

  // The sorted-held merge in ConsumerManager releases exactly what the
  // reference's re-sort of the whole buffer released
  // (`(held ++ fresh).sortBy(effectiveTs)`, `beavers/kafka.py:310-311`): a
  // test-local model of that algorithm and the manager are driven side by
  // side over the same random timelines, and every poll must return the
  // same messages in the same order.

  /** Polls partitions in (topic, partition) order, one message each time;
    * returns nothing on the poll calls listed in `gaps`. */
  final class GapConsumer(data: Map[String, Seq[Seq[Nanos]]], gaps: Set[Int]) extends ConsumerClient {
    private val cursors = mutable.Map.empty[TopicPartition, Long]
    private val paused = mutable.Set.empty[TopicPartition]
    private var calls = 0
    override def partitions(topic: String): Seq[Int] = data(topic).indices
    override def watermarkOffsets(tp: TopicPartition): (Long, Long) =
      (0L, data(tp.topic)(tp.partition).size.toLong)
    override def offsetForTime(tp: TopicPartition, t: Nanos): Option[Long] = None
    override def committed(tps: Seq[TopicPartition]): Map[TopicPartition, Long] =
      tps.map(_ -> 0L).toMap
    override def assign(offsets: Map[TopicPartition, Long]): Unit =
      offsets.foreach { case (tp, o) => cursors(tp) = o }
    override def poll(timeoutMs: Long): Option[KMessage] = {
      calls += 1
      if (gaps.contains(calls)) return None
      cursors.toSeq.sortBy(t => (t._1.topic, t._1.partition)).foreach { case (tp, off) =>
        val ts = data(tp.topic)(tp.partition)
        if (!paused.contains(tp) && off < ts.size) {
          cursors(tp) = off + 1
          return Some(KMessage(tp, off, ts(off.toInt), null, s"$tp@$off".getBytes("UTF-8")))
        }
      }
      None
    }
    override def pause(tps: Seq[TopicPartition]): Unit = paused ++= tps
    override def resume(tps: Seq[TopicPartition]): Unit = paused --= tps
  }

  /** The release algorithm before the merge: the whole held buffer is
    * re-sorted (stably) on every poll. */
  final class ResortModel(consumer: ConsumerClient, topics: Seq[SourceTopic[_]],
      batchSize: Int, now: () => Nanos) {
    private val cutoff = now()
    private val offsets = OffsetResolver.resolve(consumer, topics, cutoff)
    consumer.assign(offsets.map { case (tp, (start, _)) => tp -> start })
    private val maxHeld = batchSize * 5
    private val info = offsets.map { case (tp, (start, last)) => tp -> new PartitionInfo(start - 1, last) }
    private var held = Vector.empty[KMessage]
    private var lowWaterMark = 0L
    private var pausedCount = 0
    private def eff(m: KMessage): Nanos = if (m.timestampNs <= 0) Long.MaxValue else m.timestampNs

    def poll(): Seq[KMessage] = {
      val limit = math.max(batchSize, maxHeld - held.size)
      val fresh = mutable.ArrayBuffer.empty[KMessage]
      consumer.poll(0).foreach { first =>
        fresh += first
        var more = true
        while (more && fresh.size < limit) consumer.poll(0) match {
          case Some(m) => fresh += m
          case None => more = false
        }
      }
      held = (held ++ fresh).sortBy(eff)
      fresh.foreach { m =>
        val i = info(m.tp)
        if (m.timestampNs > 0) i.timestampNs = m.timestampNs
        i.currentOffset = m.offset
      }
      val nonLive = info.values.filterNot(_.isLive)
      lowWaterMark = if (nonLive.isEmpty) now() else nonLive.map(_.timestampNs).min
      val releaseLimit =
        if (lowWaterMark >= cutoff && pausedCount == 0) batchSize
        else held.iterator.take(batchSize).takeWhile(eff(_) <= lowWaterMark).size
      val (released, rest) = held.splitAt(releaseLimit)
      held = rest
      val toPause = mutable.ArrayBuffer.empty[TopicPartition]
      val toResume = mutable.ArrayBuffer.empty[TopicPartition]
      for ((tp, i) <- info) {
        if (held.size >= maxHeld && !i.paused && i.timestampNs > lowWaterMark) {
          toPause += tp; i.paused = true
        } else if (i.paused && i.timestampNs <= lowWaterMark) {
          toResume += tp; i.paused = false
        }
      }
      if (toPause.nonEmpty) consumer.pause(toPause.toSeq)
      if (toResume.nonEmpty) consumer.resume(toResume.toSeq)
      pausedCount = info.values.count(_.paused)
      released
    }
    def heldCount: Int = held.size
  }

  /** A clock that starts at `start` and moves on by 1 ns per reading. */
  private def clock(start: Nanos): () => Nanos = {
    var t = start - 1
    () => { t += 1; t }
  }

  /** topic -> partitions -> timestamps (many ties, some `ts <= 0`), batch
    * size, empty-poll calls, and the startup cutoff: inside the timestamps
    * or far past them. */
  val mergeTimelineGen: Gen[(Map[String, Seq[Seq[Nanos]]], Int, Set[Int], Nanos)] = for {
    nTopics <- Gen.choose(1, 3)
    topics <- Gen.sequence[List[(String, Seq[Seq[Nanos]])], (String, Seq[Seq[Nanos]])](
      (0 until nTopics).map { t =>
        for {
          nParts <- Gen.choose(1, 2)
          parts <- Gen.listOfN(nParts, for {
            n <- Gen.choose(0, 40)
            ts <- Gen.listOfN(n, Gen.frequency(8 -> Gen.choose(1L, 12L), 1 -> Gen.choose(-2L, 0L)))
            sorted <- Gen.oneOf(true, false)
          } yield if (sorted) ts.sorted else ts)
        } yield s"t$t" -> parts
      }.toList)
    batchSize <- Gen.choose(1, 5)
    gaps <- Gen.listOfN(20, Gen.choose(1, 300))
    cutoff <- Gen.oneOf(6L, 1000000L)
  } yield (topics.toMap, batchSize, gaps.toSet, cutoff)

  test("the held-buffer merge releases exactly what re-sorting the whole buffer did") {
    forAll(mergeTimelineGen, runs = 300) { case (data, batchSize, gaps, cutoff) =>
      val total = data.values.flatten.map(_.size).sum
      val topics = data.keys.toSeq.sorted.map(t =>
        SourceTopic[List[String]](t, noopDeser, OffsetPolicy.Earliest))
      val manager = ConsumerManager.create(new GapConsumer(data, gaps), topics, batchSize,
        nowNs = clock(cutoff))
      val model = new ResortModel(new GapConsumer(data, gaps), topics, batchSize, clock(cutoff))
      def ids(ms: Seq[KMessage]) = ms.map(m => (m.tp, m.offset, m.timestampNs))
      var released = 0
      var polls = 0
      while (released < total && polls < 2000) {
        val got = manager.poll(0)
        val want = model.poll()
        assert(ids(got) == ids(want), s"poll $polls, batch size $batchSize, data $data")
        assert(manager.flushMetrics().heldMessageCount == model.heldCount)
        released += got.size
        polls += 1
      }
      assert(released == total, "every message is eventually released")
    }
  }
}
