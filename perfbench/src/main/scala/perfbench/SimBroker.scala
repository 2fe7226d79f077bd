package perfbench

import scala.collection.mutable

import graft.kafka.{RawConsumer, RawRecord, TopicPartition}

/** One partition's log as a pure function of the offset: the broker never
  * materializes it, so a run can replay millions of messages without
  * holding them. `dueNs` must be non-decreasing in the offset. */
trait PartitionLog {
  def size: Long
  def dueNs(offset: Long): Long
  def key(offset: Long): Array[Byte]
  def value(offset: Long): Array[Byte]
}

/** Seeded in-memory broker behind the engine's `RawConsumer` seam.
  *
  * A message exists once the benchmark clock passes its due time, whether
  * or not anyone polls it, so a slow consumer sees a growing backlog (open
  * loop). Record timestamps are the due times in milliseconds, as a
  * producer-stamped Kafka record would carry. Polls follow KafkaConsumer
  * semantics: batches of at most `maxPollRecords`, per-partition order,
  * nothing from paused partitions, and a poll with a timeout waits for the
  * next due message before returning empty. */
final class SimBroker(
    logs: Map[TopicPartition, PartitionLog],
    clock: () => Long,
    maxPollRecords: Int = 500,
) extends RawConsumer {
  private val tps = logs.keys.toVector.sortBy(tp => (tp.topic, tp.partition))
  private val position = mutable.Map.empty[TopicPartition, Long]
  private val paused = mutable.Set.empty[TopicPartition]
  private var rotate = 0

  // counters read by the benchmark after a phase
  var polls = 0L
  var emptyPolls = 0L
  var delivered = 0L
  var pauseCalls = 0L
  var backlogMax = 0L
  val lagNs = new LongBuffer

  /** Messages that exist at `now` (the log end offset). */
  def endOffset(tp: TopicPartition, now: Long): Long = {
    val log = logs(tp)
    var lo = 0L
    var hi = log.size
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (log.dueNs(mid) <= now) lo = mid + 1 else hi = mid
    }
    lo
  }

  override def partitionsFor(topic: String): Seq[Int] =
    tps.filter(_.topic == topic).map(_.partition)

  override def beginningOffsets(q: Seq[TopicPartition]): Map[TopicPartition, Long] =
    q.map(_ -> 0L).toMap

  override def endOffsets(q: Seq[TopicPartition]): Map[TopicPartition, Long] = {
    val now = clock()
    q.map(tp => tp -> endOffset(tp, now)).toMap
  }

  override def offsetsForTimes(query: Map[TopicPartition, Long]): Map[TopicPartition, Option[Long]] = {
    val now = clock()
    query.map { case (tp, ms) =>
      val log = logs(tp)
      val end = endOffset(tp, now)
      val target = Math.multiplyExact(ms, 1000000L)
      var lo = 0L
      var hi = end
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (log.dueNs(mid) < target) lo = mid + 1 else hi = mid
      }
      tp -> (if (lo < end) Some(lo) else None)
    }
  }

  override def committed(q: Seq[TopicPartition]): Map[TopicPartition, Option[Long]] =
    q.map(_ -> None).toMap

  override def assign(q: Seq[TopicPartition]): Unit = {
    position.clear()
    q.foreach(tp => position(tp) = 0L)
  }

  override def seek(tp: TopicPartition, offset: Long): Unit = {
    require(position.contains(tp), s"seek on unassigned $tp")
    position(tp) = offset
  }

  override def pause(q: Seq[TopicPartition]): Unit = { pauseCalls += 1; paused ++= q }
  override def resume(q: Seq[TopicPartition]): Unit = paused --= q

  override def poll(timeoutMs: Long): Seq[RawRecord] = Trace.span("poll", "broker") {
    polls += 1
    var out = fetch(clock())
    if (out.isEmpty && timeoutMs > 0) {
      // spin rather than park: a timer wake-up costs ~0.1 ms on a VM,
      // which would swamp the sub-millisecond latencies measured here
      val wake = math.min(clock() + timeoutMs * 1000000L, nextDue)
      while (clock() < wake) Thread.onSpinWait()
      out = fetch(clock())
    }
    if (out.isEmpty) emptyPolls += 1
    out
  }

  /** Earliest due time of an undelivered message on a fetchable partition. */
  private def nextDue: Long = {
    var best = Long.MaxValue
    for ((tp, pos) <- position if !paused.contains(tp) && pos < logs(tp).size)
      best = math.min(best, logs(tp).dueNs(pos))
    best
  }

  private def fetch(now: Long): Seq[RawRecord] = {
    val live = tps.filter(tp => position.contains(tp) && !paused.contains(tp))
    var backlog = 0L
    position.foreach { case (tp, pos) => backlog += math.max(0L, endOffset(tp, now) - pos) }
    backlogMax = math.max(backlogMax, backlog)
    if (live.isEmpty) return Nil
    val out = mutable.ArrayBuffer.empty[RawRecord]
    rotate = (rotate + 1) % live.size
    var i = 0
    while (i < live.size && out.size < maxPollRecords) {
      val tp = live((rotate + i) % live.size)
      val log = logs(tp)
      val end = endOffset(tp, now)
      var pos = position(tp)
      while (pos < end && out.size < maxPollRecords) {
        val due = log.dueNs(pos)
        out += RawRecord(tp.topic, tp.partition, pos, Math.floorDiv(due, 1000000L),
          timestampDefined = true, log.key(pos), log.value(pos))
        lagNs.add(now - due)
        pos += 1
      }
      position(tp) = pos
      i += 1
    }
    delivered += out.size
    out.toSeq
  }
}

/** Growable primitive buffer for latency samples (no boxing on the hot path). */
final class LongBuffer {
  private var a = new Array[Long](1024)
  private var n = 0
  def add(v: Long): Unit = {
    if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
    a(n) = v
    n += 1
  }
  def size: Int = n
  def clear(): Unit = n = 0
  def toArray: Array[Long] = java.util.Arrays.copyOf(a, n)
}
