package graft.kafka

import scala.collection.mutable

import graft.core.Time.Nanos

/** Binding seam for a REAL Kafka client.
  *
  * No Kafka jars exist in this build environment, so the engine cannot link
  * against `org.apache.kafka.clients` directly. Instead, [[RawConsumer]]
  * mirrors the minimal slice of the standard consumer API
  * (KafkaConsumer / librdkafka semantics: batch `poll`, millisecond
  * timestamps, `offsetsForTimes`, pause/resume by assignment), and
  * [[RawConsumerAdapter]] lifts any implementation of it into the engine's
  * [[ConsumerClient]] — the interface all of [[OffsetResolver]],
  * [[ConsumerManager]] and [[KafkaDriver]] are written against (reference
  * binding surface: confluent_kafka in `beavers/kafka.py:269-296,487-533`).
  *
  * A future production binding implements [[RawConsumer]] with ~1 line per
  * method over a real `KafkaConsumer`; the [[ConsumerClientContract]] test
  * suite (test scope) then validates the whole stack against the same
  * scenarios the mock passes. [[ProducerClient]] is already minimal
  * (produce + poll) — real producers implement it directly.
  */
final case class RawRecord(
    topic: String,
    partition: Int,
    offset: Long,
    /** Broker/producer timestamp in MILLISECONDS; `timestampDefined = false`
      * for TIMESTAMP_NOT_AVAILABLE. */
    timestampMs: Long,
    timestampDefined: Boolean,
    key: Array[Byte],
    value: Array[Byte],
)

/** The raw client surface a real binding must provide (names and batch
  * semantics follow `org.apache.kafka.clients.consumer.KafkaConsumer`). */
trait RawConsumer {
  def partitionsFor(topic: String): Seq[Int]
  def beginningOffsets(tps: Seq[TopicPartition]): Map[TopicPartition, Long]
  def endOffsets(tps: Seq[TopicPartition]): Map[TopicPartition, Long]
  /** Earliest offset whose timestamp >= the given MILLISECOND timestamp;
    * None when no such record exists. */
  def offsetsForTimes(query: Map[TopicPartition, Long]): Map[TopicPartition, Option[Long]]
  def committed(tps: Seq[TopicPartition]): Map[TopicPartition, Option[Long]]
  def assign(tps: Seq[TopicPartition]): Unit
  def seek(tp: TopicPartition, offset: Long): Unit
  def poll(timeoutMs: Long): Seq[RawRecord]
  def pause(tps: Seq[TopicPartition]): Unit
  def resume(tps: Seq[TopicPartition]): Unit
}

/** Lifts a [[RawConsumer]] into the engine's [[ConsumerClient]]:
  *  - batch polls are buffered and handed out one record at a time (the
  *    engine's poll contract);
  *  - millisecond timestamps widen to engine nanos; records without a
  *    timestamp map to `timestampNs = 0`, which the engine's priming sorts
  *    as UTC_MAX (never released out of event-time order);
  *  - `committed` without a stored offset falls back to the partition
  *    beginning (replay-from-start, matching a fresh consumer group).
  */
final class RawConsumerAdapter(raw: RawConsumer) extends ConsumerClient {
  // Fetched records not yet delivered: one queue per partition, each record
  // with its arrival number.
  private val buffered =
    mutable.LinkedHashMap.empty[TopicPartition, mutable.ArrayDeque[(Long, KMessage)]]
  private var arrivals = 0L
  private val pausedSet = mutable.Set.empty[TopicPartition]

  override def partitions(topic: String): Seq[Int] = raw.partitionsFor(topic)

  override def watermarkOffsets(tp: TopicPartition): (Long, Long) =
    (raw.beginningOffsets(Seq(tp))(tp), raw.endOffsets(Seq(tp))(tp))

  override def offsetForTime(tp: TopicPartition, timestamp: Nanos): Option[Long] =
    raw.offsetsForTimes(Map(tp -> Math.floorDiv(timestamp, 1000000L)))(tp)

  override def committed(tps: Seq[TopicPartition]): Map[TopicPartition, Long] = {
    val stored = raw.committed(tps)
    val beginnings = raw.beginningOffsets(tps)
    tps.map(tp => tp -> stored.getOrElse(tp, None).getOrElse(beginnings(tp))).toMap
  }

  override def assign(offsets: Map[TopicPartition, Long]): Unit = {
    raw.assign(offsets.keys.toSeq)
    offsets.foreach { case (tp, off) => raw.seek(tp, off) }
  }

  override def poll(timeoutMs: Long): Option[KMessage] =
    firstDeliverable().orElse {
      raw.poll(timeoutMs).foreach { r =>
        val m = KMessage(TopicPartition(r.topic, r.partition), r.offset,
          if (r.timestampDefined) Math.multiplyExact(r.timestampMs, 1000000L) else 0L,
          r.key, r.value)
        buffered.getOrElseUpdate(m.tp, mutable.ArrayDeque.empty) += (arrivals -> m)
        arrivals += 1
      }
      firstDeliverable()
    }

  /** KafkaConsumer semantics: paused partitions deliver nothing, including
    * records fetched before the pause — those stay buffered until resume.
    * The earliest-arrived record at the head of an unpaused partition's
    * queue, which is the first unpaused record in arrival order. */
  private def firstDeliverable(): Option[KMessage] = {
    var first: mutable.ArrayDeque[(Long, KMessage)] = null
    buffered.foreachEntry { (tp, q) =>
      if (q.nonEmpty && !pausedSet.contains(tp) && (first == null || q.head._1 < first.head._1))
        first = q
    }
    if (first == null) None else Some(first.removeHead()._2)
  }

  override def pause(tps: Seq[TopicPartition]): Unit = { pausedSet ++= tps; raw.pause(tps) }
  override def resume(tps: Seq[TopicPartition]): Unit = { pausedSet --= tps; raw.resume(tps) }
}
