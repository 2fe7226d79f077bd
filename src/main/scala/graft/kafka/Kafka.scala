package graft.kafka

import scala.collection.immutable.ArraySeq
import scala.collection.mutable

import graft.core.{Dag, Node, Time}
import graft.core.Time.Nanos

/** Kafka live-mode layer, re-expressed from the reference (`beavers/kafka.py`).
  *
  * Broker access is abstracted behind [[ConsumerClient]]/[[ProducerClient]]
  * so the offset-resolution and priming algorithms are pure and
  * mock-testable (the reference tests the same way,
  * `tests/test_kafka.py:69-163`). Production wiring has two paths:
  *  - Spark-first: `readStream.format("kafka")` with options from
  *    [[SparkKafkaOptions]] (covers LATEST/EARLIEST/time-based policies);
  *  - cycle-synchronous: [[KafkaDriver]] + [[ConsumerManager]] for the
  *    cross-topic time-aligned priming the Spark source does not provide
  *    (SURVEY.md §4).
  */
final case class TopicPartition(topic: String, partition: Int) {
  // the live path looks a partition up once per message: hash it once
  override val hashCode: Int = scala.util.hashing.MurmurHash3.productHash(this)
}

/** A consumed record; timestamps in engine nanos. */
final case class KMessage(
    tp: TopicPartition,
    offset: Long,
    timestampNs: Nanos,
    key: Array[Byte],
    value: Array[Byte],
    error: Option[String] = None,
)

/** The minimal consumer surface the engine needs. */
trait ConsumerClient {
  def partitions(topic: String): Seq[Int]
  /** (startOffset, endOffset) watermarks. */
  def watermarkOffsets(tp: TopicPartition): (Long, Long)
  /** Earliest offset with timestamp >= the given time, if any. */
  def offsetForTime(tp: TopicPartition, timestamp: Nanos): Option[Long]
  def committed(tps: Seq[TopicPartition]): Map[TopicPartition, Long]
  def assign(offsets: Map[TopicPartition, Long]): Unit
  def poll(timeoutMs: Long): Option[KMessage]
  def pause(tps: Seq[TopicPartition]): Unit
  def resume(tps: Seq[TopicPartition]): Unit
}

trait ProducerClient {
  /** Fire-and-forget produce; `onDelivery` called from a later poll. */
  def produce(topic: String, key: Array[Byte], value: Array[Byte],
      onDelivery: Option[Throwable] => Unit): Unit
  def poll(): Unit
}

/** Historic-replay policy for a source topic
  * (reference `OffsetPolicy`, `beavers/kafka.py:45-53`). */
sealed trait OffsetPolicy
object OffsetPolicy {
  case object Latest extends OffsetPolicy
  case object Earliest extends OffsetPolicy
  /** Replay from HH:MM in a timezone (previous occurrence). */
  final case class StartOfDay(startOfDayNanos: Nanos, timezone: String) extends OffsetPolicy
  final case class RelativeTime(lookback: Nanos) extends OffsetPolicy
  final case class AbsoluteTime(timestamp: Nanos) extends OffsetPolicy
  case object Committed extends OffsetPolicy
}

/** Batch deserializer: all of one topic's messages for a cycle -> the dag
  * source value (reference `KafkaMessageDeserializer`). */
trait MessageDeserializer[T] { def apply(messages: Seq[KMessage]): T }

final case class ProducerMessage(topic: String, key: Array[Byte], value: Array[Byte])

/** Sink value -> outbound messages (reference `KafkaMessageSerializer`). */
trait MessageSerializer[T] { def apply(value: T): Seq[ProducerMessage] }

/** Source topic configuration (reference `SourceTopic`,
  * `beavers/kafka.py:56-141`). */
final case class SourceTopic[T](
    name: String,
    deserializer: MessageDeserializer[T],
    policy: OffsetPolicy,
)

object SourceTopic {
  def fromLatest[T](name: String, d: MessageDeserializer[T]): SourceTopic[T] =
    SourceTopic(name, d, OffsetPolicy.Latest)
  def fromEarliest[T](name: String, d: MessageDeserializer[T]): SourceTopic[T] =
    SourceTopic(name, d, OffsetPolicy.Earliest)
  def fromStartOfDay[T](name: String, d: MessageDeserializer[T],
      startOfDay: Nanos, timezone: String): SourceTopic[T] =
    SourceTopic(name, d, OffsetPolicy.StartOfDay(startOfDay, timezone))
  def fromRelativeTime[T](name: String, d: MessageDeserializer[T], lookback: Nanos): SourceTopic[T] =
    SourceTopic(name, d, OffsetPolicy.RelativeTime(lookback))
  def fromAbsoluteTime[T](name: String, d: MessageDeserializer[T], ts: Nanos): SourceTopic[T] =
    SourceTopic(name, d, OffsetPolicy.AbsoluteTime(ts))
  def fromCommitted[T](name: String, d: MessageDeserializer[T]): SourceTopic[T] =
    SourceTopic(name, d, OffsetPolicy.Committed)
}

/** Per-partition replay state (reference `_PartitionInfo`,
  * `beavers/kafka.py:223-232`).
  *
  * Delta from the reference: `currentOffset` is the LAST CONSUMED offset,
  * initialized to `startOffset - 1`. The reference initializes it to the
  * start offset itself, which marks a partition with exactly one pending
  * message (start == end-1) as live before anything was consumed — the
  * priming watermark then ignores it and other topics can be released past
  * its pending data (caught by `PrimingPropertiesSpec`). `liveOffset` is
  * uniformly "the last offset that must be consumed before the partition is
  * live". */
final class PartitionInfo(var currentOffset: Long, val liveOffset: Long) {
  var timestampNs: Nanos = Time.UtcEpoch
  var paused: Boolean = false
  def isLive: Boolean = currentOffset >= liveOffset
}

final case class ConsumerMetrics(
    consumedMessageSize: Long = 0, consumedMessageCount: Long = 0,
    pausedPartitions: Int = 0, releasedMessageCount: Long = 0,
    heldMessageCount: Long = 0, errorMessageCount: Long = 0)

final case class ProducerMetrics(
    producedCount: Long = 0, producedSize: Long = 0, producedErrorCount: Long = 0,
    deliveryErrorCount: Long = 0, confirmedCount: Long = 0)

final case class ExecutionMetrics(
    serializationNs: Long = 0, deserializationNs: Long = 0,
    executionNs: Long = 0, pollNs: Long = 0, cycles: Long = 0)

/** Start/end offset resolution for the 6 policies (reference
  * `_resolve_topic_offsets`, `beavers/kafka.py:601-652`). Returns per
  * partition `(startOffset, liveOffset)`; live = end-1 (the last existing
  * message), or (end, end) when a time lookup finds nothing. */
object OffsetResolver {

  def resolve(consumer: ConsumerClient, topics: Seq[SourceTopic[_]],
      now: Nanos): Map[TopicPartition, (Long, Long)] =
    topics.flatMap(t => resolveTopic(consumer, t, now)).toMap

  def resolveTopic(consumer: ConsumerClient, topic: SourceTopic[_],
      now: Nanos): Map[TopicPartition, (Long, Long)] = {
    val parts = consumer.partitions(topic.name)
    require(parts.nonEmpty, s"Topic ${topic.name} does not exist")
    val watermarks: Map[TopicPartition, (Long, Long)] =
      parts.map(p => TopicPartition(topic.name, p) ->
        consumer.watermarkOffsets(TopicPartition(topic.name, p))).toMap
    topic.policy match {
      case OffsetPolicy.Latest =>
        watermarks.map { case (tp, (_, end)) => tp -> (end, end - 1) }
      case OffsetPolicy.Earliest =>
        watermarks.map { case (tp, (start, end)) => tp -> (start, end - 1) }
      case OffsetPolicy.RelativeTime(lookback) =>
        forTime(consumer, watermarks, now - lookback)
      case OffsetPolicy.StartOfDay(sod, tz) =>
        forTime(consumer, watermarks, previousStartOfDay(now, sod, tz))
      case OffsetPolicy.AbsoluteTime(ts) =>
        forTime(consumer, watermarks, ts)
      case OffsetPolicy.Committed =>
        val committed = consumer.committed(watermarks.keys.toSeq)
        watermarks.map { case (tp, (_, end)) => tp -> (committed(tp), end - 1) }
    }
  }

  /** reference `_resolve_offset_for_time`, `beavers/kafka.py:691-714`.
    * No-data case returns `(end, end - 1)` — start at the log end, already
    * live (the (start, lastRequiredOffset) convention of [[PartitionInfo]]). */
  private def forTime(consumer: ConsumerClient,
      watermarks: Map[TopicPartition, (Long, Long)],
      timestamp: Nanos): Map[TopicPartition, (Long, Long)] =
    watermarks.map { case (tp, (_, end)) =>
      consumer.offsetForTime(tp, timestamp) match {
        case Some(off) if off >= 0 => tp -> (off, end - 1)
        case _ => tp -> (end, end - 1) // nothing at/after ts: start live
      }
    }

  /** Previous local start-of-day in UTC nanos (reference
    * `_get_previous_start_of_day`, `beavers/kafka.py:655-664`). */
  def previousStartOfDay(now: Nanos, startOfDay: Nanos, timezone: String): Nanos = {
    import java.time._
    val zone = ZoneId.of(timezone)
    val localNow = ZonedDateTime.ofInstant(Time.toInstant(now), zone)
    val midnight = localNow.toLocalDate.atStartOfDay(zone)
    val sinceMidnight = Duration.between(midnight, localNow).toNanos
    val sod =
      if (sinceMidnight > startOfDay) midnight.plusNanos(startOfDay)
      else midnight.minusDays(1).plusNanos(startOfDay)
    Time.fromInstant(sod.toInstant)
  }
}

/** Cross-topic time-aligned priming buffer with bounded memory — the one
  * genuinely novel runtime mechanism of the reference
  * (`_ConsumerManager`, `beavers/kafka.py:246-396`; SURVEY.md §7.4.4).
  *
  * While replaying (low watermark < the startup cutoff), only messages at or
  * below the low watermark — the min event time across non-live partitions —
  * are released, so topics replay in global event-time order. Partitions
  * running ahead are paused once the held buffer exceeds `batchSize * 5`,
  * bounding memory; they resume when the watermark catches up.
  *
  * The held buffer is kept sorted: `held(heldFrom until heldTo)` is ordered
  * by effective timestamp, ties in arrival order. A poll sorts only its
  * fresh batch (stably) and merges it with the held run in one linear pass,
  * the held message first on a tie. That equals the reference's re-sort of
  * the whole buffer (`kafka.py:310-311`, a stable `sortBy` of held ++ fresh)
  * message for message, at O(fresh log fresh + held) per poll; releasing is
  * a move of `heldFrom`.
  */
final class ConsumerManager(
    cutoffNs: Nanos,
    partitionOffsets: Map[TopicPartition, (Long, Long)],
    consumer: ConsumerClient,
    batchSize: Int,
    nowNs: () => Nanos = () => Time.fromMillis(System.currentTimeMillis()),
) {
  import ConsumerManager.{byEffectiveTs, effectiveTs}

  private val maxHeldMessages = batchSize * 5
  private val partitionInfo: Map[TopicPartition, PartitionInfo] =
    partitionOffsets.map { case (tp, (start, lastRequired)) =>
      tp -> new PartitionInfo(start - 1, lastRequired)
    }
  // the same partitions in the map's iteration order, for per-poll loops
  private val partitions: Array[TopicPartition] = partitionInfo.keys.toArray
  private val infos: Array[PartitionInfo] = partitions.map(partitionInfo)
  // the held run and the array the next merge writes into
  private var held = new Array[KMessage](16)
  private var spare = new Array[KMessage](16)
  private var heldFrom = 0
  private var heldTo = 0
  private var lowWaterMarkNs: Nanos = Time.UtcEpoch
  private var pausedCount = 0
  // consumer metrics since the last flush
  private var consumedSize = 0L
  private var consumedCount = 0L
  private var releasedCount = 0L
  private var errorCount = 0L
  private var reportedPaused = 0
  private var reportedHeld = 0L

  private def heldSize: Int = heldTo - heldFrom

  def poll(timeoutMs: Long): Seq[KMessage] = {
    val limit = math.max(batchSize, maxHeldMessages - heldSize)
    val fresh = pollAll(timeoutMs, limit)
    updatePartitionInfo(fresh)
    merge(fresh)

    val releaseLimit =
      if (lowWaterMarkNs >= cutoffNs && pausedCount == 0) math.min(batchSize, heldSize)
      else getLimit(lowWaterMarkNs)
    val released = java.util.Arrays.copyOfRange(held, heldFrom, heldFrom + releaseLimit)
    java.util.Arrays.fill(held.asInstanceOf[Array[AnyRef]], heldFrom, heldFrom + releaseLimit, null)
    heldFrom += releaseLimit
    managePausedPartitions()

    releasedCount += releaseLimit
    reportedHeld = heldSize.toLong
    ArraySeq.unsafeWrapArray(released)
  }

  /** Priming watermark while still replaying; None once live
    * (reference `_get_priming_watermark`, `beavers/kafka.py:343-347`). */
  def primingWatermark: Option[Nanos] =
    if (lowWaterMarkNs < cutoffNs) Some(lowWaterMarkNs) else None

  def flushMetrics(): ConsumerMetrics = {
    val out = ConsumerMetrics(consumedSize, consumedCount, reportedPaused, releasedCount,
      reportedHeld, errorCount)
    consumedSize = 0L; consumedCount = 0L; reportedPaused = 0; releasedCount = 0L
    reportedHeld = 0L; errorCount = 0L
    out
  }

  private def pollAll(timeoutMs: Long, limit: Int): mutable.ArrayBuffer[KMessage] = {
    val out = mutable.ArrayBuffer.empty[KMessage]
    consumer.poll(timeoutMs).foreach { first =>
      out += first
      var continue = true
      while (continue && out.size < limit)
        consumer.poll(0L) match {
          case Some(m) => out += m
          case None => continue = false
        }
    }
    out
  }

  /** Sorts `fresh` stably by effective timestamp and merges it into the
    * held run; on a tie the held message goes first. */
  private def merge(fresh: mutable.ArrayBuffer[KMessage]): Unit = {
    val n = fresh.size
    if (n > 0) {
      val batch = fresh.toArray
      java.util.Arrays.sort(batch, byEffectiveTs) // TimSort: stable
      val total = heldSize + n
      if (spare.length < total) spare = new Array[KMessage](math.max(total, spare.length * 2))
      val out = spare
      var i = heldFrom
      var j = 0
      var k = 0
      while (i < heldTo && j < n) {
        if (effectiveTs(held(i)) <= effectiveTs(batch(j))) { out(k) = held(i); i += 1 }
        else { out(k) = batch(j); j += 1 }
        k += 1
      }
      while (i < heldTo) { out(k) = held(i); i += 1; k += 1 }
      while (j < n) { out(k) = batch(j); j += 1; k += 1 }
      java.util.Arrays.fill(held.asInstanceOf[Array[AnyRef]], heldFrom, heldTo, null)
      spare = held
      held = out
      heldFrom = 0
      heldTo = total
    }
  }

  /** First index past the watermark, capped at batchSize
    * (reference `_get_limit`, `beavers/kafka.py:335-341`). */
  private def getLimit(watermark: Nanos): Int = {
    var i = 0
    while (i < heldSize && i < batchSize && effectiveTs(held(heldFrom + i)) <= watermark) i += 1
    i
  }

  /** Counts the fresh batch and records each partition's last offset and
    * timestamp, in arrival order; the partition is looked up again only
    * when it changes. */
  private def updatePartitionInfo(fresh: mutable.ArrayBuffer[KMessage]): Unit = {
    var lastTp: TopicPartition = null
    var info: PartitionInfo = null
    var i = 0
    while (i < fresh.size) {
      val m = fresh(i)
      consumedSize += m.value.length
      if (m.error.isDefined) errorCount += 1
      if (m.tp != lastTp) { lastTp = m.tp; info = partitionInfo(lastTp) }
      if (m.timestampNs > 0) info.timestampNs = m.timestampNs
      info.currentOffset = m.offset
      i += 1
    }
    consumedCount += fresh.size
    var low = Long.MaxValue
    var anyNonLive = false
    i = 0
    while (i < infos.length) {
      val p = infos(i)
      if (!p.isLive) { anyNonLive = true; low = math.min(low, p.timestampNs) }
      i += 1
    }
    lowWaterMarkNs = if (anyNonLive) low else nowNs()
  }

  /** Pause partitions running ahead when the buffer is full; resume when the
    * watermark catches up (reference `_managed_paused_partitions`,
    * `beavers/kafka.py:349-381`). */
  private def managePausedPartitions(): Unit = {
    val full = heldSize >= maxHeldMessages
    var toPause: mutable.ArrayBuffer[TopicPartition] = null
    var toResume: mutable.ArrayBuffer[TopicPartition] = null
    var paused = 0
    var i = 0
    while (i < infos.length) {
      val info = infos(i)
      if (full && !info.paused && info.timestampNs > lowWaterMarkNs) {
        if (toPause == null) toPause = mutable.ArrayBuffer.empty
        toPause += partitions(i); info.paused = true
      } else if (info.paused && info.timestampNs <= lowWaterMarkNs) {
        if (toResume == null) toResume = mutable.ArrayBuffer.empty
        toResume += partitions(i); info.paused = false
      }
      if (info.paused) paused += 1
      i += 1
    }
    if (toPause != null) consumer.pause(toPause.toSeq)
    if (toResume != null) consumer.resume(toResume.toSeq)
    pausedCount = paused
    reportedPaused = paused
  }
}

object ConsumerManager {
  /** Timestamp used for ordering and watermark gating: a message without a
    * broker timestamp (ts <= 0, the TIMESTAMP_NOT_AVAILABLE case) sorts LAST
    * and is held until the priming watermark passes — never released out of
    * global event-time order during replay (reference `_get_message_ns`,
    * `beavers/kafka.py:683-686`, maps it to UTC_MAX). */
  private def effectiveTs(m: KMessage): Nanos =
    if (m.timestampNs <= 0) Time.UtcMax else m.timestampNs

  private val byEffectiveTs: java.util.Comparator[KMessage] =
    java.util.Comparator.comparingLong[KMessage](m => effectiveTs(m))

  /** Resolve offsets per policy, assign, and build the manager
    * (reference `_ConsumerManager.create`, `beavers/kafka.py:269-296`). */
  def create(consumer: ConsumerClient, topics: Seq[SourceTopic[_]], batchSize: Int,
      nowNs: () => Nanos = () => Time.fromMillis(System.currentTimeMillis())): ConsumerManager = {
    val cutoff = nowNs()
    val offsets = OffsetResolver.resolve(consumer, topics, cutoff)
    consumer.assign(offsets.map { case (tp, (start, _)) => tp -> start })
    new ConsumerManager(cutoff, offsets, consumer, batchSize, nowNs)
  }
}

/** Buffers one topic's raw messages, deserializes as a batch, injects into
  * the dag source (reference `_RuntimeSourceTopic`, `beavers/kafka.py:144-167`). */
final class RuntimeSourceTopic[T](
    val topicName: String,
    node: Node[T],
    deserializer: MessageDeserializer[T],
    lengthOf: T => Int,
) {
  private val buffer = mutable.ArrayBuffer.empty[KMessage]
  def append(m: KMessage): Unit = buffer += m
  def flush(): Boolean = {
    val result = deserializer(ArraySeq.unsafeWrapArray(buffer.toArray))
    buffer.clear()
    if (lengthOf(result) > 0) { node.setStream(result); true } else false
  }
}

/** Serializes updated sinks, gated on cycle id
  * (reference `_RuntimeSinkTopic`, `beavers/kafka.py:449-460`). */
final class RuntimeSinkTopic[T](nodes: Seq[Node[_]], serializer: MessageSerializer[T]) {
  def serialize(cycleId: Long): Seq[ProducerMessage] =
    nodes.flatMap { node =>
      if (node.getCycleId == cycleId)
        serializer(node.getSinkValue.asInstanceOf[T])
      else Nil
    }
}

/** Cycle-synchronous live driver (reference `KafkaDriver`,
  * `beavers/kafka.py:534-586`): poll the priming buffer, route+deserialize
  * per topic, execute the dag at the priming watermark (while replaying) or
  * wall clock (once live), then serialize+produce updated sinks.
  */
final class KafkaDriver(
    dag: Dag,
    sourceTopics: Map[String, RuntimeSourceTopic[_]],
    sinkTopics: Seq[RuntimeSinkTopic[_]],
    consumerManager: ConsumerManager,
    producer: ProducerClient,
    nowNs: () => Nanos = () => Time.fromMillis(System.currentTimeMillis()),
) {
  private val sources: Array[RuntimeSourceTopic[_]] = sourceTopics.values.toArray
  // execution and producer metrics since the last flush
  private var pollNs = 0L
  private var deserializationNs = 0L
  private var executionNs = 0L
  private var serializationNs = 0L
  private var cycles = 0L
  private var producedCount = 0L
  private var producedSize = 0L
  private var deliveryErrorCount = 0L
  private var confirmedCount = 0L
  private val onDelivery: Option[Throwable] => Unit = {
    case Some(_) => deliveryErrorCount += 1
    case None => confirmedCount += 1
  }

  def runCycle(pollTimeoutMs: Long = 1000L): Boolean = {
    val t0 = System.nanoTime()
    val messages = consumerManager.poll(pollTimeoutMs)
    pollNs += System.nanoTime() - t0
    val ran = runDagCycle(messages)
    if (ran) produceRecords(dag.getCycleId)
    producer.poll()
    ran
  }

  /** Appends each error-free message to its topic's buffer; the topic is
    * looked up again only when it changes. */
  private def route(messages: Seq[KMessage]): Unit = {
    var topic: String = null
    var target: RuntimeSourceTopic[_] = null
    messages.foreach { m =>
      if (m.error.isEmpty) {
        if (m.tp.topic != topic) { topic = m.tp.topic; target = sourceTopics.getOrElse(topic, null) }
        if (target != null) target.append(m)
      }
    }
  }

  private def runDagCycle(messages: Seq[KMessage]): Boolean = {
    route(messages)
    val t0 = System.nanoTime()
    var hasMessages = false
    sources.foreach(h => hasMessages = h.flush() || hasMessages)
    deserializationNs += System.nanoTime() - t0
    val cycleTime = consumerManager.primingWatermark.getOrElse(nowNs())
    if (hasMessages || dag.getNextTimer <= cycleTime) {
      val t1 = System.nanoTime()
      dag.execute(cycleTime)
      executionNs += System.nanoTime() - t1
      cycles += 1
      true
    } else false
  }

  private def produceRecords(cycleId: Long): Unit = {
    val t0 = System.nanoTime()
    val messages = sinkTopics.flatMap(_.serialize(cycleId))
    serializationNs += System.nanoTime() - t0
    messages.foreach { m =>
      producer.produce(m.topic, m.key, m.value, onDelivery)
      producedCount += 1
      producedSize += m.value.length
    }
  }

  def flushMetrics(): ExecutionMetrics = {
    val out = ExecutionMetrics(serializationNs, deserializationNs, executionNs, pollNs, cycles)
    serializationNs = 0L; deserializationNs = 0L; executionNs = 0L; pollNs = 0L; cycles = 0L
    out
  }

  def flushProducerMetrics(): ProducerMetrics = {
    val out = ProducerMetrics(producedCount, producedSize, 0L, deliveryErrorCount, confirmedCount)
    producedCount = 0L; producedSize = 0L; deliveryErrorCount = 0L; confirmedCount = 0L
    out
  }
}

object KafkaDriver {
  /** Wire dag sources/sinks to topics with name validation (reference
    * `KafkaDriver.create`, `beavers/kafka.py:489-533`). `lengthOf` gives the
    * deserialized batch size without a Spark job. */
  def create(
      dag: Dag,
      consumer: ConsumerClient,
      producer: ProducerClient,
      sourceTopics: Map[String, (SourceTopic[_], Any => Int)],
      sinkTopics: Map[String, MessageSerializer[_]],
      batchSize: Int = 5000,
      nowNs: () => Nanos = () => Time.fromMillis(System.currentTimeMillis()),
  ): KafkaDriver = {
    val sourceNodes = dag.getSources
    require(sourceNodes.keySet == sourceTopics.keySet,
      s"Source node and topic names don't match: " +
        s"${sourceNodes.keys.toSeq.sorted} vs ${sourceTopics.keys.toSeq.sorted}")
    val runtimeSources = sourceTopics.map { case (name, (topic, lengthOf)) =>
      topic.name -> new RuntimeSourceTopic[Any](
        topic.name, sourceNodes(name).asInstanceOf[Node[Any]],
        topic.deserializer.asInstanceOf[MessageDeserializer[Any]], lengthOf)
    }
    val dagSinks = dag.getSinks
    val runtimeSinks = sinkTopics.map { case (name, ser) =>
      new RuntimeSinkTopic[Any](dagSinks(name), ser.asInstanceOf[MessageSerializer[Any]])
    }.toSeq
    val manager = ConsumerManager.create(
      consumer, sourceTopics.values.map(_._1).toSeq, batchSize, nowNs)
    new KafkaDriver(dag, runtimeSources, runtimeSinks, manager, producer, nowNs)
  }
}

/** Map a [[SourceTopic]] to Structured Streaming kafka source options — the
  * Spark-first production path (SURVEY.md §2.3 "Scan: Kafka"):
  * LATEST/EARLIEST -> `startingOffsets`; time policies ->
  * `startingOffsetsByTimestamp`; COMMITTED -> group offsets. */
object SparkKafkaOptions {
  def forTopic(topic: SourceTopic[_], now: Nanos, groupId: Option[String] = None,
      batchSize: Option[Long] = None): Map[String, String] = {
    // batchSize maps to maxOffsetsPerTrigger — the reference's per-cycle cap
    // (`batch_size=5000`, `beavers/kafka.py:493`) as source-side flow control.
    val base = Map("subscribe" -> topic.name) ++
      batchSize.map("maxOffsetsPerTrigger" -> _.toString)
    def atMillis(ts: Nanos) = base + ("startingTimestamp" -> s"${Math.floorDiv(ts, 1000000L)}")
    topic.policy match {
      case OffsetPolicy.Latest => base + ("startingOffsets" -> "latest")
      case OffsetPolicy.Earliest => base + ("startingOffsets" -> "earliest")
      case OffsetPolicy.RelativeTime(lookback) => atMillis(now - lookback)
      case OffsetPolicy.AbsoluteTime(ts) => atMillis(ts)
      case OffsetPolicy.StartOfDay(sod, tz) =>
        atMillis(OffsetResolver.previousStartOfDay(now, sod, tz))
      case OffsetPolicy.Committed =>
        base ++ groupId.map("kafka.group.id" -> _) + ("startingOffsets" -> "latest")
    }
  }
}
