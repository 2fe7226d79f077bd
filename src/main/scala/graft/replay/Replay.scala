package graft.replay

import scala.collection.mutable

import graft.core.{Dag, Node, Time}
import graft.core.Time.Nanos

/** Historic-replay protocol, re-expressed from the reference
  * (`beavers/replay.py:47-103`): a stateful cursor that hands out data up to
  * an inclusive timestamp, and reports the next available data time.
  *
  * One deliberate delta from the reference: sources report their own batch
  * length (`length`) so DataFrame-valued sources can answer "was there
  * data?" from already-known metadata instead of running a Spark job per
  * cycle.
  */
trait DataSource[T] {
  /** Read all data up to `timestamp` (inclusive); stateful cursor. */
  def readTo(timestamp: Nanos): T
  /** Next timestamp with data, or `Time.UtcMax` when exhausted. */
  def getNext: Nanos
  /** Record count of a batch returned by [[readTo]]. Lazy (DataFrame-valued)
    * sources may return an UPPER BOUND to avoid running a job per cycle, but
    * the emptiness signal must be exact: 0 iff the batch has no rows — the
    * replay driver uses `length > 0` to decide whether to inject the batch
    * and the dag's update-suppression contract depends on it. */
  def length(data: T): Int
}

/** Sink protocol (reference `beavers/replay.py:86-103`). */
trait DataSink[T] {
  def append(timestamp: Nanos, data: T): Unit
  def close(): Unit
}

/** Replay window + cadence (reference `ReplayContext`,
  * `beavers/replay.py:20-44`). `end` is inclusive at execution time but the
  * loop stops once current_time passes it. */
final case class ReplayContext(start: Nanos, end: Nanos, frequency: Nanos) {
  require(frequency > 0, "frequency must be positive")
}

/** Per-cycle replay metrics incl. the time-warp ratio
  * (reference `ReplayCycleMetrics`, `beavers/replay.py:164-173`). */
final case class ReplayCycleMetrics(
    timestamp: Nanos,
    cycleId: Long,
    sourceRecords: Long,
    sinkRecords: Long,
    cycleTimeNs: Long,
    warpRatio: Double,
)

object ReplayDriver {
  type SourceProvider = ReplayContext => DataSource[_]
  type SinkProvider = ReplayContext => DataSink[_]

  /** Wire named dag sources/sinks to providers, with strict name validation
    * (reference `_create_sources`/`_create_sinks`, `beavers/replay.py:285-321`). */
  def create(
      dag: Dag,
      ctx: ReplayContext,
      sourceProviders: Map[String, SourceProvider],
      sinkProviders: Map[String, SinkProvider],
  ): ReplayDriver = {
    val sourceNodes = dag.getSources
    require(sourceNodes.keySet == sourceProviders.keySet,
      s"Source node and DataSource names don't match: " +
        s"${sourceNodes.keys.toSeq.sorted} vs ${sourceProviders.keys.toSeq.sorted}")
    val sinkNodes = dag.getSinks
    require(sinkNodes.keySet == sinkProviders.keySet,
      s"Sink node and DataSink names don't match: " +
        s"${sinkNodes.keys.toSeq.sorted} vs ${sinkProviders.keys.toSeq.sorted}")
    new ReplayDriver(
      dag, ctx,
      sourceProviders.map { case (name, p) =>
        BoundSource(name, sourceNodes(name).asInstanceOf[Node[Any]],
          p(ctx).asInstanceOf[DataSource[Any]])
      }.toSeq.sortBy(_.name),
      sinkProviders.map { case (name, p) =>
        BoundSink(name, sinkNodes(name), p(ctx).asInstanceOf[DataSink[Any]])
      }.toSeq.sortBy(_.name),
    )
  }

  final case class BoundSource(name: String, node: Node[Any], source: DataSource[Any])
  final case class BoundSink(name: String, nodes: Seq[Node[_]], sink: DataSink[Any])

  /** Ceil to the next multiple of `freq` (pd.Timestamp.ceil semantics). */
  def ceil(t: Nanos, freq: Nanos): Nanos = {
    val q = Math.floorDiv(t + freq - 1, freq)
    Math.multiplyExact(q, freq)
  }
}

/** Orchestrates a historic replay: read sources up to virtual now, inject
  * into the dag, execute, flush updated sinks, then warp time forward to
  * `max(next_data, now + frequency)` rounded up to the cadence — quiet
  * periods are skipped instantly (reference `ReplayDriver`,
  * `beavers/replay.py:218-282`).
  */
final class ReplayDriver private[replay] (
    val dag: Dag,
    val ctx: ReplayContext,
    sources: Seq[ReplayDriver.BoundSource],
    sinks: Seq[ReplayDriver.BoundSink],
) {
  private var currentTime: Nanos = ctx.start
  private val metricsBuf = mutable.ArrayBuffer.empty[ReplayCycleMetrics]

  def getCurrentTime: Nanos = currentTime
  def metrics: Seq[ReplayCycleMetrics] = metricsBuf.toSeq

  def isDone: Boolean = currentTime > ctx.end

  def run(): Unit = {
    while (!isDone) runCycle()
    sinks.foreach(_.sink.close())
  }

  def runCycle(): Option[ReplayCycleMetrics] = {
    val st = System.nanoTime()
    val (sourceRecords, nextTimestamp) = readSources()
    val out = if (sourceRecords > 0 || dag.getNextTimer <= currentTime) {
      val timestamp = math.min(currentTime, ctx.end)
      dag.execute(timestamp)
      val sinkRecords = flushSinks()
      val et = System.nanoTime()
      val m = ReplayCycleMetrics(
        timestamp = timestamp, cycleId = dag.getCycleId,
        sourceRecords = sourceRecords, sinkRecords = sinkRecords,
        cycleTimeNs = et - st,
        warpRatio = ctx.frequency.toDouble / math.max(1L, et - st))
      metricsBuf += m
      Some(m)
    } else None
    currentTime = ReplayDriver.ceil(
      math.max(nextTimestamp, currentTime + ctx.frequency), ctx.frequency)
    out
  }

  private def readSources(): (Long, Nanos) = {
    var records = 0L
    var nextTimestamp = ctx.end
    for (rs <- sources) {
      val data = rs.source.readTo(currentTime)
      nextTimestamp = math.min(nextTimestamp, rs.source.getNext)
      val n = rs.source.length(data)
      if (n > 0) { rs.node.setStream(data); records += n }
    }
    (records, nextTimestamp)
  }

  private def flushSinks(): Long = {
    var records = 0L
    for (bs <- sinks; node <- bs.nodes if node.getCycleId == dag.getCycleId) {
      val value = node.getSinkValue
      records += (value match {
        case i: Iterable[_] => i.size.toLong
        case a: Array[_] => a.length.toLong
        case b: SparkBatch => b.count
        case _ => 1L
      })
      bs.sink.append(currentTime, value)
    }
    records
  }
}

/** In-memory list source for tests (reference `ListDataSource`,
  * `tests/test_util.py:119-140`). */
final class ListDataSource[A](data: Seq[A], timestampOf: A => Nanos)
    extends DataSource[List[A]] {
  private val sorted = data.sortBy(timestampOf).toVector
  private var pos = 0

  override def readTo(timestamp: Nanos): List[A] = {
    val start = pos
    while (pos < sorted.length && timestampOf(sorted(pos)) <= timestamp) pos += 1
    sorted.slice(start, pos).toList
  }
  override def getNext: Nanos =
    if (pos >= sorted.length) Time.UtcMax else timestampOf(sorted(pos))
  override def length(data: List[A]): Int = data.size
}

/** In-memory capture sink for tests. */
final class ListDataSink[T] extends DataSink[T] {
  val appended = mutable.ArrayBuffer.empty[(Nanos, T)]
  var closed = false
  override def append(timestamp: Nanos, data: T): Unit = appended += ((timestamp, data))
  override def close(): Unit = closed = true
}

/** Stitch consecutive `DataSource`s (e.g. one file per day) into one
  * (reference `IteratorDataSourceAdapter`, `beavers/replay.py:324-371`).
  * A batch's length is the sum of what the inner sources that produced it
  * report, so lazy batches ([[SparkBatch]]) keep the "0 iff empty" rule of
  * [[DataSource.length]]. */
final class IteratorDataSourceAdapter[T](
    sources: Iterator[DataSource[T]],
    empty: T,
    concatenator: (T, T) => T,
) extends DataSource[T] {
  private var current: Option[DataSource[T]] = advance()
  private var lastLength = 0

  private def advance(): Option[DataSource[T]] =
    if (sources.hasNext) Some(sources.next()) else None

  override def readTo(timestamp: Nanos): T = current match {
    case None => lastLength = 0; empty
    case Some(src) =>
      var batch = src.readTo(timestamp)
      var n = src.length(batch)
      while (current.isDefined && current.get.getNext == Time.UtcMax) {
        current = advance()
        for (next <- current) {
          val nextBatch = next.readTo(timestamp)
          val m = next.length(nextBatch)
          if (m > 0) {
            batch = if (n > 0) concatenator(batch, nextBatch) else nextBatch
            n += m
          }
        }
      }
      lastLength = n
      batch
  }

  override def getNext: Nanos = current.map(_.getNext).getOrElse(Time.UtcMax)

  /** Length of the batch the last [[readTo]] returned. */
  override def length(data: T): Int = lastLength
}
