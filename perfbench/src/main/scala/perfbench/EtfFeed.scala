package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import graft.examples.Etfs.{EtfComposition, PriceRecord}
import graft.kafka.{KMessage, TopicPartition}

/** Seeded message schedule for the ETF-NAV workload.
  *
  * Price slot `k` is due at `t0 + k * slotNs` and lands on partition
  * `k % PricePartitions`; its ticker is Zipf-popular among the tickers that
  * partition owns (tickers are keyed to partitions, as a keyed producer
  * would place them). The composition topic holds one composition per ETF,
  * due just before the first price, then a re-weighting every
  * `compositionEvery` price slots. Every field is a pure function of
  * (seed, partition, offset), so the logs are generated on demand. */
final class EtfFeed(seed: Long, t0: Long, slotNs: Long, val priceSlots: Long,
    compositionEvery: Long = 2000L) {
  import EtfFeed._

  val tickers: Vector[String] = Vector.tabulate(Tickers)(i => f"T$i%03d")
  val etfs: Vector[String] = Vector.tabulate(Etfs)(i => f"E$i%03d")

  // Zipf(1.1) over a partition's own tickers, as a cumulative table
  private val perPartition = Tickers / PricePartitions
  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(perPartition)(r => 1.0 / math.pow(r + 1, 1.1))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  private def zipfRank(u: Double): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, u)
    math.min(perPartition - 1, if (i >= 0) i else -i - 1)
  }

  private def priceTicker(p: Int, offset: Long): Int =
    zipfRank(unit(seed, p.toLong, offset, 0)) * PricePartitions + p

  private def priceValue(p: Int, offset: Long): Double =
    math.round((10.0 + 190.0 * unit(seed, p.toLong, offset, 1)) * 100) / 100.0

  /** Composition `j`: 11 to 20 constituents, drawn from the popular tickers. */
  def composition(j: Long): EtfComposition = {
    val etf = if (j < Etfs) j.toInt else (mix(seed, 99L, j, 2) % Etfs).toInt
    val n = MaxConstituents / 2 + 1 + (mix(seed, 98L, j, 3) % (MaxConstituents / 2)).toInt
    val weights = (0 until n).map { c =>
      val p = (mix(seed, 97L, j, 10 + c) % PricePartitions).toInt
      val t = zipfRank(unit(seed, 96L, j, 40 + c)) * PricePartitions + p
      tickers(t) -> (1 + mix(seed, 95L, j, 70 + c) % 100).toDouble
    }.toMap
    EtfComposition(compositionDueNs(j), etfs(etf), weights)
  }

  def priceCount(p: Int): Long = (priceSlots - p + PricePartitions - 1) / PricePartitions
  val compositionCount: Long = Etfs + priceSlots / compositionEvery

  def priceDueNs(p: Int, offset: Long): Long = t0 + (offset * PricePartitions + p) * slotNs
  def compositionDueNs(j: Long): Long =
    if (j < Etfs) t0 - (Etfs - j) * 1000L else t0 + (j - Etfs + 1) * compositionEvery * slotNs

  def price(p: Int, offset: Long): PriceRecord =
    PriceRecord(priceDueNs(p, offset), tickers(priceTicker(p, offset)), Some(priceValue(p, offset)))

  def logs: Map[TopicPartition, PartitionLog] =
    (0 until PricePartitions).map { p =>
      TopicPartition(PriceTopic, p) -> (new PartitionLog {
        val size: Long = priceCount(p)
        def dueNs(o: Long): Long = priceDueNs(p, o)
        def key(o: Long): Array[Byte] = tickers(priceTicker(p, o)).getBytes(UTF_8)
        def value(o: Long): Array[Byte] = encodePrice(price(p, o))
      }: PartitionLog)
    }.toMap + (TopicPartition(CompositionTopic, 0) -> new PartitionLog {
      val size: Long = compositionCount
      def dueNs(o: Long): Long = compositionDueNs(o)
      def key(o: Long): Array[Byte] = composition(o).ticker.getBytes(UTF_8)
      def value(o: Long): Array[Byte] = encodeComposition(composition(o))
    })

  def totalMessages: Long = priceSlots + compositionCount

  /** Exact due time of a consumed message (record timestamps are ms). */
  def dueNs(m: KMessage): Long =
    if (m.tp.topic == PriceTopic) priceDueNs(m.tp.partition, m.offset) else compositionDueNs(m.offset)

  /** Final NAV per ETF, recomputed from the schedule alone: latest price
    * per ticker and latest composition per ETF, applied in due-time order,
    * then the weighted average (None when a constituent has no price). */
  def expectedNavs(): Map[String, Option[Double]] = {
    val lastPrice = new Array[Double](Tickers)
    val seen = new Array[Boolean](Tickers)
    val comps = scala.collection.mutable.Map.empty[String, EtfComposition]
    var j = 0L
    var k = 0L
    while (k < priceSlots || j < compositionCount) {
      val compFirst = j < compositionCount &&
        (k >= priceSlots || compositionDueNs(j) <= t0 + k * slotNs)
      if (compFirst) { val c = composition(j); comps(c.ticker) = c; j += 1 }
      else {
        val p = (k % PricePartitions).toInt
        val o = k / PricePartitions
        val t = priceTicker(p, o)
        lastPrice(t) = priceValue(p, o); seen(t) = true
        k += 1
      }
    }
    comps.map { case (etf, c) =>
      val idx = c.weights.keys.map(t => t.drop(1).toInt)
      etf -> (if (idx.forall(seen(_)) && c.weights.nonEmpty) {
        val num = c.weights.map { case (t, w) => lastPrice(t.drop(1).toInt) * w }.sum
        Some(num / c.weights.values.sum)
      } else None)
    }.toMap
  }

  /** Tickers that belong to some composition: their prices produce a NAV. */
  lazy val navTickers: Set[String] =
    (0L until compositionCount).flatMap(j => composition(j).weights.keys).toSet
}

object EtfFeed {
  val PriceTopic = "price"
  val CompositionTopic = "etf_composition"
  val PricePartitions = 4
  val Tickers = 500
  val Etfs = 100
  val MaxConstituents = 20

  /** SplitMix64 finalizer over the message coordinates. */
  def mix(seed: Long, a: Long, b: Long, c: Int): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + a * 0xBF58476D1CE4E5B9L + b * 0x94D049BB133111EBL + c
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    (z ^ (z >>> 31)) >>> 1
  }

  def unit(seed: Long, a: Long, b: Long, c: Int): Double =
    (mix(seed, a, b, c) >>> 10).toDouble / (1L << 53).toDouble

  def encodePrice(p: PriceRecord): Array[Byte] =
    s"""{"ts":${p.timestamp},"ticker":"${p.ticker}","price":${p.price.get}}""".getBytes(UTF_8)

  def encodeComposition(c: EtfComposition): Array[Byte] =
    c.weights.map { case (t, w) => s""""$t":$w""" }
      .mkString(s"""{"ts":${c.timestamp},"ticker":"${c.ticker}","weights":{""", ",", "}}")
      .getBytes(UTF_8)

  /** Field after `"name":` in a flat JSON object we encoded ourselves. */
  private def field(s: String, name: String): String = {
    val i = s.indexOf("\"" + name + "\":") + name.length + 3
    var j = i
    if (s.charAt(i) == '"') {
      j = s.indexOf('"', i + 1)
      s.substring(i + 1, j)
    } else {
      while (j < s.length && s.charAt(j) != ',' && s.charAt(j) != '}') j += 1
      s.substring(i, j)
    }
  }

  def decodePrice(b: Array[Byte]): PriceRecord = {
    val s = new String(b, UTF_8)
    val price = field(s, "price")
    PriceRecord(field(s, "ts").toLong, field(s, "ticker"),
      if (price == "null") None else Some(price.toDouble))
  }

  def decodeComposition(b: Array[Byte]): EtfComposition = {
    val s = new String(b, UTF_8)
    val body = s.substring(s.indexOf("\"weights\":{") + 11, s.lastIndexOf("}}"))
    val weights =
      if (body.isEmpty) Map.empty[String, Double]
      else body.split(',').map { kv =>
        val c = kv.lastIndexOf(':')
        kv.substring(1, c - 1) -> kv.substring(c + 1).toDouble
      }.toMap
    EtfComposition(field(s, "ts").toLong, field(s, "ticker"), weights)
  }

  def encodeNav(p: PriceRecord): Array[Byte] =
    s"""{"ts":${p.timestamp},"ticker":"${p.ticker}","price":${p.price.map(_.toString).getOrElse("null")}}"""
      .getBytes(UTF_8)
}
