package graft.examples

import scala.collection.mutable

import graft.core.Dag
import graft.core.Time.Nanos

/** The flagship incremental ETF-NAV dataflow
  * (reference `examples/etfs.py`): latest-price and latest-composition
  * keyed states, delta-driven recomputation of only the ETFs touched by an
  * update, null NAV when a constituent price is missing. */
object Etfs {

  final case class PriceRecord(timestamp: Nanos, ticker: String, price: Option[Double])
  final case class EtfComposition(timestamp: Nanos, ticker: String, weights: Map[String, Double])

  /** reference `GetLatest` (`examples/etfs.py:34-43`): one map, updated in
    * place and returned on every call, as the reference does with its dict
    * (insertion-ordered like it, so NAVs come out in the reference's order). */
  final class GetLatest[K, V](keyOf: V => K) extends (List[V] => collection.Map[K, V]) {
    private val latest = mutable.LinkedHashMap.empty[K, V]
    def apply(updates: List[V]): collection.Map[K, V] = {
      updates.foreach(u => latest.update(keyOf(u), u))
      latest
    }
  }

  /** reference `calculate_nav` (`examples/etfs.py:70-91`): weighted average,
    * None when any constituent is missing. */
  def calculateNav(composition: EtfComposition,
      prices: collection.Map[String, PriceRecord]): PriceRecord = {
    var timestamp = composition.timestamp
    var quotient = 0.0
    var dividend = 0.0
    var error = false
    composition.weights.foreachEntry { (ticker, weight) =>
      val p = prices.getOrElse(ticker, null)
      if (p == null) error = true
      else {
        quotient += p.price.getOrElse(0.0) * weight
        dividend += weight
        timestamp = math.max(timestamp, p.timestamp)
      }
    }
    PriceRecord(timestamp, composition.ticker,
      if (dividend == 0.0 || error) None else Some(quotient / dividend))
  }

  /** reference `calculate_navs` (`examples/etfs.py:94-107`): recompute only
    * ETFs touched by the update set (incremental view maintenance). */
  def calculateNavs(updatedTickers: collection.Set[String],
      compositions: collection.Map[String, EtfComposition],
      prices: collection.Map[String, PriceRecord]): List[PriceRecord] =
    compositions.valuesIterator
      .filter(c => updatedTickers.contains(c.ticker) ||
        c.weights.keysIterator.exists(updatedTickers.contains))
      .map(calculateNav(_, prices))
      .toList

  /** reference `get_updated_tickers` (`examples/etfs.py:109-115`): every
    * ticker of the cycle's prices and compositions, in one set. */
  def getUpdatedTickers(prices: List[PriceRecord],
      compositions: List[EtfComposition]): collection.Set[String] = {
    val tickers = mutable.HashSet.empty[String]
    prices.foreach(p => tickers += p.ticker)
    compositions.foreach(c => tickers += c.ticker)
    tickers
  }

  /** reference `create_dag` (`examples/etfs.py:118-134`). */
  def createDag(): Dag = {
    val dag = new Dag
    val priceStream = dag.sourceStream(List.empty[PriceRecord], name = "price")
    val compositionStream = dag.sourceStream(List.empty[EtfComposition], name = "etf_composition")
    val priceLatest = dag.state(priceStream)(new GetLatest[String, PriceRecord](_.ticker))
    val compositionLatest =
      dag.state(compositionStream)(new GetLatest[String, EtfComposition](_.ticker))
    val updatedTickers =
      dag.stream2(priceStream, compositionStream)(collection.Set.empty[String])(getUpdatedTickers)
    val updatedNavs = dag.stream3(updatedTickers, compositionLatest, priceLatest)(
      List.empty[PriceRecord])(calculateNavs)
    dag.sink("etf_price", updatedNavs)
    dag
  }
}
