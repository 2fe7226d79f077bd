package graft.examples

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Time
import graft.core.Time.Nanos
import graft.examples.Etfs.{EtfComposition, PriceRecord}
import graft.testing.DagTestBench

/** Flagship end-to-end mirroring `/root/reference/tests/test_etfs.py`. */
class EtfSpec extends AnyFunSuite {

  val t0: Nanos = Time.parse("2023-06-10T12:00:00Z")
  def plusSec(n: Long): Nanos = t0 + n * 1000000000L

  test("ETF NAV dag: incremental recompute, suppression, missing prices") {
    val bench = new DagTestBench(Etfs.createDag())

    // Price and ETF come in:
    bench
      .setSource("price", List(
        PriceRecord(t0, "AAPL", Some(180.0)),
        PriceRecord(t0, "GOOG", Some(120.0))))
      .setSource("etf_composition", List(
        EtfComposition(t0, "TECH", Map("AAPL" -> 1.0, "GOOG" -> 1.5))))
      .execute(t0)
      .assertSinkList("etf_price", Seq(PriceRecord(t0, "TECH", Some(144.0))))

    // AAPL price update propagates to TECH:
    val t1 = plusSec(1)
    bench
      .setSource("price", List(PriceRecord(t1, "AAPL", Some(200.0))))
      .execute(t1)
      .assertSinkList("etf_price", Seq(PriceRecord(t1, "TECH", Some(152.0))))

    // Unrelated price update: sink NOT updated (delta-driven recompute):
    val t2 = plusSec(2)
    bench
      .setSource("price", List(PriceRecord(t2, "MSFT", Some(330.0))))
      .execute(t2)
      .assertSinkNotUpdated("etf_price")

    // New ETF using the (previously unrelated) MSFT price:
    val t3 = plusSec(4)
    bench
      .setSource("etf_composition", List(
        EtfComposition(t3, "SOFT", Map("MSFT" -> 0.5, "GOOG" -> 1.0))))
      .execute(t3)
      .assertSinkList("etf_price", Seq(PriceRecord(t3, "SOFT", Some(190.0))))

    // ETF extends with a missing constituent price -> null NAV:
    val t4 = plusSec(4)
    bench
      .setSource("etf_composition", List(
        EtfComposition(t4, "SOFT", Map("MSFT" -> 0.5, "GOOG" -> 1.0, "ORCL" -> 0.5))))
      .execute(t4)
      .assertSinkList("etf_price", Seq(PriceRecord(t4, "SOFT", None)))
  }

  test("ETF NAV dag over a seeded random stream matches a from-scratch recomputation") {
    val rng = new scala.util.Random(7)
    val tickers = Vector.tabulate(12)(i => s"T$i")
    val etfs = Vector.tabulate(5)(i => s"E$i")
    val bench = new DagTestBench(Etfs.createDag())
    // the recomputation's state: latest price per ticker, latest composition
    // per ETF in first-seen order (the reference's dict order)
    val prices = mutable.Map.empty[String, PriceRecord]
    val compositions = mutable.LinkedHashMap.empty[String, EtfComposition]
    def nav(c: EtfComposition): PriceRecord = {
      var ts = c.timestamp
      var num = 0.0
      var den = 0.0
      var missing = false
      c.weights.foreach { case (t, w) =>
        prices.get(t) match {
          case None => missing = true
          case Some(p) =>
            num += p.price.getOrElse(0.0) * w
            den += w
            ts = math.max(ts, p.timestamp)
        }
      }
      PriceRecord(ts, c.ticker, if (missing || den == 0.0) None else Some(num / den))
    }
    var updatedCycles = 0
    var quietCycles = 0
    for (cycle <- 1 to 50) {
      val now = plusSec(cycle)
      val priceBatch = List.fill(rng.nextInt(4))(PriceRecord(now - rng.nextInt(1000),
        tickers(rng.nextInt(tickers.size)),
        if (rng.nextInt(10) == 0) None else Some(10.0 + rng.nextInt(9000) / 100.0)))
      val compositionBatch =
        if (rng.nextInt(4) != 0) Nil
        else List(EtfComposition(now, etfs(rng.nextInt(etfs.size)),
          List.fill(rng.nextInt(5))(tickers(rng.nextInt(tickers.size)) -> (1 + rng.nextInt(9)).toDouble)
            .toMap))
      if (priceBatch.nonEmpty) bench.setSource("price", priceBatch)
      if (compositionBatch.nonEmpty) bench.setSource("etf_composition", compositionBatch)
      bench.execute(now)

      priceBatch.foreach(p => prices(p.ticker) = p)
      compositionBatch.foreach(c => compositions(c.ticker) = c)
      val touched = priceBatch.map(_.ticker).toSet ++ compositionBatch.map(_.ticker)
      val want = compositions.values.filter(c =>
        touched.contains(c.ticker) || c.weights.keys.exists(touched.contains)).map(nav).toList
      if (want.isEmpty) { bench.assertSinkNotUpdated("etf_price"); quietCycles += 1 }
      else { bench.assertSinkList("etf_price", want); updatedCycles += 1 }
    }
    assert(updatedCycles > 10 && quietCycles > 5, "the stream exercises both outcomes")
  }
}
