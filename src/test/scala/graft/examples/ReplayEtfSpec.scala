package graft.examples

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, TempDir}
import graft.core.Time
import graft.core.Time.Nanos
import graft.examples.Etfs.{EtfComposition, PriceRecord}
import graft.replay._

/** The flagship dag driven by the ReplayDriver over daily-partitioned CSV
  * price files stitched with IteratorDataSourceAdapter — the
  * `examples/replay_concepts.py:169-215` scenario on real files. */
class ReplayEtfSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  def ts(s: String): Nanos = Time.parse(s)
  val Hour: Nanos = 3600L * 1000000000L

  test("daily CSV price files replay through the ETF dag in virtual time") { TempDir("graft_etf_csv") { tmp =>
    // two daily files, AAPL/GOOG prices moving across days
    val dir = new java.io.File(tmp)
    Files.writeString(new java.io.File(dir, "input_2023-01-01.csv").toPath,
      """timestamp,ticker,price
        |2023-01-01 10:00:00,AAPL,100.0
        |2023-01-01 11:00:00,GOOG,200.0
        |""".stripMargin)
    Files.writeString(new java.io.File(dir, "input_2023-01-02.csv").toPath,
      """timestamp,ticker,price
        |2023-01-02 10:00:00,AAPL,110.0
        |""".stripMargin)

    val dag = Etfs.createDag()
    // static composition injected up front
    dag.getSources("etf_composition").asInstanceOf[graft.core.Node[List[EtfComposition]]]
      .setStream(List(EtfComposition(ts("2023-01-01T00:00:00Z"), "TECH",
        Map("AAPL" -> 1.0, "GOOG" -> 1.0))))

    // price source: one CSV DataSource per day, stitched; rows -> PriceRecord
    def daySource(name: String): DataSource[List[PriceRecord]] = {
      val inner = SparkTableDataSource.csv(spark, new java.io.File(dir, name).getAbsolutePath,
        "timestamp TIMESTAMP, ticker STRING, price DOUBLE", "timestamp")
      new DataSource[List[PriceRecord]] {
        override def readTo(t: Nanos): List[PriceRecord] = {
          val b = inner.readTo(t)
          if (b.count == 0) Nil
          else b.df.select("timestamp", "ticker", "price")
            .as[(java.sql.Timestamp, String, Double)].collect()
            .map { case (tt, tk, p) => PriceRecord(Time.fromMillis(tt.getTime), tk, Some(p)) }
            .toList
        }
        override def getNext: Nanos = inner.getNext
        override def length(data: List[PriceRecord]): Int = data.size
      }
    }
    val stitched = new IteratorDataSourceAdapter[List[PriceRecord]](
      Iterator("input_2023-01-01.csv", "input_2023-01-02.csv").map(daySource),
      Nil, _ ++ _)

    val sink = new ListDataSink[Any]
    val driver = ReplayDriver.create(
      dag,
      ReplayContext(ts("2023-01-01T00:00:00Z"), ts("2023-01-03T00:00:00Z"), Hour),
      Map("price" -> (_ => stitched),
        "etf_composition" -> (_ => new ListDataSource[EtfComposition](Nil, _.timestamp))),
      Map("etf_price" -> (_ => sink)))
    driver.run()

    val navs = sink.appended.map(_._2.asInstanceOf[List[PriceRecord]])
      .flatten.map(p => (p.ticker, p.price))
    // day 1: both prices arrive over two cycles; day 2: AAPL update re-NAVs
    assert(navs.last == ("TECH", Some(155.0))) // (110+200)/2
    assert(navs.contains(("TECH", Some(150.0)))) // (100+200)/2 after day 1
    assert(sink.closed)
  }}
}
