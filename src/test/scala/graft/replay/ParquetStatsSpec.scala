package graft.replay

import org.apache.spark.sql.functions.{col, max}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.core.Time

/** The footer-stats cursor ([[V2ReplaySource]]) must replay exactly the
  * same rows as the collected-index source, just with a conservative
  * schedule: exact emptiness, counts that never undercount, and a `getNext`
  * that never runs ahead of the next real timestamp. */
class ParquetStatsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  val path = "/root/testdata/sf0.001/events.parquet"
  val DayNs = 24L * 3600L * 1000000000L

  test("footer-stats cursor replays every row exactly once") {
    val stats = new V2ReplaySource(spark, path, "ts")
    val exact = SparkTableDataSource.parquet(spark, path, "ts")
    var t = Time.parse("2024-01-01T00:00:00Z")
    val end = Time.parse("2024-02-01T00:00:00Z")
    var statsTotal = 0L
    var exactTotal = 0L
    while (t <= end) {
      val sb = stats.readTo(t)
      val actual = sb.df.count()
      assert(sb.count >= actual, "estimate must never undercount (gates emptiness)")
      assert((sb.count == 0) == (actual == 0), "emptiness must be exact")
      statsTotal += actual
      val eb = exact.readTo(t)
      exactTotal += eb.count
      assert(stats.getNext <= exact.getNext)
      t += DayNs
    }
    val total = spark.read.parquet(path).count()
    assert(statsTotal == total && exactTotal == total)
    assert(stats.getNext == Time.UtcMax && exact.getNext == Time.UtcMax)
    assert(stats.readTo(end + DayNs).df.isEmpty)
  }

  test("getNext from footer stats is a conservative lower bound") {
    val stats = new V2ReplaySource(spark, path, "ts")
    val exact = SparkTableDataSource.parquet(spark, path, "ts")
    assert(stats.getNext <= exact.getNext)
    assert(stats.getNext > Time.UtcEpoch)
    // footer min/max are the data's own extremes: min is the first real
    // timestamp, max the last
    val dataMax = TsNanos.normalize(spark.read.parquet(path), "ts")
      .agg(max(col("ts"))).collect().head.getLong(0)
    assert(stats.minTimestamp == exact.getNext)
    assert(stats.maxTimestamp == dataMax)
  }
}
