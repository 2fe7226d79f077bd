package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, RepartitionByExpression, ResolvedHint}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The three edge-pin tiers of [[Ladder.pin]], for one key and for the
  * dual-orientation (src and dst) pin of the HITS ladder. */
class LadderSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def edges(n: Long): DataFrame =
    spark.range(n).select(col("id").as("src"), ((col("id") * 7) % n).as("dst"))

  private def cached(df: DataFrame): Boolean = df.storageLevel != StorageLevel.NONE

  /** The key a frame was hash-partitioned on before its pin, if any. */
  private def partitionKey(df: DataFrame): Option[String] =
    df.queryExecution.logical.collectFirst { case r: RepartitionByExpression =>
      r.partitionExpressions.map(_.references.head.name).mkString(",")
    }

  private def broadcastHinted(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst { case h: ResolvedHint =>
      h.hints.strategy.contains(BROADCAST)
    }.getOrElse(false)

  test("below 32,768 rows: one plain cached frame, no hints") {
    val p = Ladder.pin(edges(1000))
    assert(cached(p.edges))
    assert(p.by("src") eq p.edges)
    assert(p.by("dst") eq p.edges)
    val small = spark.range(10).toDF("node")
    assert(p.hint(small) eq small)
    // a derived frame keyed for the ladder is pinned as it is
    val derived = p.by("src", p.edges.where(col("src") > 5))
    assert(cached(derived) && partitionKey(derived).isEmpty)
    PinnedCache.releaseAll()
  }

  test("between the gates: hash-partitioned on the key, one copy per orientation") {
    val p = Ladder.pin(edges(40000))
    val (bySrc, byDst) = (p.by("src"), p.by("dst"))
    assert(cached(bySrc) && cached(byDst))
    assert(partitionKey(bySrc).contains("src"))
    assert(partitionKey(byDst).contains("dst"))
    assert(bySrc.count() == 40000L && byDst.count() == 40000L)
    val small = spark.range(10).toDF("node")
    assert(p.hint(small) eq small)
    PinnedCache.releaseAll()
  }

  test("above 500,000 rows: plain pin for both orientations, the hinter broadcasts a small frame") {
    val p = Ladder.pin(edges(500001))
    assert(p.by("src") eq p.edges)
    assert(p.by("dst") eq p.edges)
    assert(partitionKey(p.edges).isEmpty)
    val small = spark.range(10).toDF("node")
    assert(broadcastHinted(p.hint(small)))
    assert(broadcastHinted(Ladder.hinter(p.edges)(small)))
    assert(!broadcastHinted(Ladder.hinter(edges(1000))(small)))
    PinnedCache.releaseAll()
  }
}
