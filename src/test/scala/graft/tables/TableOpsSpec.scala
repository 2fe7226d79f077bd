package graft.tables

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.core.Dag
import graft.replay.SparkBatch
import graft.tables.TableOps.ViewSpec

/** W1-W9 typed-table layer semantics, mirroring
  * `/root/reference/tests/test_pyarrow_wrapper.py` /
  * `tests/test_polars_wrapper.py`. */
class TableOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // SIMPLE_SCHEMA fixture (tests/test_pyarrow_wrapper.py:8-16)
  def batch1 = Seq((1, "a"), (2, "b"), (3, "c")).toDF("col1", "col2")
  def batch2 = Seq((1, "d"), (2, "e")).toDF("col1", "col2")

  test("lastByKeys keeps the latest row per key across batches (W4)") {
    val withSeq = batch1.withColumn("_seq", lit(1))
      .unionByName(batch2.withColumn("_seq", lit(2)))
    val latest = TableOps.lastByKeys(withSeq, Seq("col1"), Seq("_seq"))
      .drop("_seq").orderBy("col1")
    assert(latest.collect().toSeq == Seq(Row(1, "d"), Row(2, "e"), Row(3, "c")))
  }

  test("incremental upsert is associative: any batching equals global lastByKeys") {
    // the invariant streaming upsert state relies on (W4 stream->table)
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .limit(300).cache()
    val global = TableOps.lastByKeys(events, Seq("user_id"), Seq("ts", "event_id"))
      .orderBy("user_id").collect().toSeq
    val last = (df: org.apache.spark.sql.DataFrame) =>
      TableOps.lastByKeys(df, Seq("user_id"), Seq("ts", "event_id"))
    for (batches <- Seq(2, 3, 7)) {
      val dag = new Dag
      val source = dag.sourceStream(SparkBatch(spark.emptyDataFrame, 0), name = "events")
      val node = TableOps.foldState(dag, source)(last)((held, df) => last(held.unionByName(df)))
      for (k <- 0 until batches) {
        val delta = events.where(pmod(col("event_id"), lit(batches)) === k)
        source.setStream(SparkBatch(delta, 1))
        dag.execute()
      }
      val state = node.getValue
      assert(state.orderBy("user_id").collect().toSeq == global, s"batches=$batches")
    }
  }

  test("foldState seeds from the first batch, merges later ones, skips empty ones") {
    val dag = new Dag
    val source = dag.sourceStream(SparkBatch(spark.emptyDataFrame, 0), name = "rows")
    val node = TableOps.foldState(dag, source)(identity)(_.unionByName(_))
    dag.execute() // a state node runs on the first cycle; no batch: no update
    assert(node.getValue == null && node.getCycleId == 0)
    source.setStream(SparkBatch(batch1, 3)); dag.execute()
    source.setStream(SparkBatch(batch2, 2)); dag.execute()
    assert(node.getCycleId == dag.getCycleId)
    assert(node.getValue.orderBy("col1", "col2").collect().toSeq ==
      Seq(Row(1, "a"), Row(1, "d"), Row(2, "b"), Row(2, "e"), Row(3, "c")))
    // checkpointed per cycle: the held table is not a union over the batches
    assert(node.getValue.queryExecution.logical.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
    }.isEmpty)
  }

  test("salted lastByKeys equals the unsalted aggregate (skew path)") {
    val df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val plain = TableOps.lastByKeys(df, Seq("user_id"), Seq("ts", "event_id"))
      .orderBy("user_id").collect().toSeq
    val salted = TableOps.lastByKeysSalted(df, Seq("user_id"), Seq("ts", "event_id"), 8)
      .orderBy("user_id").collect().toSeq
    assert(salted == plain)
  }

  test("lastByKeys max_by and window variants agree") {
    val df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val a = TableOps.lastByKeys(df, Seq("user_id"), Seq("ts", "event_id"))
      .orderBy("user_id").collect().toSeq
    val b = TableOps.lastByKeysWindow(df, Seq("user_id"), Seq("ts", "event_id"))
      .orderBy("user_id").collect().toSeq
    assert(a == b)
  }

  test("filterStream with static and dynamic predicates (W3/W7)") {
    val out = TableOps.filterStream(batch1, col("col1") > 1, col("col2") =!= "c")
    assert(out.collect().toSeq == Seq(Row(2, "b")))
  }

  test("filter with a dynamic threshold from another node (pyarrow_wrapper.py:112-125)") {
    // The reference's filter_stream accepts extra node args (e.g. a live
    // threshold); here the threshold state feeds the predicate per cycle.
    val dag = new Dag
    val rows = dag.sourceStream(SparkBatch(spark.emptyDataFrame, 0), name = "rows")
    val threshold = dag.sourceStream(List.empty[Int], name = "threshold")
    val thresholdState = dag.state(threshold)(new GetLatestInt(0))
    val filtered = dag.stream2(rows, thresholdState)(List.empty[Int]) { (b, t) =>
      if (b.count == 0) Nil
      else TableOps.filterStream(b.df, col("col1") > t).select("col1").as[Int].collect().toList
    }
    rows.setStream(SparkBatch(batch1, 3)); threshold.setStream(List(1))
    dag.execute()
    assert(filtered.getValue == List(2, 3))
    rows.setStream(SparkBatch(batch1, 3)); threshold.setStream(List(2))
    dag.execute()
    assert(filtered.getValue == List(3))
  }

  class GetLatestInt(default: Int) extends (List[Int] => Int) {
    private var v = default
    def apply(xs: List[Int]): Int = { if (xs.nonEmpty) v = xs.last; v }
  }

  test("getColumn and concatStreams (W5/W6/W8)") {
    val c = TableOps.getColumn(batch1, "col2").as[String].collect().toSeq
    assert(c == Seq("a", "b", "c"))
    val both = TableOps.concatStreams(batch1, batch2)
    assert(both.count() == 5)
    // schema mismatch is rejected (type-checked union, pyarrow_wrapper.py:148-154)
    intercept[org.apache.spark.sql.AnalysisException] {
      TableOps.concatStreams(batch1, Seq((1.5, "x")).toDF("col1", "colX"))
    }
  }

  test("applyView: declarative sort/filter/limit (W9 perspective spec)") {
    val out = TableOps.applyView(batch1,
      ViewSpec(sortBy = Seq(("col1", false)), filters = Seq(col("col1") > 0), limit = Some(2)))
    assert(out.collect().toSeq == Seq(Row(3, "c"), Row(2, "b")))
  }

  test("view filter comparators compile to columns (perspective_wrapper.py:22-36)") {
    import TableOps.ViewFilter._
    def ids(f: TableOps.ViewFilter) =
      TableOps.applyView(batch1, ViewSpec(viewFilters = Seq(f)))
        .select("col1").as[Int].collect().toSet
    assert(ids(Eq("col2", "b")) == Set(2))
    assert(ids(Ne("col2", "b")) == Set(1, 3))
    assert(ids(Lt("col1", 2)) == Set(1))
    assert(ids(Ge("col1", 2)) == Set(2, 3))
    assert(ids(In("col2", Seq("a", "c"))) == Set(1, 3))
    assert(ids(NotIn("col2", Seq("a", "c"))) == Set(2))
    assert(ids(NotNull("col2")) == Set(1, 2, 3))
    assert(ids(IsNull("col2")) == Set())
    assert(ids(BeginsWith("col2", "a")) == Set(1))
    assert(ids(Contains("col2", "b")) == Set(2))
    assert(ids(EndsWith("col2", "c")) == Set(3))
  }

  test("delta-driven ETF recompute with DataFrame state inside dag nodes") {
    // The pyarrow_concepts.py:120-191 pattern: only ETFs touched by a price
    // delta are recomputed, with Spark DataFrames as node values.
    val dag = new Dag
    val priceSrc = dag.sourceStream(SparkBatch(spark.emptyDataFrame, 0), name = "price")
    val compSrc = dag.sourceStream(SparkBatch(spark.emptyDataFrame, 0), name = "etf_composition")

    // keyed states via lastByKeys upsert (concat prev + delta)
    var seq = 0L
    def upsert(prev: org.apache.spark.sql.DataFrame, delta: SparkBatch, keys: Seq[String]) = {
      seq += 1
      val tagged = delta.df.withColumn("_seq", lit(seq))
      val all = if (prev == null) tagged else prev.unionByName(tagged)
      TableOps.lastByKeys(all, keys, Seq("_seq")).cache()
    }
    var priceDf: org.apache.spark.sql.DataFrame = null
    val priceState2 = dag.state(priceSrc) { b: SparkBatch =>
      priceDf = upsert(priceDf, b, Seq("ticker")); priceDf
    }
    var compDf: org.apache.spark.sql.DataFrame = null
    val compState = dag.state(compSrc) { b: SparkBatch =>
      compDf = upsert(compDf, b, Seq("etf", "ticker")); compDf
    }
    // stale etfs = etfs of updated tickers (semi-join) + updated compositions
    val staleEtfs = dag.stream3(priceSrc, compSrc, compState)(Set.empty[String]) {
      (p, c, state) =>
        val fromPrice =
          if (p.count == 0 || state == null) Set.empty[String]
          else state.join(p.df.select("ticker"), Seq("ticker"), "left_semi")
            .select("etf").as[String].collect().toSet
        val fromComp =
          if (c.count == 0) Set.empty[String]
          else c.df.select("etf").as[String].collect().toSet
        fromPrice ++ fromComp
    }
    val navs = dag.stream3(staleEtfs, compState, priceState2)(Map.empty[String, Double]) {
      (stale, comp, price) =>
        if (stale.isEmpty) Map.empty[String, Double]
        else comp.where(col("etf").isin(stale.toSeq: _*))
          .join(price, "ticker")
          .groupBy("etf").agg(sum(col("price") * col("quantity")).as("value"))
          .as[(String, Double)].collect().toMap
    }
    dag.sink("etf_value", navs)

    def prices(rows: (String, Double)*) =
      SparkBatch(rows.toSeq.toDF("ticker", "price"), rows.size)
    def comps(rows: (String, String, Double)*) =
      SparkBatch(rows.toSeq.toDF("etf", "ticker", "quantity"), rows.size)

    compSrc.setStream(comps(("TECH", "AAPL", 2.0), ("TECH", "GOOG", 1.0), ("FIN", "JPM", 3.0)))
    priceSrc.setStream(prices(("AAPL", 100.0), ("GOOG", 50.0), ("JPM", 10.0)))
    dag.execute()
    assert(navs.getValue == Map("TECH" -> 250.0, "FIN" -> 30.0))

    // price delta touching only TECH: FIN not recomputed
    priceSrc.setStream(prices(("AAPL", 110.0)))
    dag.execute()
    assert(navs.getValue == Map("TECH" -> 270.0))

    // unrelated ticker: no etf recomputed, sink not updated
    priceSrc.setStream(prices(("GME", 1.0)))
    dag.execute()
    assert(navs.getCycleId < dag.getCycleId)
  }
}
