package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, TempDir}
import graft.sources.v2.ReplayDataSource

/** The graft-replay DataSourceV2 connector: agreement with the built-in
  * parquet source (full schema, nulls, strings), column pruning, pushdown
  * row-group pruning on a multi-row-group fixture, cursor-pattern repeated
  * scans, and the driver-side footer-index cache. */
class ReplayDataSourceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def viaConnector(path: String) =
    spark.read.format("graft-replay").option("tsCol", "ts").load(path)

  /** The built-in source under the engine's long-nanos convention — the
    * reference the connector must agree with whatever timestamp unit the
    * file carries. */
  private def builtin(path: String) =
    graft.replay.TsNanos.normalize(spark.read.parquet(path))

  test("full-table read agrees with the built-in parquet source") {
    val a = viaConnector(s"$sfDir/events.parquet")
      .orderBy("event_id").collect().toSeq
    val b = builtin(s"$sfDir/events.parquet")
      .orderBy("event_id").collect().toSeq
    assert(a.size == b.size && a == b)
  }

  test("schema matches the built-in reader (timestamps as long nanos)") {
    val a = viaConnector(s"$sfDir/events.parquet").schema
    val b = builtin(s"$sfDir/events.parquet").schema
    assert(a.fields.map(f => (f.name, f.dataType)).toSeq ==
      b.fields.map(f => (f.name, f.dataType)).toSeq)
  }

  test("column pruning: projected read returns correct values") {
    val got = viaConnector(s"$sfDir/events.parquet")
      .select("event_id", "event_type").orderBy("event_id").limit(5)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val want = builtin(s"$sfDir/events.parquet")
      .select("event_id", "event_type").orderBy("event_id").limit(5)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == want)
  }

  test("ts-range filter agrees with built-in source (cursor slice)") {
    val bounds = builtin(s"$sfDir/events.parquet")
      .agg(min(col("ts")), max(col("ts"))).collect()(0)
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val mid = lo + (hi - lo) / 2
    val a = viaConnector(s"$sfDir/events.parquet")
      .where(col("ts") > lo && col("ts") <= mid).orderBy("event_id").collect().toSeq
    val b = builtin(s"$sfDir/events.parquet")
      .where(col("ts") > lo && col("ts") <= mid).orderBy("event_id").collect().toSeq
    assert(a.nonEmpty && a == b)
  }

  test("pushdown prunes row groups on a multi-row-group file") { TempDir("graft_v2_multirg") { dir =>
    import spark.implicits._
    val path = s"$dir/data"
    // small parquet block size forces several row groups; ts monotonically
    // increasing so footer stats partition the range cleanly
    (0L until 200000L).map(i => (i, i * 1000L, s"payload_$i"))
      .toDF("ts", "event_id", "payload")
      .coalesce(1)
      .write.option("parquet.block.size", "65536").parquet(path)

    val idx = ReplayDataSource.index(path)
    assert(idx.groups.length > 2, s"fixture produced ${idx.groups.length} row groups")

    val full = viaConnector(path)
    // a narrow slice: only row groups overlapping it should be planned
    val sliced = full.where(col("ts") > 1000L && col("ts") <= 2000L)
    val plannedPartitions = sliced.rdd.getNumPartitions
    assert(plannedPartitions < idx.groups.length,
      s"expected pruning: $plannedPartitions partitions vs ${idx.groups.length} groups")
    assert(sliced.count() == 1000L)
    // the physical plan surfaces the connector's pruning description
    val explained = sliced.queryExecution.executedPlan.toString
    assert(explained.contains("graft-replay"))

    // unbounded scan plans every group
    assert(full.rdd.getNumPartitions == idx.groups.length)
  }}

  test("nested schemas fail fast at inferSchema (embeddings: list<float>)") {
    val e = intercept[Exception] {
      viaConnector(s"$sfDir/embeddings.parquet").schema
    }
    assert(e.getMessage.contains("flat primitive schemas"), e.getMessage)
  }

  test("multi-file directory: rows union across files, pruning spans files") { TempDir("graft_v2_multifile") { tmp =>
    import spark.implicits._
    val dir = s"$tmp/data"
    // three non-overlapping time-sliced files (the daily-partition replay shape)
    (0 until 3).foreach { d =>
      (0L until 1000L).map(i => (d * 1000L + i, s"d$d-$i"))
        .toDF("ts", "payload").coalesce(1)
        .write.mode("append").parquet(dir)
    }
    val idx = ReplayDataSource.index(dir)
    assert(idx.groups.length == 3)
    val all = viaConnector(dir)
    assert(all.count() == 3000L)
    // a slice inside file 1's range plans only that file's row group
    val sliced = all.where(col("ts") > 1100L && col("ts") <= 1200L)
    assert(sliced.rdd.getNumPartitions == 1)
    assert(sliced.count() == 100L)
  }}

  test("footer index is cached across scans (same driver-side object)") {
    val i1 = ReplayDataSource.index(s"$sfDir/events.parquet")
    val i2 = ReplayDataSource.index(s"$sfDir/events.parquet")
    assert(i1 eq i2)
  }

  test("footer index cache is keyed by tsCol (stats follow the column)") { TempDir("graft_v2_tscol") { dir =>
    import spark.implicits._
    val path = s"$dir/data"
    // two long columns with DIFFERENT ranges: ts in [0,2000), event_id in
    // [1_000_000, 1_002_000). A cache keyed by path only would serve ts
    // stats to an event_id-cursored scan and prune every group.
    (0L until 2000L).map(i => (i, 1000000L + i, s"p$i"))
      .toDF("ts", "event_id", "payload").coalesce(1)
      .write.option("parquet.block.size", "65536").parquet(path)

    val byTs = ReplayDataSource.index(path, "ts")
    val byId = ReplayDataSource.index(path, "event_id")
    assert(byTs.groups.flatMap(_.tsMin).min == 0L)
    assert(byId.groups.flatMap(_.tsMin).min == 1000000L)

    // scan cursored on event_id AFTER an inferSchema/scan on default ts
    // must still see its rows (regression: wrong-column stats pruned them)
    val n = spark.read.format("graft-replay").option("tsCol", "event_id")
      .load(path)
      .where(col("event_id") > 1000999L && col("event_id") <= 1001099L)
      .count()
    assert(n == 100L)
  }}

  test("equality filter at Long.MinValue does not prune matching rows") { TempDir("graft_v2_minval") { dir =>
    import spark.implicits._
    val path = s"$dir/data"
    Seq((Long.MinValue, 1L), (0L, 2L), (5L, 3L))
      .toDF("ts", "v").coalesce(1).write.parquet(path)
    val got = viaConnector(path).where(col("ts") === Long.MinValue)
      .select("v").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L))
  }}

  test("index cache invalidates when a file is rewritten in place") { TempDir("graft_v2_rewrite") { dir =>
    import spark.implicits._
    val path = s"$dir/data"
    (0L until 100L).map(i => (i, i)).toDF("ts", "v").coalesce(1)
      .write.parquet(path)
    val i1 = ReplayDataSource.index(path)
    (0L until 250L).map(i => (i, i)).toDF("ts", "v").coalesce(1)
      .write.mode("overwrite").parquet(path)
    val i2 = ReplayDataSource.index(path)
    assert(!(i1 eq i2))
    assert(i2.groups.map(_.rows).sum == 250L)
  }}

  test("property: random ts slices agree with the built-in source (ids and counts)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val path = s"$sfDir/events.parquet"
    val builtin = this.builtin(path)
    val bounds = builtin.agg(min(col("ts")), max(col("ts"))).collect()(0)
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val sliceGen = for {
      a <- Gen.chooseNum(lo - 1, hi)
      len <- Gen.chooseNum(0L, (hi - lo) / 3)
    } yield (a, math.min(a + len, hi))
    (0 until 10).foreach { i =>
      sliceGen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach { case (a, b) =>
        val got = viaConnector(path).where(col("ts") > a && col("ts") <= b)
          .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
        val want = builtin.where(col("ts") > a && col("ts") <= b)
          .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
        assert(got == want, s"slice ($a,$b]")
      }
    }
  }

  test("columnar path is the default plan; vectorized=false agrees row-for-row") { TempDir("graft_v2_colpath") { dir =>
    import spark.implicits._
    // plain-INT64 fixture (the engine's own write-path shape): columnar
    // eligible. Timestamp-annotated files take the row path (next test).
    val path = s"$dir/data"
    (0L until 20000L).map(i => (i, i * 3L, s"p$i")).toDF("ts", "event_id", "payload")
      .coalesce(1).write.parquet(path)
    val colDf = viaConnector(path) // default: vectorized
    // DSv2 inserts ColumnarToRow above a scan whose factory reports
    // columnar support — its presence proves batches flow
    val plan = colDf.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"), plan)
    val rowDf = spark.read.format("graft-replay")
      .option("tsCol", "ts").option("vectorized", "false").load(path)
    assert(!rowDf.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    val a = colDf.orderBy("event_id").collect().toSeq
    val b = rowDf.orderBy("event_id").collect().toSeq
    assert(a.nonEmpty && a == b)
  }}

  test("timestamp-unit files (micros) surface long nanos on BOTH paths") {
    val path = s"$sfDir/events.parquet"
    val df = viaConnector(path)
    // unit scaling routes to the row path (the vectorized reader cannot
    // hand back long vectors for annotated timestamp columns); the
    // engine's own plain-INT64 logs keep columnar (previous test)
    assert(!df.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    val a = df.select("event_id", "ts").orderBy("event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val b = builtin(path).select("event_id", "ts").orderBy("event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(a.nonEmpty && a == b)
    assert(a.forall(_._2 % 1000L == 0L), "micros data must land on the nanos grid")
    // the row path applies the same unit multiplier at Group assembly
    val row = spark.read.format("graft-replay")
      .option("tsCol", "ts").option("vectorized", "false").load(path)
      .select("event_id", "ts").orderBy("event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(row == a)
  }

  test("columnar and row paths agree on a ts-sliced, projected scan (all types)") { TempDir("graft_v2_coltypes") { dir =>
    import spark.implicits._
    val path = s"$dir/data"
    // every supported primitive, with nulls in each nullable column
    (0L until 5000L).map { i =>
      (i, if (i % 7 == 0) None else Some(i % 2 == 0),
        if (i % 5 == 0) None else Some(i.toInt * 3),
        if (i % 11 == 0) None else Some(s"s$i"),
        if (i % 3 == 0) None else Some(i.toFloat / 7f),
        if (i % 13 == 0) None else Some(i.toDouble / 11d))
    }.toDF("ts", "b", "i", "s", "f", "d").coalesce(1)
      .write.option("parquet.block.size", "65536").parquet(path)
    def read(vec: Boolean) = spark.read.format("graft-replay")
      .option("tsCol", "ts").option("vectorized", vec.toString).load(path)
      .where(col("ts") > 500L && col("ts") <= 3500L)
      .select("ts", "b", "s", "d") // projected subset
    val a = read(true).orderBy("ts").collect().toSeq
    val b = read(false).orderBy("ts").collect().toSeq
    assert(a.size == 3000 && a == b)
  }}

  test("bare count(*) works (zero-column projection stays on the row path)") {
    val n = viaConnector(s"$sfDir/events.parquet").count()
    assert(n == spark.read.parquet(s"$sfDir/events.parquet").count())
  }

  test("aggregate pushdown: ungrouped count/min/max plan METADATA-ONLY, values exact") {
    val df = viaConnector(s"$sfDir/events.parquet")
      .agg(count(lit(1)).as("n"), min(col("ts")).as("mn"), max(col("ts")).as("mx"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("METADATA-ONLY"), "aggregation must push into the scan")
    assert(!plan.contains("HashAggregate"), "no aggregate exec may remain")
    val got = df.collect()(0)
    val want = builtin(s"$sfDir/events.parquet")
      .agg(count(lit(1)), min(col("ts")), max(col("ts"))).collect()(0)
    assert((got.getLong(0), got.getLong(1), got.getLong(2)) ==
      ((want.getLong(0), want.getLong(1), want.getLong(2))))
  }

  test("aggregate pushdown refuses: filters present, grouping, non-ts min/max, count(col)") {
    def plan(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    // a pushed ts filter stays residual -> aggregates must NOT push past it
    val filtered = viaConnector(s"$sfDir/events.parquet")
      .where(col("ts") > 0L).agg(count(lit(1)))
    assert(!plan(filtered).contains("METADATA-ONLY") &&
      plan(filtered).contains("HashAggregate"))
    assert(filtered.collect()(0).getLong(0) ==
      builtin(s"$sfDir/events.parquet").where(col("ts") > 0L).count())
    // grouped aggregation reads data
    val grouped = viaConnector(s"$sfDir/events.parquet")
      .groupBy(col("event_type")).agg(count(lit(1)))
    assert(!plan(grouped).contains("METADATA-ONLY"))
    // min of a non-indexed column has no footer stats in the index
    val other = viaConnector(s"$sfDir/events.parquet").agg(min(col("user_id")))
    assert(!plan(other).contains("METADATA-ONLY"))
    assert(other.collect()(0).getLong(0) ==
      builtin(s"$sfDir/events.parquet").agg(min(col("user_id"))).collect()(0).getLong(0))
    // count(col) must count non-nulls -> not answerable from row counts
    val countCol = viaConnector(s"$sfDir/events.parquet").agg(count(col("event_type")))
    assert(!plan(countCol).contains("METADATA-ONLY"))
  }

  test("repeated cursor advances see disjoint, exhaustive slices") {
    val all = builtin(s"$sfDir/events.parquet")
    val bounds = all.agg(min(col("ts")), max(col("ts"))).collect()(0)
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val step = math.max(1L, (hi - lo) / 4)
    val cuts = (0 to 4).map(k => if (k == 4) hi else lo - 1 + k * step)
    val slices = cuts.sliding(2).map { case Seq(a, b) =>
      viaConnector(s"$sfDir/events.parquet")
        .where(col("ts") > a && col("ts") <= b).count()
    }.toSeq
    assert(slices.sum == all.count())
  }

  test("scans share one conf broadcast until the session's Hadoop conf changes") {
    val key = "spark.hadoop.graft.test.key"
    def factory() = viaConnector(s"$sfDir/events.parquet").queryExecution.executedPlan
      .collectFirst { case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.toBatch.createReaderFactory().asInstanceOf[graft.sources.v2.ReplayReaderFactory]
      }.get.conf
    val first = factory()
    assert(factory().id == first.id)
    assert(first.value.value.get(key) == null)
    spark.conf.set(key, "v")
    try {
      val set = factory()
      assert(set.id != first.id)
      assert(set.value.value.get(key) == "v")
    } finally spark.conf.unset(key)
    assert(factory().value.value.get(key) == null)
  }
}
