package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{QueryDef, Relational}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 has a `queries` entry; the
  * SQL-expressible ones also have a DuckDB oracle in `oracleSql` (names and
  * column aliases match exactly — the driver hash-compares after sorting
  * columns by name).
  */
object SparkEntry {

  def allQueries: Seq[QueryDef] = {
    import graft.ext._
    Relational.all ++ CorpusMining.queries ++
      Layout.queries ++ Histogram.queries ++
      graft.operators.BloomJoin.queries ++
      graft.sources.v2.ReplayQueries.queries ++ graft.queries.DagQueries.all ++
      // the former Ext/ExtraQueries surface, split by CATALOG.md family
      DedupQueries.queries ++ SimilarityQueries.queries ++
      TextQueries.queries ++ SamplingQueries.queries ++
      SketchQueries.queries ++ GraphQueries.queries ++
      EventQueries.queries ++ OpsQueries.queries ++
      MultimodalQueries.queries ++ EvalQueries.queries ++ EvalQueries2.queries
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    allQueries.find(_.name == "q04_region_revenue").get
      .spark(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allQueries.map(q => q.name -> q.spark).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allQueries.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** Session settings every entry point needs: ns-precision parquet (events
    * table) read as long nanos — Spark has no TIMESTAMP(NANOS) type — and
    * UTC everywhere.
    *
    * Every other setting stays at Spark's default, which the A/Bs in
    * OPTIMIZATION_r14.md / OPTIMIZATION_r15.md kept (parallelismFirst=false
    * lost 1.6–2.3× on explode-heavy queries; shuffled-hash join measured
    * flat). The ONE non-default is autoBroadcastJoinThreshold 64m
    * (same-window A/B: 0.82× on the slowest-25; re-proven r15): modest
    * against multi-GB executor heaps and the 8 GB broadcast hard cap, but it
    * DOES raise driver/executor memory pressure on wide multi-join plans,
    * and Spark's post-filter size ESTIMATES feeding the decision can be
    * badly wrong at 100 TB — see SCALE.md "Broadcast mis-estimate risk" for
    * the failure mode and the SPARK_GRAFT_AUTO_BROADCAST escape hatch. */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .config("spark.sql.autoBroadcastJoinThreshold",
      sys.env.getOrElse("SPARK_GRAFT_AUTO_BROADCAST", "64m"))
}
