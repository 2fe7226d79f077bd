package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** `graph_ladders`: passes over a fixed list of `SparkEntry.queries` on
  * the fixed tables under `dataDir`. The seed only
  * permutes the query order of each pass. Every query writes to the `noop`
  * sink, so the measured plan is the full plan; the untimed warm-up pass
  * writes parquet instead, which the result check compares with
  * `SparkEntry.oracleSql` run in DuckDB. */
final class QueryPasses(spark: SparkSession, probe: SparkProbe, workload: String,
    queries: Seq[String], dataDir: String, seed: Long) {

  private val fns = SparkEntry.queries
  queries.foreach(q => require(fns.contains(q), s"unknown query $q"))
  private val rng = new scala.util.Random(seed)
  private var passNo = 0

  /** Wall time per query, each query's [start, end] in epoch ms, and the
    * pass's job-group prefix. */
  final class PassStats {
    val perQuery = mutable.LinkedHashMap.empty[String, Long]
    val ops = mutable.ArrayBuffer.empty[(Long, Long)]
    var wallNs = 0L
    var label = ""
  }

  def shortId(q: String): String = q.takeWhile(_ != '_')

  /** One pass in a seeded order; `resultsDir` set means write parquet. */
  def pass(label: String, resultsDir: Option[Path] = None): PassStats = {
    passNo += 1
    val st = new PassStats
    st.label = s"bench:$workload:$label$passNo:"
    val order = rng.shuffle(queries)
    val sc = spark.sparkContext
    val start = System.nanoTime()
    for (q <- order) {
      sc.setJobGroup(st.label + q, q)
      val s0 = System.currentTimeMillis()
      val s = System.nanoTime()
      Trace.span(q, "graft.queries") {
        val w = fns(q)(spark, dataDir).write.mode("overwrite")
        resultsDir match {
          case Some(d) => w.parquet(d.resolve(q).toString)
          case None => w.format("noop").save()
        }
      }
      st.perQuery(q) = System.nanoTime() - s
      st.ops += ((s0, System.currentTimeMillis()))
    }
    st.wallNs = System.nanoTime() - start
    sc.clearJobGroup()
    st
  }

  /** Passes for `seconds` (at least two); `label` names their job groups. */
  def run(seconds: Double, report: Report, layers: Report, label: String): Seq[PassStats] = {
    val passes = mutable.ArrayBuffer.empty[PassStats]
    System.gc()
    val t0 = System.nanoTime()
    while (passes.size < 2 || System.nanoTime() - t0 < seconds * 1e9) {
      passes += pass(label)
      Anchor.sample()
    }
    passes.foreach(p => System.err.println(f"pass ${p.wallNs / 1e9}%.3f s " +
      p.perQuery.map { case (q, ns) => f"${shortId(q)} ${ns / 1e9}%.3f" }.mkString(" ")))
    val opMs = Stats.nsToMs(passes.flatMap(_.perQuery.values).toArray)
    val passS = Stats.median(passes.map(_.wallNs / 1e9).toSeq)
    report.put("throughput_rps", queries.size / passS, "1/s")
    report.putCycleTimes(opMs, layers)
    report.put("pass_s", passS, "s")
    report.attempted += queries.size.toLong * passes.size

    probe.drain()
    for (q <- queries) {
      layers.put(s"query.${shortId(q)}_s", Stats.median(passes.map(_.perQuery(q) / 1e9).toSeq), "s")
      layers.put(s"query.${shortId(q)}_jobs",
        Stats.median(passes.map(p => probe.totals(p.label + q, Nil).jobs.toDouble).toSeq), "count")
    }
    passes.toSeq
  }
}

object QueryPasses {
  /** Iterative graph ladders (BFS frontier, HITS half-steps, multi-source
    * BFS with pinned edges) that fit the run budget; q310, q305, q264 and
    * q220 take ~14, ~5, ~3 and ~2 s warm each and are left out. An odd
    * count keeps the median query time on one query. */
  val GraphLadders: Seq[String] = Seq(
    "q187_bfs_frontier", "q197_hits", "q307_harmonic_centrality")
}
