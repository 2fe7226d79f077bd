package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Two-stage conversion funnel over an event stream — the product-analytics
  * primitive (did the user reach stage B within a window of first reaching
  * stage A, and how fast?). Engine-time convention: `ts` is Long nanos.
  *
  * Scale design: the stage-A anchor is one map-side-combinable min
  * aggregate; the stage-B attach is an equi-join on user_id with the
  * window bounds as join predicates (shuffle by user, per-user groups
  * bounded by that user's events — no window function, no all-events
  * sort); the time-to-convert min is again partial-agg'd. At 100 TB of
  * events everything partitions by user_id. */
object EventFunnel {

  /** One row per user who reached `startType`: (user_id, s_ts = first
    * start-event nanos, converted, ttc_ns = min nanos from start to a
    * `convType` event inside (s_ts, s_ts + windowNs], null when none). */
  def conversionFunnel(events: DataFrame, startType: String, convType: String,
      windowNs: Long): DataFrame = {
    require(windowNs > 0, "window must be positive")
    val starts = events.where(col("event_type") === startType)
      .groupBy(col("user_id")).agg(min(col("ts")).as("s_ts"))
    val convs = events.where(col("event_type") === convType)
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
    starts.join(convs,
        col("user_id") === col("c_user") && col("c_ts") > col("s_ts") &&
          col("c_ts") <= col("s_ts") + windowNs, "left")
      .groupBy(col("user_id"), col("s_ts"))
      .agg(min(col("c_ts") - col("s_ts")).as("ttc_ns"))
      .select(col("user_id"), col("s_ts"),
        col("ttc_ns").isNotNull.as("converted"), col("ttc_ns"))
  }

  /** N-stage ordered funnel: anchor at the user's FIRST `stages(0)` event,
    * then for each later stage the earliest event of that type strictly
    * after the previous stage's time, all within `windowNs` of the anchor.
    * One output row per anchored user: (user_id, t1..tN nullable stage
    * nanos, stages_reached incl. the anchor). Nulls cascade — a user who
    * never reached stage i has t_i..t_N null.
    *
    * Same scale shape as [[conversionFunnel]], once per stage: the
    * attach is an equi-join on user_id with the time bounds in the join
    * predicate (no window function, no global sort), and each stage's min
    * is partial-aggregated. N-1 user-keyed shuffles total; at 100 TB all
    * of them co-partition on user_id, so AQE collapses them into one
    * exchange lineage. */
  def stagedFunnel(events: DataFrame, stages: Seq[String],
      windowNs: Long): DataFrame = {
    require(stages.size >= 2, "need at least 2 stages")
    require(windowNs > 0, "window must be positive")
    var cur = events.where(col("event_type") === stages.head)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    stages.zipWithIndex.tail.foreach { case (st, i) =>
      val ev = events.where(col("event_type") === st)
        .select(col("user_id").as("u"), col("ts").as("ets"))
      cur = cur.join(ev,
          col("user_id") === col("u") && col("ets") > col(s"t$i") &&
            col("ets") <= col("t1") + windowNs, "left")
        .groupBy(cur.columns.map(col): _*)
        .agg(min(col("ets")).as(s"t${i + 1}"))
    }
    cur.withColumn("stages_reached",
      (2 to stages.size).map(i =>
        when(col(s"t$i").isNotNull, 1L).otherwise(0L)).reduce(_ + _) + 1)
  }

  /** Hourly burst detection per event type: an hour is a burst when its
    * event rate exceeds `factor`× the trailing-24h mean —
    * n·24 > trail·factor in pure integers (cross-multiplied, no division,
    * no floats). The trailing sum is a RANGE window over hour VALUES
    * (24 PRECEDING..1 PRECEDING), so hours with zero events — absent from
    * the counts frame — still shorten the baseline correctly; the first
    * 24 hours of each type never flag (no full baseline yet).
    *
    * Scale shape: one (type, hour) partial-agg count, then windows
    * partitioned by type over hour-count rows — state is hours×types, not
    * events. The rate-anomaly monitor for ingest pipelines. */
  def hourlyBursts(events: DataFrame, epochNs: Long, factor: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(factor >= 1, "factor must be positive")
    val counts = events
      // floor division (pmod keeps the remainder non-negative), matching
      // DuckDB's `//` for ts < epochNs too — `div` alone truncates toward
      // zero and would merge hours -0.x and +0.x into hour 0
      .select(col("event_type"), expr(
        s"((ts - ${epochNs}L) - pmod(ts - ${epochNs}L, 3600000000000L)) div 3600000000000L").as("hr"))
      .groupBy(col("event_type"), col("hr")).agg(count(lit(1)).as("n"))
    val trail = Window.partitionBy(col("event_type")).orderBy(col("hr"))
      .rangeBetween(-24, -1)
    counts
      .withColumn("trail", coalesce(sum(col("n")).over(trail), lit(0L)))
      .withColumn("first_hr", min(col("hr")).over(Window.partitionBy(col("event_type"))))
      .withColumn("burst",
        col("hr") >= col("first_hr") + 24 && col("n") * 24 > col("trail") * factor)
      .select(col("event_type"), col("hr"), col("n"), col("trail"), col("burst"))
  }

  /** User-journey path mining: the most frequent length-`n` event-type
    * sequences across users' time-ordered event streams (overlapping
    * windows, ties on (ts, event_id)) — which paths users actually take,
    * the sequence-level complement to [[stagedFunnel]]'s fixed hypothesis.
    * One user-partitioned window pass builds the n-grams (lead×(n−1) —
    * no self-joins), then a count + top-k; per-user work is that user's
    * event count, the path vocabulary is |types|^n-bounded. */
  def pathCounts(events: DataFrame, n: Int, topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n >= 2 && n <= 5, "path length in [2,5]")
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val withLeads = events.select(col("user_id"), col("event_type"), col("ts"),
      col("event_id"))
      .select(col("user_id") +: col("event_type").as("t0") +:
        (1 until n).map(i => lead(col("event_type"), i).over(w).as(s"t$i")): _*)
      .where((1 until n).map(i => col(s"t$i").isNotNull).reduce(_ && _))
    withLeads
      .groupBy(concat_ws(" > ", (0 until n).map(i => col(s"t$i")): _*).as("path"))
      .agg(count(lit(1)).as("n_paths"))
      .orderBy(col("n_paths").desc, col("path"))
      .limit(topK)
  }

  /** SCD-type-2 interval compaction (change-data-capture history build):
    * collapse each key's event sequence into validity intervals of its
    * tracked attribute — one row per maximal run of consecutive equal
    * values. Returns (user_id, event_type, valid_from, valid_to, n_events,
    * is_current): `valid_from` = first event nanos of the run, `valid_to` =
    * start of the NEXT run (null on the open, current run).
    *
    * The islands construction: a run boundary is `attr != lag(attr)`; the
    * running sum of boundary flags numbers the islands; one groupBy
    * collapses each island; a second window attaches the successor's start.
    * Both windows partition by the key and the island agg is a plain
    * hash aggregate — nothing global, per-key group size is that key's
    * event count, so the op scales horizontally over user_id exactly like
    * [[conversionFunnel]]. Ties in ts break on event_id (unique), making
    * the compaction deterministic under any partitioning.
    *
    * Training-data use: entity-state history tables (user plan, document
    * license, crawl status) distilled from append-only logs — the "latest
    * consistent snapshot + full history" input that incremental curation
    * (license filtering, takedown audits) joins against. */
  /** Incremental SCD-2 merge: combine a compacted interval history `prev`
    * with the compaction `next` of a LATER event slice (every event in
    * `next` is at or after every `prev` event of the same user — the
    * ts-sliced replay/ingest guarantee). Closed intervals are immutable;
    * per user only the open run interacts with the slice's FIRST run:
    * same attribute → the runs merge (counts add, the open start is
    * kept); different → the open run closes at the first run's start.
    * Exactly the streaming twin's transition ([[graft.streaming
    * .TransformWithStateOps.streamingScdIntervals]]) expressed as
    * DataFrame joins, so nightly incremental compaction and the
    * continuous pipeline produce identical histories. All joins key on
    * user_id; per-cycle cost is the SLICE's compaction plus one
    * open-run-sized full-outer join — never the history size. */
  def mergeScdIntervals(prev: DataFrame, next: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("valid_from"))
    val closedPrev = prev.where(col("valid_to").isNotNull)
    val openPrev = prev.where(col("valid_to").isNull)
      .select(col("user_id"), col("event_type").as("o_type"),
        col("valid_from").as("o_from"), col("n_events").as("o_n"))
    val ranked = next.withColumn("rn", row_number().over(w))
    val first = ranked.where(col("rn") === 1).drop("rn")
    val rest = ranked.where(col("rn") > 1).drop("rn")
    val fj = first.join(openPrev, Seq("user_id"), "full_outer")
    val outCols = Seq(col("user_id"), col("event_type"), col("valid_from"),
      col("valid_to"), col("n_events"), col("is_current"))
    val oOnly = fj.where(col("event_type").isNull)
      .select(col("user_id"), col("o_type").as("event_type"),
        col("o_from").as("valid_from"), lit(null).cast("long").as("valid_to"),
        col("o_n").as("n_events"), lit(true).as("is_current"))
    val fOnly = fj.where(col("o_type").isNull).select(outCols: _*)
    val same = fj.where(col("o_type").isNotNull && col("event_type") === col("o_type"))
      .select(col("user_id"), col("event_type"), col("o_from").as("valid_from"),
        col("valid_to"), (col("o_n") + col("n_events")).as("n_events"),
        col("is_current"))
    val diff = fj.where(col("o_type").isNotNull && col("event_type").isNotNull &&
      col("event_type") =!= col("o_type"))
    val diffClosed = diff
      .select(col("user_id"), col("o_type").as("event_type"),
        col("o_from").as("valid_from"), col("valid_from").as("valid_to"),
        col("o_n").as("n_events"), lit(false).as("is_current"))
    val diffNew = diff.select(outCols: _*)
    closedPrev.unionByName(oOnly).unionByName(fOnly).unionByName(same)
      .unionByName(diffClosed).unionByName(diffNew).unionByName(rest)
  }

  def scdIntervals(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val flagged = events
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(w).isNull ||
          lag(col("event_type"), 1).over(w) =!= col("event_type"), 1L).otherwise(0L))
      .withColumn("island", sum(col("chg")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val runs = flagged.groupBy(col("user_id"), col("island"))
      .agg(first(col("event_type")).as("event_type"),
        min(col("ts")).as("valid_from"),
        count(lit(1)).as("n_events"))
    val wi = Window.partitionBy(col("user_id")).orderBy(col("island"))
    runs
      .withColumn("valid_to", lead(col("valid_from"), 1).over(wi))
      .select(col("user_id"), col("event_type"), col("valid_from"),
        col("valid_to"), col("n_events"), col("valid_to").isNull.as("is_current"))
  }

  /** Point-in-time state snapshots from the SCD-2 history — the feature-
    * store "time travel" materialization: for every (user, week boundary
    * present in the data), the user's state as of that instant, derived
    * by an as-of backward join of the snapshot grid against
    * [[scdIntervals]]' valid_from axis (contiguous intervals make
    * "latest valid_from <= t" exactly "the interval containing t").
    * Users with no state yet at a boundary are absent (ASOF inner
    * semantics). The PIT-correctness discipline: training features must
    * join state AS OF the label's time, never current state.
    *
    * Scale shape: the grid is distinct-users × distinct-week-boundaries
    * (both rollups, never event-sized beyond their aggs); the as-of join
    * is [[graft.operators.AsofJoin]]'s union-window plan — one
    * (user)-keyed sort window, no per-row probes. */
  def scdSnapshots(events: DataFrame, weekNs: Long = 604800000000000L): DataFrame = {
    val iv = scdIntervals(events)
      .select(col("user_id"), col("valid_from").as("ts"), col("event_type"))
    val snaps = events.select(expr(s"(ts div ${weekNs}L) * ${weekNs}L").as("ts")).distinct()
    val grid = events.select(col("user_id")).distinct().crossJoin(snaps)
    graft.operators.AsofJoin
      .asofJoin(grid, iv, "user_id", "ts", "event_type", "event_type")
      .where(col("asof_event_type").isNotNull)
      .select(col("user_id"), col("ts").as("snap_ts"),
        col("asof_event_type").as("state"))
  }

  /** Integer EWMA rate baseline + burst flags per event type, week
    * grain: s_t = (3·s_{t−1} + n_t) div 4 (rational alpha = 1/4, pure
    * integer floor — engine-exact, unlike float EWMA whose accumulation
    * order drifts), seeded s_1 = n_1; week t flags when
    * n_t > factor·s_{t−1} (no baseline — no flag on the first week).
    * The temporal-smoothing complement to [[hourlyBursts]]' trailing
    * window: EWMA remembers the full history at O(1) state, which is
    * also exactly the streaming-state shape.
    *
    * Scale shape: one (type, week) partial-agg count, then the recursion
    * runs INSIDE a weeks-sized array per type (sort_array + one
    * interpreted aggregate() over a metadata-sized rollup — the
    * gridBins state-bound argument; the raw event stream never sees a
    * window). */
  def ewmaBursts(events: DataFrame, factor: Int,
      weekNs: Long = 604800000000000L): DataFrame = {
    require(factor >= 1, "factor >= 1")
    val counts = events
      .groupBy(col("event_type"), expr(s"ts div ${weekNs}L").as("wk"))
      .agg(count(lit(1)).as("n"))
    counts
      .groupBy(col("event_type"))
      .agg(sort_array(collect_list(struct(col("wk"), col("n")))).as("ws"))
      // prefix recursion via an array accumulator: each step appends
      // (wk, n, prev_s, s) with s = (3*prev_s + n) div 4, seed s = n
      .withColumn("rs", expr(
        """aggregate(ws,
          |  cast(array() as array<struct<wk:bigint,n:bigint,prev_s:bigint,s:bigint>>),
          |  (acc, x) -> concat(acc, array(named_struct(
          |    'wk', x.wk, 'n', x.n,
          |    'prev_s', if(size(acc) = 0, cast(null as bigint), element_at(acc, -1).s),
          |    's', if(size(acc) = 0, x.n,
          |            (3 * element_at(acc, -1).s + x.n) div 4)))))""".stripMargin))
      .select(col("event_type"), explode(col("rs")).as("r"))
      .select(col("event_type"), col("r.wk").as("wk"), col("r.n").as("n"),
        col("r.s").as("ewma"),
        coalesce(col("r.n") > col("r.prev_s") * factor, lit(false)).as("burst"))
  }

  /** Watermark-lateness audit: per event type, how far events arrive
    * behind the stream's running max event time (arrival order =
    * event_id, the ingest sequence) — the empirical basis for choosing a
    * streaming watermark delay: n_late_1h / n_late_1d count events a
    * 1-hour / 1-day watermark would drop, max_late_ns bounds the worst
    * straggler. Deterministic (event_id is a total arrival order).
    *
    * Scale shape: one running-max window per type over (event_id, ts)
    * longs (the q49 per-group sort shape; at 100 TB the arrival log is
    * already time-bucketed, so the window runs within buckets), then a
    * partial-agg rollup. */
  def latenessAudit(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .select(col("event_type"), col("event_id"), col("ts"))
      .withColumn("late", max(col("ts")).over(w) - col("ts"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("late") > 3600000000000L, 1L).otherwise(0L)).as("n_late_1h"),
        sum(when(col("late") > 86400000000000L, 1L).otherwise(0L)).as("n_late_1d"),
        max(col("late")).as("max_late_ns"))
  }

  /** Multi-window multi-burn SLO alerting (the Google SRE workbook
    * pattern): per hour, the `errType` share of events over a SHORT and a
    * LONG trailing window; an alert fires only when BOTH windows burn
    * above their thresholds — the short window gives fast detection, the
    * long window vetoes blips. All integer: share in ppm, burn rate in
    * centi-multiples of the ppm error budget
    * (burn_centi = share_ppm·100 div budgetPpm).
    *
    * Trailing RANGE windows over hour VALUES, so silent hours shorten the
    * denominator rather than padding it (same contract as
    * [[hourlyBursts]]); `tot` >= 1 at every emitted row by construction.
    * Shape: one hourly partial-agg rollup, then unpartitioned windows over
    * that ROLLUP only (hours-cardinality — the house global-window rule).
    * Scales. */
  def sloBurnRate(events: DataFrame, epochNs: Long, errType: String,
      budgetPpm: Long, shortW: Int, longW: Int,
      fastCenti: Long, slowCenti: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budgetPpm > 0 && shortW >= 1 && longW >= shortW)
    val hourly = events
      .select(expr(s"((ts - ${epochNs}L) - pmod(ts - ${epochNs}L, 3600000000000L))" +
          " div 3600000000000L").as("hr"),
        (col("event_type") === errType).cast("long").as("e"))
      .groupBy(col("hr"))
      .agg(sum(col("e")).as("err"), count(lit(1)).as("tot"))
    val ws = Window.orderBy(col("hr")).rangeBetween(-(shortW - 1), 0)
    val wl = Window.orderBy(col("hr")).rangeBetween(-(longW - 1), 0)
    hourly
      .withColumn("err_s", sum(col("err")).over(ws))
      .withColumn("tot_s", sum(col("tot")).over(ws))
      .withColumn("err_l", sum(col("err")).over(wl))
      .withColumn("tot_l", sum(col("tot")).over(wl))
      .withColumn("share_s_ppm", expr("(err_s * 1000000) div tot_s"))
      .withColumn("share_l_ppm", expr("(err_l * 1000000) div tot_l"))
      .withColumn("burn_s_centi", expr(s"(share_s_ppm * 100) div $budgetPpm"))
      .withColumn("burn_l_centi", expr(s"(share_l_ppm * 100) div $budgetPpm"))
      .withColumn("alert",
        col("burn_s_centi") >= fastCenti && col("burn_l_centi") >= slowCenti)
      .select(col("hr"), col("err"), col("tot"), col("share_s_ppm"),
        col("share_l_ppm"), col("burn_s_centi"), col("burn_l_centi"), col("alert"))
  }
}
