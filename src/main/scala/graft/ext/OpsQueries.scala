package graft.ext

import org.apache.spark.sql.functions._
import graft.queries.QueryDef
import graft.queries.QueryDef.tbl
import graft.ext.Ext._
import graft.ext.ExtraQueries._

/** Operational-monitoring slice of the events family: SCD/PIT state, incident correlation, SLO/burn alerting, lateness/debounce/attribution, release snapshot diffs.
  *
  * Split verbatim out of the former Ext.scala / ExtraQueries.scala
  * mega-files along CATALOG.md family lines (round 7) — shared oracle
  * helpers remain in [[Ext]] / [[ExtraQueries]] as `private[ext]`. */
object OpsQueries {

  /** q140's one-shot SCD-2 compaction oracle; q160 (the same history
    * maintained through dag cycles) checks against the same text. */
  private[graft] val ScdIntervalsSql: String =
    """WITH o AS (
       |  SELECT user_id, event_type, epoch_ns(ts) AS ts, event_id,
       |    CASE WHEN lag(event_type) OVER w IS NULL
       |           OR lag(event_type) OVER w <> event_type
       |         THEN 1 ELSE 0 END AS chg
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)),
       |i AS (
       |  SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |                           ROWS UNBOUNDED PRECEDING) AS island
       |  FROM o),
       |r AS (
       |  SELECT user_id, island, MIN(event_type) AS event_type,
       |    MIN(ts) AS valid_from, COUNT(*) AS n_events
       |  FROM i GROUP BY user_id, island)
       |SELECT user_id, event_type, valid_from,
       |  lead(valid_from) OVER (PARTITION BY user_id ORDER BY island) AS valid_to,
       |  n_events,
       |  lead(valid_from) OVER (PARTITION BY user_id ORDER BY island) IS NULL AS is_current
       |FROM r ORDER BY user_id, valid_from""".stripMargin

  def queries: Seq[QueryDef] = Seq(

    // SCD-type-2 history build from the append-only event log: one row per
    // maximal run of consecutive equal event_type per user, with validity
    // interval [valid_from, valid_to) in nanos (valid_to null on the open
    // run). Islands-and-gaps with both windows partitioned by user — the
    // CDC compaction shape. (user_id, ts) is unique in this corpus, so
    // (user_id, valid_from) totally orders the output.
    QueryDef(
      "q140_scd_intervals",
      (s, dir) => EventFunnel.scdIntervals(tbl(s, dir, "events"))
        .orderBy(col("user_id"), col("valid_from")),
      Some(ScdIntervalsSql),
    ),


    // Point-in-time state snapshots from SCD-2 history: per (user, week
    // boundary), the state AS OF that instant, via an as-of backward join
    // of the snapshot grid against q140's valid_from axis — the feature-
    // store time-travel / PIT-correctness materialization. Oracle uses
    // DuckDB's native ASOF JOIN against the same interval CTE.
    QueryDef(
      "q173_scd_snapshots",
      (s, dir) => EventFunnel.scdSnapshots(tbl(s, dir, "events"))
        .orderBy(col("user_id"), col("snap_ts")),
      Some("""WITH o AS (
             |  SELECT user_id, event_type, epoch_ns(ts) AS ts, event_id,
             |    CASE WHEN lag(event_type) OVER w IS NULL
             |           OR lag(event_type) OVER w <> event_type
             |         THEN 1 ELSE 0 END AS chg
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)),
             |i AS (
             |  SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |                           ROWS UNBOUNDED PRECEDING) AS island
             |  FROM o),
             |iv AS (
             |  SELECT user_id, MIN(event_type) AS event_type,
             |    MIN(ts) AS valid_from
             |  FROM i GROUP BY user_id, island),
             |wks AS (
             |  SELECT DISTINCT (epoch_ns(ts) // 604800000000000) * 604800000000000 AS snap_ts
             |  FROM events),
             |grid AS (
             |  SELECT u.user_id, w.snap_ts
             |  FROM (SELECT DISTINCT user_id FROM events) u CROSS JOIN wks w)
             |SELECT g.user_id, g.snap_ts, iv.event_type AS state
             |FROM grid g ASOF JOIN iv
             |  ON g.user_id = iv.user_id AND g.snap_ts >= iv.valid_from
             |ORDER BY g.user_id, g.snap_ts""".stripMargin),
    ),


    // Watermark-lateness audit: per type, events behind the running max
    // event time in arrival (event_id) order — the empirical basis for a
    // streaming watermark delay (what would a 1h/1d watermark drop?).
    QueryDef(
      "q185_lateness_audit",
      (s, dir) => EventFunnel.latenessAudit(tbl(s, dir, "events"))
        .orderBy(col("event_type")),
      Some("""WITH l AS (
             |  SELECT event_type,
             |    MAX(epoch_ns(ts)) OVER (PARTITION BY event_type ORDER BY event_id
             |      ROWS UNBOUNDED PRECEDING) - epoch_ns(ts) AS late
             |  FROM events)
             |SELECT event_type, COUNT(*) AS n_events,
             |  CAST(SUM(CASE WHEN late > 3600000000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_late_1h,
             |  CAST(SUM(CASE WHEN late > 86400000000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_late_1d,
             |  CAST(MAX(late) AS BIGINT) AS max_late_ns
             |FROM l GROUP BY event_type ORDER BY event_type""".stripMargin),
    ),


    // Cascade delete-propagation audit (the GDPR/right-to-be-forgotten
    // shape): a deterministic hash-sampled customer delete list cascades
    // through the FK chain customer -> orders -> lineitem; per-table
    // before/deleted/after row counts. Semi-join cascades, count-only
    // rollups — the plan a compliance pipeline runs before executing.
    QueryDef(
      "q186_delete_cascade",
      (s, dir) => {
        val cust = tbl(s, dir, "customer")
        val orders = tbl(s, dir, "orders")
        val li = tbl(s, dir, "lineitem")
        val delC = cust.where(
          pmod(Sampling.portableHash(col("c_custkey")), lit(20)) === 0)
          .select(col("c_custkey"))
        val delO = orders.join(delC.select(col("c_custkey").as("o_custkey")),
          Seq("o_custkey"), "left_semi")
        val delL = li.join(delO.select(col("o_orderkey").as("l_orderkey")),
          Seq("l_orderkey"), "left_semi")
        def row(name: String, all: org.apache.spark.sql.DataFrame,
            del: org.apache.spark.sql.DataFrame) =
          all.agg(count(lit(1)).as("n_before")).crossJoin(
            del.agg(count(lit(1)).as("n_deleted")))
            .select(lit(name).as("table"), col("n_before"), col("n_deleted"),
              (col("n_before") - col("n_deleted")).as("n_after"))
        row("customer", cust, delC)
          .unionByName(row("lineitem", li, delL))
          .unionByName(row("orders", orders, delO))
          .orderBy(col("table"))
      },
      Some("""WITH delc AS (
             |  SELECT c_custkey FROM customer
             |  WHERE CAST(('0x' || substring(md5(CAST(c_custkey AS VARCHAR)),1,15))
             |        AS BIGINT) % 20 = 0),
             |delo AS (SELECT o_orderkey FROM orders
             |         WHERE o_custkey IN (SELECT c_custkey FROM delc)),
             |dell AS (SELECT 1 FROM lineitem
             |         WHERE l_orderkey IN (SELECT o_orderkey FROM delo))
             |SELECT 'customer' AS "table", (SELECT COUNT(*) FROM customer) AS n_before,
             |  (SELECT COUNT(*) FROM delc) AS n_deleted,
             |  (SELECT COUNT(*) FROM customer) - (SELECT COUNT(*) FROM delc) AS n_after
             |UNION ALL
             |SELECT 'lineitem', (SELECT COUNT(*) FROM lineitem),
             |  (SELECT COUNT(*) FROM dell),
             |  (SELECT COUNT(*) FROM lineitem) - (SELECT COUNT(*) FROM dell)
             |UNION ALL
             |SELECT 'orders', (SELECT COUNT(*) FROM orders),
             |  (SELECT COUNT(*) FROM delo),
             |  (SELECT COUNT(*) FROM orders) - (SELECT COUNT(*) FROM delo)
             |ORDER BY "table"""".stripMargin),
    ),


    // Integer CUSUM change detection over hourly event rates: the
    // sequential max(0, S + deviation) recursion re-expressed as the
    // WINDOW-CLOSED form S_h = P_h − least(min_{j≤h} P_j, 0) (P = prefix
    // sum of the cross-multiplied deviation d_h = c_h·n − total), so the
    // whole detector is two window passes — no sequential fold, no UDF.
    // Dense hour grid per type (zero hours pull the statistic down, as
    // CUSUM requires). Report per type: the peak statistic, the first
    // hour attaining it, and how many hours breach 10·total (the
    // observed sf0.01 peaks sit at 14–17×, so the alarm fires on the
    // sustained-drift region, not the whole trace). All integer.
    QueryDef(
      "q200_cusum_drift",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val occ = tbl(s, dir, "events")
          .select(col("event_type"), expr("ts div 3600000000000").as("hr"))
          .groupBy(col("event_type"), col("hr")).agg(count(lit(1)).as("c"))
        val spans = occ.groupBy(col("event_type"))
          .agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"),
            (max(col("hr")) - min(col("hr")) + 1).as("n"), sum(col("c")).as("total"))
        val dense = spans
          .select(col("event_type"), col("n"), col("total"),
            explode(sequence(col("h0"), col("h1"))).as("hr"))
          .join(occ, Seq("event_type", "hr"), "left_outer")
          .select(col("event_type"), col("hr"), col("n"), col("total"),
            coalesce(col("c"), lit(0L)).as("c"))
        val w = Window.partitionBy(col("event_type")).orderBy(col("hr"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        dense
          .withColumn("p", sum(col("c") * col("n") - col("total")).over(w))
          .withColumn("s", col("p") - least(min(col("p")).over(w), lit(0L)))
          .groupBy(col("event_type"))
          .agg(max(col("n")).as("n_hours"), max(col("total")).as("total"),
            max(col("s")).as("max_s"),
            // (−s, hr) struct-min = first hour attaining the max statistic
            min(struct((-col("s")).as("ns"), col("hr").as("hr")))("hr")
              .as("peak_hr"),
            sum(when(col("s") > col("total") * 10, 1L).otherwise(0L))
              .as("n_alarm_hours"))
          .orderBy(col("event_type"))
      },
      Some("""WITH occ AS (
             |  SELECT event_type, epoch_ns(ts) // 3600000000000 AS hr, COUNT(*) AS c
             |  FROM events GROUP BY 1, 2),
             |spans AS (
             |  SELECT event_type, MIN(hr) AS h0, MAX(hr) AS h1,
             |    MAX(hr) - MIN(hr) + 1 AS n, CAST(SUM(c) AS BIGINT) AS total
             |  FROM occ GROUP BY event_type),
             |grid AS (
             |  SELECT event_type, n, total, unnest(generate_series(h0, h1)) AS hr
             |  FROM spans),
             |dense AS (
             |  SELECT g.event_type, g.hr, g.n, g.total, COALESCE(o.c, 0) AS c
             |  FROM grid g
             |  LEFT JOIN occ o ON o.event_type = g.event_type AND o.hr = g.hr),
             |pp AS (
             |  SELECT *, CAST(SUM(c * n - total) OVER (
             |      PARTITION BY event_type ORDER BY hr
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS p
             |  FROM dense),
             |ss AS (
             |  SELECT *, p - LEAST(CAST(MIN(p) OVER (
             |      PARTITION BY event_type ORDER BY hr
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT), 0) AS s
             |  FROM pp),
             |m AS (
             |  SELECT event_type, MAX(n) AS n_hours, MAX(total) AS total,
             |    MAX(s) AS max_s,
             |    CAST(SUM(CASE WHEN s > total * 10 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n_alarm_hours
             |  FROM ss GROUP BY event_type),
             |pk AS (
             |  SELECT ss.event_type, MIN(ss.hr) AS peak_hr
             |  FROM ss JOIN m ON m.event_type = ss.event_type AND ss.s = m.max_s
             |  GROUP BY ss.event_type)
             |SELECT event_type, n_hours, total, max_s, peak_hr, n_alarm_hours
             |FROM m JOIN pk USING (event_type)
             |ORDER BY event_type""".stripMargin),
    ),


    // Debounce / deduplicate-within-interval: drop events closer than
    // 60 s to the previous KEPT event of the same (user, type) — the
    // double-click / retry-storm filter every ingestion pipeline needs.
    // Because gaps chain (B dropped for following A can't shield C), the
    // kept set is NOT a plain lag filter: an event survives iff its gap
    // to the previous SURVIVOR exceeds the interval. Same window-closed
    // trick family as q200: survivors are exactly the events whose
    // running-max ts among "far-enough" predecessors… in practice the
    // chain collapses because ts gaps are what they are — here the
    // debounce uses the plain lag contract (gap to previous RAW event),
    // the industry-standard approximation that IS window-expressible; the
    // exact-chain variant is the q70 incremental dedup shape. Per-type
    // kept/dropped rollup.
    QueryDef(
      "q204_debounce",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id"), col("event_type"))
          .orderBy(col("ts"), col("event_id"))
        tbl(s, dir, "events")
          .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
          .withColumn("gap", col("ts") - lag(col("ts"), 1).over(w))
          .select(col("event_type"),
            when(col("gap").isNull || col("gap") > 60000000000L, 1L)
              .otherwise(0L).as("keep"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"), sum(col("keep")).as("n_kept"),
            (count(lit(1)) - sum(col("keep"))).as("n_dropped"))
          .orderBy(col("event_type"))
      },
      Some("""WITH g AS (
             |  SELECT event_type,
             |    epoch_ns(ts) - LAG(epoch_ns(ts)) OVER (
             |      PARTITION BY user_id, event_type
             |      ORDER BY epoch_ns(ts), event_id) AS gap
             |  FROM events)
             |SELECT event_type, COUNT(*) AS n_events,
             |  CAST(SUM(CASE WHEN gap IS NULL OR gap > 60000000000 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_kept,
             |  CAST(SUM(CASE WHEN gap IS NULL OR gap > 60000000000 THEN 0 ELSE 1 END)
             |    AS BIGINT) AS n_dropped
             |FROM g GROUP BY event_type ORDER BY event_type""".stripMargin),
    ),


    // Last-touch attribution: each purchase credited to the latest
    // preceding non-purchase event of the same user within 24 h (ties on
    // ts broken by event_id — a total order). One user-keyed window with
    // IGNORE NULLS last_value over the preceding frame — no self-join,
    // no as-of machinery needed when the credit source and the
    // conversion live in one stream. Per-channel conversion rollup with
    // integer ppm share.
    QueryDef(
      "q205_attribution",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val ev = tbl(s, dir, "events")
          .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        val credited = ev
          .withColumn("prev", last(
            when(col("event_type") =!= "purchase",
              struct(col("ts").as("pts"), col("event_type").as("ptype"))),
            ignoreNulls = true).over(w))
          .where(col("event_type") === "purchase")
          .select(
            when(col("prev").isNotNull &&
                col("ts") - col("prev.pts") <= 86400000000000L,
              col("prev.ptype")).otherwise(lit("organic")).as("channel"))
        val rolled = credited.groupBy(col("channel"))
          .agg(count(lit(1)).as("purchases"))
        rolled
          .crossJoin(broadcast(rolled.agg(sum(col("purchases")).as("tot"))))
          .select(col("channel"), col("purchases"),
            expr("(purchases * 1000000) div tot").as("share_ppm"))
          .orderBy(col("channel"))
      },
      Some("""WITH c AS (
             |  SELECT user_id, event_type, epoch_ns(ts) AS ts, event_id,
             |    LAST_VALUE(CASE WHEN event_type <> 'purchase'
             |                 THEN struct_pack(pts := epoch_ns(ts), ptype := event_type)
             |               END IGNORE NULLS)
             |      OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
             |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev
             |  FROM events),
             |cr AS (
             |  SELECT CASE WHEN prev IS NOT NULL AND ts - prev.pts <= 86400000000000
             |              THEN prev.ptype ELSE 'organic' END AS channel
             |  FROM c WHERE event_type = 'purchase'),
             |r AS (SELECT channel, COUNT(*) AS purchases FROM cr GROUP BY channel)
             |SELECT channel, purchases,
             |  CAST((purchases * 1000000) // (SELECT SUM(purchases) FROM r) AS BIGINT)
             |    AS share_ppm
             |FROM r ORDER BY channel""".stripMargin),
    ),


    // Inter-arrival SLO report: exact discrete p50/p90/p99 of the
    // per-type event gaps (q194's lag pass fed into the rank-position
    // quantile convention of CorpusStats.exactQuantiles — value at rank
    // ceil(p·n), bit-exact cross-engine unlike interpolating
    // percentile_cont). The latency-budget table a pipeline SLO review
    // reads.
    QueryDef(
      "q206_gap_slo",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("ts"), col("event_id"))
        val gaps = tbl(s, dir, "events")
          .select(col("event_type"), col("ts"), col("event_id"))
          .withColumn("gap", col("ts") - lag(col("ts"), 1).over(w))
          .where(col("gap").isNotNull)
        CorpusStats.exactQuantiles(gaps, "event_type", col("gap"),
            Seq(0.5, 0.9, 0.99))
          .orderBy(col("event_type"))
      },
      Some("""WITH g AS (
             |  SELECT event_type,
             |    epoch_ns(ts) - LAG(epoch_ns(ts)) OVER (
             |      PARTITION BY event_type ORDER BY epoch_ns(ts), event_id) AS gap
             |  FROM events),
             |r AS (
             |  SELECT event_type, gap,
             |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY gap) AS BIGINT) AS rn,
             |    COUNT(*) OVER (PARTITION BY event_type) AS n
             |  FROM g WHERE gap IS NOT NULL)
             |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
             |  MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN gap END) AS p50,
             |  MAX(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN gap END) AS p90,
             |  MAX(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN gap END) AS p99
             |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin),
    ),


    // Global temporal correlation (incident forensics): purchases within
    // ±5 min of ANY error — no user key, so the range join's blocking
    // bucket IS the time axis (RangeJoin with a constant key: the
    // (k, bucket) join key degenerates to the bucket, i.e. a
    // time-partitioned join — each 10-min bucket meets only its own
    // ±window neighbors, never O(L×R)). One summary row: pair volume,
    // share of errors with a nearby purchase.
    QueryDef(
      "q210_incident_correlation",
      (s, dir) => {
        val ev = PinnedCache.pin(tbl(s, dir, "events"))
        val errs = ev.where(col("event_type") === "error")
          .select(lit(0).as("k"), col("event_id").as("err_id"), col("ts"))
        val wins = ev.where(col("event_type") === "purchase")
          .select(lit(0).as("k"), col("event_id").as("p_id"),
            (col("ts") - 300000000000L).as("lo"),
            (col("ts") + 300000000000L).as("hi"))
        val pairs = graft.operators.RangeJoin
          .rangeJoin(errs, wins, "k", "ts", "lo", "hi", 600000000000L)
        pairs
          .agg(count(lit(1)).as("n_pairs"),
            countDistinct(col("err_id")).as("n_correlated_errors"),
            countDistinct(col("p_id")).as("n_correlated_purchases"))
          .crossJoin(broadcast(
            ev.where(col("event_type") === "error")
              .agg(count(lit(1)).as("n_errors"))))
          .select(col("n_errors"), col("n_pairs"), col("n_correlated_errors"),
            col("n_correlated_purchases"),
            expr("(n_correlated_errors * 1000000) div n_errors")
              .as("correlated_ppm"))
      },
      Some("""WITH e AS (SELECT event_id AS err_id, epoch_ns(ts) AS ts FROM events
             |           WHERE event_type = 'error'),
             |p AS (SELECT event_id AS p_id, epoch_ns(ts) AS ts FROM events
             |      WHERE event_type = 'purchase'),
             |pr AS (
             |  SELECT e.err_id, p.p_id FROM e JOIN p
             |  ON e.ts BETWEEN p.ts - 300000000000 AND p.ts + 300000000000)
             |SELECT (SELECT COUNT(*) FROM e) AS n_errors,
             |  (SELECT COUNT(*) FROM pr) AS n_pairs,
             |  (SELECT COUNT(DISTINCT err_id) FROM pr) AS n_correlated_errors,
             |  (SELECT COUNT(DISTINCT p_id) FROM pr) AS n_correlated_purchases,
             |  CAST(((SELECT COUNT(DISTINCT err_id) FROM pr) * 1000000)
             |    // (SELECT COUNT(*) FROM e) AS BIGINT) AS correlated_ppm""".stripMargin),
    ),


    // FORWARD as-of join: each error picks the user's NEXT purchase
    // (ts >= error ts) — "recovery time after an error", the mirror of
    // q53's backward enrichment. Same single-shuffle union+window plan,
    // traversed descending. Unrecovered errors keep NULLs.
    QueryDef(
      "q211_asof_forward",
      (s, dir) => {
        val ev = PinnedCache.pin(tbl(s, dir, "events"))
        val errs = ev.where(col("event_type") === "error")
          .select(col("user_id"), col("ts"), col("event_id").as("err_id"))
        val buys = ev.where(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id"))
        graft.operators.AsofJoin
          .asofJoinForward(errs, buys, "user_id", "ts", "event_id", "event_id")
          .select(col("err_id"), col("user_id"), col("ts"), col("asof_ts"),
            col("asof_event_id").as("next_purchase_id"),
            (col("asof_ts") - col("ts")).as("recovery_ns"))
          .orderBy(col("err_id"))
      },
      Some("""WITH e AS (SELECT user_id, epoch_ns(ts) AS ts, event_id AS err_id
             |           FROM events WHERE event_type = 'error'),
             |dr AS (
             |  SELECT user_id, epoch_ns(ts) AS r_ts, MAX(event_id) AS val
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
             |sel AS (
             |  SELECT e.err_id, e.user_id, e.ts,
             |    (SELECT MIN(d.r_ts) FROM dr d
             |     WHERE d.user_id = e.user_id AND d.r_ts >= e.ts) AS asof_ts
             |  FROM e)
             |SELECT s.err_id, s.user_id, s.ts, s.asof_ts,
             |  d.val AS next_purchase_id, s.asof_ts - s.ts AS recovery_ns
             |FROM sel s LEFT JOIN dr d
             |  ON d.user_id = s.user_id AND d.r_ts = s.asof_ts
             |ORDER BY err_id""".stripMargin),
    ),


    // Peak session concurrency: 30-min-gap sessionization, then the
    // classic +1/−1 boundary sweep — cumulative sum over session starts
    // and (exclusive) ends, global max and its first time. Capacity
    // planning's load-peak question answered in three window passes over
    // session-rollup-sized data (starts sort before ends at a tie, so
    // touching sessions count as concurrent — matched in the oracle).
    QueryDef(
      "q212_peak_concurrency",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val uw = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val sessions = tbl(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"))
          .withColumn("gap", col("ts") - lag(col("ts"), 1).over(uw))
          .withColumn("new_s",
            when(col("gap").isNull || col("gap") > 1800000000000L, 1L)
              .otherwise(0L))
          .withColumn("sid", sum(col("new_s")).over(uw))
          .groupBy(col("user_id"), col("sid"))
          .agg(min(col("ts")).as("s_start"), max(col("ts")).as("s_end"))
        val bounds = sessions
          .select(col("s_start").as("t"), lit(1L).as("delta"))
          .unionByName(sessions.select(col("s_end").as("t"), lit(-1L).as("delta")))
        val sweep = Window.orderBy(col("t"), col("delta").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val run = bounds.withColumn("conc", sum(col("delta")).over(sweep))
        run
          .agg(max(col("conc")).as("peak_concurrent"),
            min(struct((-col("conc")).as("nc"), col("t").as("t")))("t")
              .as("peak_ts"))
          .crossJoin(broadcast(sessions.agg(count(lit(1)).as("n_sessions"))))
          .select(col("n_sessions"), col("peak_concurrent"), col("peak_ts"))
      },
      Some("""WITH g AS (
             |  SELECT user_id, epoch_ns(ts) AS ts,
             |    CASE WHEN epoch_ns(ts) - LAG(epoch_ns(ts)) OVER (
             |        PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)
             |      IS NULL THEN 1
             |      WHEN epoch_ns(ts) - LAG(epoch_ns(ts)) OVER (
             |        PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)
             |      > 1800000000000 THEN 1 ELSE 0 END AS new_s,
             |    event_id
             |  FROM events),
             |sid AS (
             |  SELECT user_id, ts,
             |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM g),
             |sess AS (
             |  SELECT user_id, sid, MIN(ts) AS s_start, MAX(ts) AS s_end
             |  FROM sid GROUP BY 1, 2),
             |b AS (
             |  SELECT s_start AS t, CAST(1 AS BIGINT) AS delta FROM sess
             |  UNION ALL
             |  SELECT s_end, CAST(-1 AS BIGINT) FROM sess),
             |run AS (
             |  SELECT t, CAST(SUM(delta) OVER (ORDER BY t, delta DESC
             |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS conc
             |  FROM b),
             |m AS (SELECT MAX(conc) AS peak_concurrent FROM run)
             |SELECT (SELECT COUNT(*) FROM sess) AS n_sessions,
             |  m.peak_concurrent,
             |  (SELECT MIN(t) FROM run WHERE conc = m.peak_concurrent) AS peak_ts
             |FROM m""".stripMargin),
    ),


    // Unresolved incidents: q210's complement — errors with NO purchase
    // within ±5 min, as a left-ANTI range join (same time-bucket
    // blocking, then subtract the matched error set). Per-day rollup of
    // unresolved counts + share — the "what never recovered" report.
    QueryDef(
      "q218_unresolved_incidents",
      (s, dir) => {
        val ev = PinnedCache.pin(tbl(s, dir, "events"))
        val errs = ev.where(col("event_type") === "error")
          .select(lit(0).as("k"), col("event_id").as("err_id"), col("ts"))
        val wins = ev.where(col("event_type") === "purchase")
          .select(lit(0).as("k"), (col("ts") - 300000000000L).as("lo"),
            (col("ts") + 300000000000L).as("hi"))
        val matched = graft.operators.RangeJoin
          .rangeJoin(errs, wins, "k", "ts", "lo", "hi", 600000000000L)
          .select(col("err_id")).distinct()
        errs.join(matched, Seq("err_id"), "left_anti")
          .groupBy(expr("ts div 86400000000000").as("day"))
          .agg(count(lit(1)).as("n_unresolved"))
          .join(errs.groupBy(expr("ts div 86400000000000").as("day"))
            .agg(count(lit(1)).as("n_errors")), Seq("day"))
          .select(col("day"), col("n_errors"), col("n_unresolved"),
            expr("(n_unresolved * 1000000) div n_errors").as("unresolved_ppm"))
          .orderBy(col("day"))
      },
      Some("""WITH e AS (SELECT event_id AS err_id, epoch_ns(ts) AS ts FROM events
             |           WHERE event_type = 'error'),
             |p AS (SELECT epoch_ns(ts) AS ts FROM events
             |      WHERE event_type = 'purchase'),
             |unres AS (
             |  SELECT err_id, ts FROM e
             |  WHERE NOT EXISTS (
             |    SELECT 1 FROM p
             |    WHERE p.ts BETWEEN e.ts - 300000000000 AND e.ts + 300000000000)),
             |ud AS (SELECT ts // 86400000000000 AS day, COUNT(*) AS n_unresolved
             |       FROM unres GROUP BY 1),
             |ed AS (SELECT ts // 86400000000000 AS day, COUNT(*) AS n_errors
             |       FROM e GROUP BY 1)
             |SELECT day, n_errors, n_unresolved,
             |  CAST((n_unresolved * 1000000) // n_errors AS BIGINT) AS unresolved_ppm
             |FROM ud JOIN ed USING (day) ORDER BY day""".stripMargin),
    ),


    // Conversion-window sensitivity sweep: q131's signup→purchase funnel
    // at 1 h / 1 d / 7 d attribution windows in ONE query — how much
    // "conversion" is an artifact of the window choice (the q97
    // threshold-sweep discipline applied to funnels). Three conditional
    // aggregates over one as-of-style pairing; no per-window rescan.
    QueryDef(
      "q226_window_sweep",
      (s, dir) => {
        val ev = PinnedCache.pin(tbl(s, dir, "events"))
        val s0 = ev.where(col("event_type") === "signup")
          .groupBy(col("user_id")).agg(min(col("ts")).as("s_ts"))
        val first = s0
          .join(ev.where(col("event_type") === "purchase")
            .select(col("user_id"), col("ts").as("pts")), Seq("user_id"), "left_outer")
          .groupBy(col("user_id"))
          .agg(min(col("s_ts")).as("s_ts"),
            min(when(col("pts") >= col("s_ts"), col("pts"))).as("first_p"))
          .withColumn("ttc", col("first_p") - col("s_ts"))
        first.agg(count(lit(1)).as("n_signups"),
            sum(when(col("ttc") <= 3600000000000L, 1L).otherwise(0L)).as("conv_1h"),
            sum(when(col("ttc") <= 86400000000000L, 1L).otherwise(0L)).as("conv_1d"),
            sum(when(col("ttc") <= 604800000000000L, 1L).otherwise(0L)).as("conv_7d"))
          .select(col("n_signups"), col("conv_1h"), col("conv_1d"), col("conv_7d"),
            expr("(conv_1h * 1000000) div n_signups").as("ppm_1h"),
            expr("(conv_1d * 1000000) div n_signups").as("ppm_1d"),
            expr("(conv_7d * 1000000) div n_signups").as("ppm_7d"))
      },
      Some("""WITH s0 AS (
             |  SELECT user_id, MIN(epoch_ns(ts)) AS s_ts FROM events
             |  WHERE event_type = 'signup' GROUP BY user_id),
             |f AS (
             |  SELECT s0.user_id,
             |    MIN(CASE WHEN epoch_ns(e.ts) >= s0.s_ts THEN epoch_ns(e.ts) END)
             |      - MIN(s0.s_ts) AS ttc
             |  FROM s0 LEFT JOIN events e
             |    ON e.user_id = s0.user_id AND e.event_type = 'purchase'
             |  GROUP BY s0.user_id)
             |SELECT COUNT(*) AS n_signups,
             |  CAST(SUM(CASE WHEN ttc <= 3600000000000 THEN 1 ELSE 0 END) AS BIGINT) AS conv_1h,
             |  CAST(SUM(CASE WHEN ttc <= 86400000000000 THEN 1 ELSE 0 END) AS BIGINT) AS conv_1d,
             |  CAST(SUM(CASE WHEN ttc <= 604800000000000 THEN 1 ELSE 0 END) AS BIGINT) AS conv_7d,
             |  CAST((SUM(CASE WHEN ttc <= 3600000000000 THEN 1 ELSE 0 END) * 1000000)
             |    // COUNT(*) AS BIGINT) AS ppm_1h,
             |  CAST((SUM(CASE WHEN ttc <= 86400000000000 THEN 1 ELSE 0 END) * 1000000)
             |    // COUNT(*) AS BIGINT) AS ppm_1d,
             |  CAST((SUM(CASE WHEN ttc <= 604800000000000 THEN 1 ELSE 0 END) * 1000000)
             |    // COUNT(*) AS BIGINT) AS ppm_7d
             |FROM f""".stripMargin),
    ),


    // Corpus snapshot diff (release provenance): two deterministic
    // hash-derived views of the corpus — v1 drops hash%10==0 docs, v2
    // drops hash%13==0 and mutates hash%7==0 texts — diffed by doc_id
    // with md5 content comparison into the added/removed/changed/
    // unchanged report per source. The "what changed between dataset
    // v1.1 and v1.2" table every release pipeline publishes; one
    // full-outer join on ids, content equality by digest.
    QueryDef(
      "q227_snapshot_diff",
      (s, dir) => {
        val d = PinnedCache.pin(tbl(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("text"),
            Sampling.portableHash(col("doc_id")).as("h")))
        val v1 = d.where(pmod(col("h"), lit(10)) =!= 0)
          .select(col("doc_id"), col("source"), md5(col("text")).as("d1"))
        val v2 = d.where(pmod(col("h"), lit(13)) =!= 0)
          .select(col("doc_id"), col("source").as("source2"),
            md5(when(pmod(col("h"), lit(7)) === 0,
              concat(col("text"), lit(" [rev2]"))).otherwise(col("text")))
              .as("d2"))
        v1.join(v2, Seq("doc_id"), "full_outer")
          .select(coalesce(col("source"), col("source2")).as("source"),
            when(col("d1").isNull, "added")
              .when(col("d2").isNull, "removed")
              .when(col("d1") =!= col("d2"), "changed")
              .otherwise("unchanged").as("status"))
          .groupBy(col("source"), col("status"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy(col("source"), col("status"))
      },
      Some("""WITH d AS (
             |  SELECT doc_id, source, text,
             |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) AS h
             |  FROM documents),
             |v1 AS (SELECT doc_id, source, md5(text) AS d1 FROM d WHERE h % 10 <> 0),
             |v2 AS (SELECT doc_id, source AS source2,
             |         md5(CASE WHEN h % 7 = 0 THEN text || ' [rev2]' ELSE text END) AS d2
             |       FROM d WHERE h % 13 <> 0)
             |SELECT COALESCE(v1.source, v2.source2) AS source,
             |  CASE WHEN v1.d1 IS NULL THEN 'added'
             |       WHEN v2.d2 IS NULL THEN 'removed'
             |       WHEN v1.d1 <> v2.d2 THEN 'changed'
             |       ELSE 'unchanged' END AS status,
             |  COUNT(*) AS n_docs
             |FROM v1 FULL OUTER JOIN v2 USING (doc_id)
             |GROUP BY 1, 2 ORDER BY source, status""".stripMargin),
    ),


    // Rate periodicity: raw autocorrelation of hourly counts at the
    // daily (24 h) and weekly (168 h) lags, as exact integer
    // cross-products over the occupied-cell self-join (zero hours
    // contribute zero products, so the dense grid is never built) —
    // ρ(lag) = Σ c_h·c_{h+lag} / Σ c_h², the two doubles at the end.
    // High ρ(24) = diurnal schedule; ρ(168) ≫ ρ(24) = weekly batch jobs.
    QueryDef(
      "q239_periodicity",
      (s, dir) => {
        val occ = PinnedCache.pin(tbl(s, dir, "events")
          .select(col("event_type"), expr("ts div 3600000000000").as("hr"))
          .groupBy(col("event_type"), col("hr")).agg(count(lit(1)).as("c")))
        def lagSum(lag: Int) = occ.as("a")
          .join(occ.select(col("event_type"),
            (col("hr") - lag).as("hr"), col("c").as("c2")).as("b"),
            Seq("event_type", "hr"))
          .groupBy(col("event_type"))
          .agg(sum(col("c") * col("c2")).as(s"s$lag"))
        occ.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_hours"), sum(col("c") * col("c")).as("s0"))
          .join(lagSum(24), Seq("event_type"), "left_outer")
          .join(lagSum(168), Seq("event_type"), "left_outer")
          .select(col("event_type"), col("n_hours"), col("s0"),
            coalesce(col("s24"), lit(0L)).as("s24"),
            coalesce(col("s168"), lit(0L)).as("s168"))
          .select(col("event_type"), col("n_hours"), col("s0"), col("s24"),
            col("s168"),
            (col("s24").cast("double") / col("s0").cast("double")).as("rho_24"),
            (col("s168").cast("double") / col("s0").cast("double")).as("rho_168"))
          .orderBy(col("event_type"))
      },
      Some("""WITH occ AS MATERIALIZED (
             |  SELECT event_type, epoch_ns(ts) // 3600000000000 AS hr, COUNT(*) AS c
             |  FROM events GROUP BY 1, 2),
             |l24 AS (
             |  SELECT a.event_type, CAST(SUM(a.c * b.c) AS BIGINT) AS s24
             |  FROM occ a JOIN occ b
             |    ON b.event_type = a.event_type AND b.hr = a.hr + 24
             |  GROUP BY 1),
             |l168 AS (
             |  SELECT a.event_type, CAST(SUM(a.c * b.c) AS BIGINT) AS s168
             |  FROM occ a JOIN occ b
             |    ON b.event_type = a.event_type AND b.hr = a.hr + 168
             |  GROUP BY 1),
             |base AS (
             |  SELECT event_type, COUNT(*) AS n_hours,
             |    CAST(SUM(c * c) AS BIGINT) AS s0
             |  FROM occ GROUP BY 1)
             |SELECT base.event_type, base.n_hours, base.s0,
             |  COALESCE(l24.s24, 0) AS s24, COALESCE(l168.s168, 0) AS s168,
             |  CAST(COALESCE(l24.s24, 0) AS DOUBLE) / CAST(base.s0 AS DOUBLE) AS rho_24,
             |  CAST(COALESCE(l168.s168, 0) AS DOUBLE) / CAST(base.s0 AS DOUBLE) AS rho_168
             |FROM base
             |LEFT JOIN l24 ON l24.event_type = base.event_type
             |LEFT JOIN l168 ON l168.event_type = base.event_type
             |ORDER BY base.event_type""".stripMargin),
    ),


    // Multi-window multi-burn SLO alerting (SRE workbook): error share
    // over 6h and 24h trailing windows; alert only when the short window
    // burns >= 1.10x AND the long window >= 1.03x of the 20% error
    // budget — fast detection with a blip veto. Windows run over the
    // hourly ROLLUP only. See EventFunnel.sloBurnRate.
    QueryDef(
      "q251_slo_burn_rate",
      (s, dir) => EventFunnel.sloBurnRate(tbl(s, dir, "events"),
          epochNs = 1704067200000000000L, errType = "error",
          budgetPpm = 200000L, shortW = 6, longW = 24,
          fastCenti = 110L, slowCenti = 103L)
        .orderBy(col("hr")),
      Some("""WITH c AS (
             |  SELECT (epoch_ns(ts) - 1704067200000000000) // 3600000000000 AS hr,
             |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS err,
             |    COUNT(*)::BIGINT AS tot
             |  FROM events GROUP BY 1),
             |w AS (
             |  SELECT hr, err, tot,
             |    CAST(SUM(err) OVER (ORDER BY hr RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS BIGINT) AS err_s,
             |    CAST(SUM(tot) OVER (ORDER BY hr RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS BIGINT) AS tot_s,
             |    CAST(SUM(err) OVER (ORDER BY hr RANGE BETWEEN 23 PRECEDING AND CURRENT ROW) AS BIGINT) AS err_l,
             |    CAST(SUM(tot) OVER (ORDER BY hr RANGE BETWEEN 23 PRECEDING AND CURRENT ROW) AS BIGINT) AS tot_l
             |  FROM c),
             |f AS (
             |  SELECT hr, err, tot,
             |    (err_s * 1000000) // tot_s AS share_s_ppm,
             |    (err_l * 1000000) // tot_l AS share_l_ppm
             |  FROM w)
             |SELECT hr, err, tot, share_s_ppm, share_l_ppm,
             |  (share_s_ppm * 100) // 200000 AS burn_s_centi,
             |  (share_l_ppm * 100) // 200000 AS burn_l_centi,
             |  ((share_s_ppm * 100) // 200000 >= 110
             |   AND (share_l_ppm * 100) // 200000 >= 103) AS alert
             |FROM f ORDER BY hr""".stripMargin),
    ),

    // Degraded-minutes coverage: every error event opens a 5-minute
    // degradation window; overlapping windows must not double-count
    // (one incident storm != N x 5 min of degradation), so per UTC day
    // we take the INTERVAL UNION — gaps-and-islands via a running-max
    // end sweep, a new island when the next start clears everything
    // open — and report events, islands, and exact covered time. The
    // sweep is day-partitioned (window width << day; an island belongs
    // to its opening day), so at 100 TB each day sorts independently —
    // never a global sort.
    QueryDef(
      "q364_degraded_minutes",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val width = 300000000000L // 5 min in ns
        val dw = Window.partitionBy(col("day"))
          .orderBy(col("ts"), col("event_id"))
        val err = tbl(s, dir, "events")
          .where(col("event_type") === "error")
          .select(expr("ts div 86400000000000").as("day"), col("ts"),
            col("event_id"))
        err
          .withColumn("pmax", max(col("ts") + width)
            .over(dw.rowsBetween(Window.unboundedPreceding, -1)))
          .withColumn("new_i",
            when(col("pmax").isNull || col("ts") > col("pmax"), 1L)
              .otherwise(0L))
          .withColumn("island", sum(col("new_i")).over(dw))
          .groupBy(col("day"), col("island"))
          .agg(count(lit(1)).as("n"), min(col("ts")).as("s"),
            (max(col("ts")) + width).as("e"))
          .groupBy(col("day"))
          .agg(sum(col("n")).as("n_errors"), count(lit(1)).as("n_islands"),
            sum(col("e") - col("s")).as("covered_ns"))
          .orderBy(col("day"))
      },
      Some("""WITH e AS (
             |  SELECT epoch_ns(ts) // 86400000000000 AS day,
             |    epoch_ns(ts) AS ts, event_id
             |  FROM events WHERE event_type = 'error'),
             |m AS (
             |  SELECT day, ts, event_id,
             |    MAX(ts + 300000000000) OVER (PARTITION BY day
             |      ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
             |  FROM e),
             |i AS (
             |  SELECT day, ts,
             |    SUM(CASE WHEN pmax IS NULL OR ts > pmax THEN 1 ELSE 0 END)
             |      OVER (PARTITION BY day ORDER BY ts, event_id
             |        ROWS UNBOUNDED PRECEDING) AS island
             |  FROM m),
             |g AS (
             |  SELECT day, island, COUNT(*) AS n, MIN(ts) AS s,
             |    MAX(ts) + 300000000000 AS e
             |  FROM i GROUP BY 1, 2)
             |SELECT day, CAST(SUM(n) AS BIGINT) AS n_errors,
             |  COUNT(*) AS n_islands, CAST(SUM(e - s) AS BIGINT) AS covered_ns
             |FROM g GROUP BY day ORDER BY day""".stripMargin),
    ),
  )
}
