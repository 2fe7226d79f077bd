package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Dag
import graft.replay.SparkBatch
import graft.tables.TableOps
import QueryDef.tbl

/** Queries that run THROUGH the dataflow engine: data is split into
  * micro-batches, injected as dag cycles, accumulated in state nodes (as
  * DataFrames, so Spark does the heavy lifting per cycle), and the final
  * state is verified against a plain-SQL oracle over the same data. This
  * pins the engine's incremental semantics to the batch ground truth. */
object DagQueries {

  /** Incremental word count (the reference's flagship streaming example)
    * fed through dag cycles; final accumulated state must equal the global
    * batch word count. */
  private def dagWordCount(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val dag = new Dag
    val source = dag.sourceStream(SparkBatch(s.emptyDataFrame, 0), name = "docs")
    var countsDf: DataFrame = null
    val state = dag.state(source) { b: SparkBatch =>
      val batchCounts = b.df.select(explode(split(col("text"), " ")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("cnt"))
      countsDf =
        if (countsDf == null) batchCounts
        else countsDf.unionByName(batchCounts)
          .groupBy("word").agg(sum("cnt").as("cnt"))
      // checkpoint the lineage so state doesn't grow a union chain per cycle
      countsDf = countsDf.localCheckpoint(eager = true)
      countsDf
    }
    dag.sink("counts", state)

    val batches = 5
    for (k <- 0 until batches) {
      source.setStream(SparkBatch(docs.where(pmod(col("doc_id"), lit(batches)) === k), 1))
      dag.execute()
    }
    state.getValue.select(col("word"), col("cnt").cast("long").as("cnt")).orderBy("word")
  }

  /** Last-by-key upsert state fed through dag cycles (W4 as an incremental
    * pipeline); final state must equal the batch latest-row-per-key. */
  private def dagLastBy(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val events = tbl(s, dir, "events")
    val dag = new Dag
    val source = dag.sourceStream(SparkBatch(s.emptyDataFrame, 0), name = "events")
    var stateDf: DataFrame = null
    val state = dag.state(source) { b: SparkBatch =>
      val all = if (stateDf == null) b.df else stateDf.unionByName(b.df)
      stateDf = TableOps.lastByKeys(all, Seq("user_id"), Seq("ts", "event_id"))
        .localCheckpoint(eager = true)
      stateDf
    }
    dag.sink("latest", state)

    val batches = 4
    for (k <- 0 until batches) {
      source.setStream(SparkBatch(events.where(pmod(col("event_id"), lit(batches)) === k), 1))
      dag.execute()
    }
    state.getValue
      .select(col("user_id"), col("event_id").as("last_event_id"), col("event_type"), col("value"))
      .orderBy("user_id")
  }

  /** Per-user changed-value emissions through REPLAY CYCLES with NOTHING
    * materialized on the driver: the fact table streams through
    * [[graft.replay.V2ReplaySource]] (footer-stats cursor, lazy
    * slices), each cycle computes hour buckets + last-per-(user, hour) +
    * change-vs-held-state as Spark plans, and the held state itself is a
    * keyed DataFrame upserted per cycle (the reference's in-memory node
    * state, kept distributed). Must reproduce the SQL ground truth
    * (hourly-last + LAG != filter).
    *
    * Scale shape: cycle payloads are bounded time slices (the replay
    * cadence), the per-cycle work is two key-shuffles (hour aggregation,
    * state upsert), and state is one row per user — at 100 TB nothing here
    * depends on driver memory. The replay cadence is one week per cycle
    * with the hourly logic expressed WITHIN the cycle's plan (window over
    * hour buckets seeded by the held state), so cycle count stays O(weeks)
    * while semantics stay per-hour. */
  private def dagChanges(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import graft.replay._
    import org.apache.spark.sql.expressions.Window
    val HourNs = 3600L * 1000000000L
    val WeekNs = 7L * 24 * HourNs
    // V2ReplaySource: slices plan through the graft-replay connector — the
    // footer index is read once and every weekly cycle's planning is
    // in-memory row-group filtering with the ts bounds pushed into the scan.
    val eventsSource = new V2ReplaySource(s, s"$dir/events.parquet", "ts")
    // Cycle boundaries must be hour-aligned (so no hour bucket is split
    // across cycles) and the horizon must reach past the last event at the
    // weekly cadence (the driver advances in ceil-to-frequency steps — an
    // unaligned end would leave the tail slice unread).
    val start = ReplayDriver.ceil(eventsSource.minTimestamp, HourNs)
    val end = ReplayDriver.ceil(eventsSource.maxTimestamp, WeekNs)

    val dag = new Dag
    val source = dag.sourceStream(SparkBatch(s.emptyDataFrame, 0), name = "events")
    var stateDf: DataFrame = null // (user_id, held) — last hourly value per user
    var emittedDf: DataFrame = null // accumulated (user_id, bucket_end, value)
    val state = dag.state(source) { b: SparkBatch =>
      // hour bucket via integer division (ts exceeds double's exact range)
      val hourly = graft.tables.TableOps.lastByKeys(
        b.df.withColumn("bucket_end", expr(s"((ts - 1) div $HourNs + 1) * 3600")),
        Seq("user_id", "bucket_end"), Seq("ts", "event_id"))
        .select(col("user_id"), col("bucket_end"), col("value"))
      val withPrev = hourly.withColumn("prev_c",
        lag(col("value"), 1).over(Window.partitionBy(col("user_id")).orderBy(col("bucket_end"))))
      val seeded =
        if (stateDf == null) withPrev.withColumn("prev", col("prev_c"))
        else withPrev.join(stateDf, Seq("user_id"), "left_outer")
          .withColumn("prev", coalesce(col("prev_c"), col("held")))
      val emit = seeded
        .where(col("prev").isNull || col("value") =!= col("prev"))
        .select(col("user_id"), col("bucket_end"), col("value"))
      // upsert held state: this cycle's last hourly value wins per user
      val cycleLast = graft.tables.TableOps.lastByKeys(hourly, Seq("user_id"), Seq("bucket_end"))
        .select(col("user_id"), col("value").as("held"))
      stateDf =
        (if (stateDf == null) cycleLast
         else stateDf.withColumnRenamed("held", "held_old")
           .join(cycleLast, Seq("user_id"), "full_outer")
           .select(col("user_id"), coalesce(col("held"), col("held_old")).as("held")))
          .localCheckpoint(eager = true)
      // No checkpoint for emissions: the union chain is one level per cycle
      // (bounded by the weekly cadence) and each level pins only a
      // checkpointed state + a parquet slice — one final job computes it all.
      emittedDf = if (emittedDf == null) emit else emittedDf.unionByName(emit)
      emittedDf
    }
    dag.sink("changes", state)

    val driver = ReplayDriver.create(
      dag,
      ReplayContext(start, end, WeekNs),
      Map("events" -> (_ => eventsSource)),
      Map("changes" -> (_ => new ListDataSink[Any])))
    driver.run()

    state.getValue.orderBy(col("user_id"), col("bucket_end"))
  }

  /** The curation pipeline run INCREMENTALLY through dag cycles: each cycle
    * quality-gates its batch, dedups within the batch (min doc_id per text
    * fingerprint), anti-joins the fingerprints against the kept state, and
    * upserts survivors. Batches ascend by doc_id, so greedy first-seen
    * survivorship equals the global min-id-per-fingerprint rule — the final
    * state is ORDER-INDEPENDENT and verifiable against one batch SQL oracle
    * (the q35/q36 pattern applied to the §2.4 curation stack).
    *
    * Scale shape: per-cycle work is one fingerprint aggregate + one
    * fingerprint anti-join; state is one row per kept doc, distributed,
    * checkpointed per cycle — nothing driver-side but cycle orchestration. */
  private def dagCuration(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import graft.ext.TextAnalysis
    val docs = tbl(s, dir, "documents")
    val dag = new Dag
    val source = dag.sourceStream(SparkBatch(s.emptyDataFrame, 0), name = "docs")
    var stateDf: DataFrame = null // (fp, doc_id) kept survivors
    val state = dag.state(source) { b: SparkBatch =>
      val passed = b.df
        .where(TextAnalysis.stopwordRatio(col("text")) >= 0.05 &&
          TextAnalysis.qualityScore(col("text"), TextAnalysis.tokenCount(col("text"))) >= 0.5)
        .select(md5(col("text")).as("fp"), col("doc_id"))
      val batchKept = passed.groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
      val newKept =
        if (stateDf == null) batchKept
        else batchKept.join(stateDf.select(col("fp")), Seq("fp"), "left_anti")
      stateDf = (if (stateDf == null) newKept else stateDf.unionByName(newKept))
        .localCheckpoint(eager = true)
      stateDf
    }
    dag.sink("kept", state)

    val batches = 5
    val maxId = docs.agg(max(col("doc_id"))).collect()(0).getLong(0)
    val span = maxId / batches + 1
    for (k <- 0 until batches) { // ascending ranges: greedy == global min-id
      source.setStream(SparkBatch(
        docs.where(col("doc_id") >= k * span && col("doc_id") < (k + 1) * span), 1))
      dag.execute()
    }
    state.getValue.select(col("doc_id"), col("fp")).orderBy(col("doc_id"))
  }

  /** SCD-2 history build as INCREMENTAL view maintenance through dag
    * cycles: each cycle compacts one bounded ts slice
    * ([[graft.ext.EventFunnel.scdIntervals]]) and merges it into the held
    * interval state ([[graft.ext.EventFunnel.mergeScdIntervals]] — the
    * streaming twin's transition as DataFrame joins). Four 180-hour
    * slices cover the corpus; the final state must equal the one-shot
    * batch compaction (q140's oracle re-used verbatim). Per-cycle cost is
    * slice-sized + an open-runs join — never the accumulated history. */
  private def dagScd(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val events = tbl(s, dir, "events")
    val dag = new Dag
    val source = dag.sourceStream(SparkBatch(s.emptyDataFrame, 0), name = "events")
    var stateDf: DataFrame = null
    val state = dag.state(source) { b: SparkBatch =>
      val sliceRuns = graft.ext.EventFunnel.scdIntervals(b.df)
      stateDf = (if (stateDf == null) sliceRuns
        else graft.ext.EventFunnel.mergeScdIntervals(stateDf, sliceRuns))
        .localCheckpoint(eager = true)
      stateDf
    }
    dag.sink("history", state)
    val hr = expr("(ts - 1704067200000000000L) div 3600000000000L")
    // derive the 4 slice bounds from the actual hour span (scalar min/max
    // agg — two longs to the driver) so a corpus outside [0, 720h) is
    // still fully covered instead of silently excluded
    val bounds = events.agg(min(hr).as("lo"), max(hr).as("hi")).head
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val width = math.max(1L, (hi - lo) / 4 + 1)
    for (k <- 0 until 4) {
      source.setStream(SparkBatch(
        events.where(hr >= lo + k * width && hr < lo + (k + 1) * width), 1))
      dag.execute()
    }
    state.getValue.orderBy(col("user_id"), col("valid_from"))
  }

  /** Incremental dataset card (q214's shape minus the dup column, which
    * this corpus makes degenerate) maintained through dag cycles: per
    * cycle the state node merges the slice's (source, lang) counters and
    * (source) token/char sums — pure decomposable aggregates, so the
    * held state is rollup-sized regardless of corpus size and the final
    * derivation (distinct langs, majority lang, ppm means) runs over
    * counters only. Must be bit-identical to the one-shot card. */
  private def dagCard(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val dag = new Dag
    val source = dag.sourceStream(SparkBatch(s.emptyDataFrame, 0), name = "docs")
    var counters: DataFrame = null // (source, lang, n_docs, n_tokens, n_chars)
    val state = dag.state(source) { b: SparkBatch =>
      val slice = b.df.groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"),
          sum(col("n_chars")).as("n_chars"))
      counters = (if (counters == null) slice
        else counters.unionByName(slice)
          .groupBy(col("source"), col("lang"))
          .agg(sum(col("n_docs")).as("n_docs"),
            sum(col("n_tokens")).as("n_tokens"), sum(col("n_chars")).as("n_chars")))
        .localCheckpoint(eager = true)
      counters
    }
    dag.sink("card", state)
    val bounds = docs.agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi")).head
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val width = math.max(1L, (hi - lo) / 4 + 1)
    for (k <- 0 until 4) {
      source.setStream(SparkBatch(
        docs.where(col("doc_id") >= lo + k * width &&
          col("doc_id") < lo + (k + 1) * width), 1))
      dag.execute()
    }
    val c = state.getValue
    val base = c.groupBy(col("source"))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"), count(lit(1)).as("n_langs"),
        min(struct((-col("n_docs")).as("nd"), col("lang").as("lang"))).as("t"))
    base.select(col("source"), col("n_docs"), col("n_tokens"), col("n_chars"),
        col("n_langs"), col("t.lang").as("top_lang"),
        expr("((-t.nd) * 1000000) div n_docs").as("top_lang_ppm"),
        expr("(n_tokens * 1000000) div n_docs").as("mean_tokens_ppm"))
      .orderBy(col("source"))
  }

  /** The q280 A/A experiment monitor maintained incrementally through dag
    * cycles — the evaluation family's third execution form (batch q280,
    * streaming `streamingAaTest`, and this): per-day two-arm contingency
    * counters merged per cycle, z² derived ONCE from the final state via
    * the same exact-rational select ([[graft.ext.Evaluation.withZ2Ppm]]).
    * Slices split by event_id range, deliberately NOT day-aligned, so
    * counter merges land mid-day. Must be indistinguishable from the
    * one-shot batch derivation. */
  private def dagAaTest(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val ev = tbl(s, dir, "events")
    val dag = new Dag
    val source = dag.sourceStream(SparkBatch(s.emptyDataFrame, 0), name = "events")
    var counters: DataFrame = null // (day, n1, c1, n2, c2)
    val state = dag.state(source) { b: SparkBatch =>
      val slice = b.df
        .select(expr("ts div 86400000000000").as("day"),
          pmod(graft.ext.Sampling.portableHash(col("user_id")), lit(2)).as("arm"),
          (col("event_type") === "purchase").cast("long").as("conv"))
        .groupBy("day")
        .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n1"),
          sum(when(col("arm") === 0, col("conv")).otherwise(0L)).as("c1"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n2"),
          sum(when(col("arm") === 1, col("conv")).otherwise(0L)).as("c2"))
      counters = (if (counters == null) slice
        else counters.unionByName(slice).groupBy("day")
          .agg(sum("n1").as("n1"), sum("c1").as("c1"),
            sum("n2").as("n2"), sum("c2").as("c2")))
        .localCheckpoint(eager = true)
      counters
    }
    dag.sink("aa", state)
    val bounds = ev.agg(min(col("event_id")).as("lo"), max(col("event_id")).as("hi")).head
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val width = math.max(1L, (hi - lo) / 4 + 1)
    for (k <- 0 until 4) {
      source.setStream(SparkBatch(
        ev.where(col("event_id") >= lo + k * width &&
          col("event_id") < lo + (k + 1) * width), 1))
      dag.execute()
    }
    graft.ext.Evaluation.withZ2Ppm(state.getValue).orderBy(col("day"))
  }

  val all: Seq[QueryDef] = Seq(
    QueryDef(
      "q35_dag_wordcount",
      dagWordCount,
      Some("""SELECT word, COUNT(*) AS cnt FROM (
             |SELECT unnest(string_split(text, ' ')) AS word FROM documents)
             |GROUP BY word ORDER BY word""".stripMargin),
    ),
    QueryDef(
      "q36_dag_lastby",
      dagLastBy,
      Some("""SELECT user_id, event_id AS last_event_id, event_type, value FROM (
             |SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
             |FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin),
    ),
    QueryDef(
      "q236_dag_card",
      dagCard,
      // one-shot derivation over the raw table: the 4-cycle incremental
      // counter merge must be indistinguishable from it
      Some("""WITH c AS (
             |  SELECT source, lang, COUNT(*) AS n_docs,
             |    CAST(SUM(len(string_split(text,' '))) AS BIGINT) AS n_tokens,
             |    CAST(SUM(n_chars) AS BIGINT) AS n_chars
             |  FROM documents GROUP BY 1, 2),
             |lt AS (
             |  SELECT source, lang AS top_lang, n_docs AS top_docs FROM (
             |    SELECT *, ROW_NUMBER() OVER (PARTITION BY source
             |      ORDER BY n_docs DESC, lang) AS rk FROM c)
             |  WHERE rk = 1),
             |b AS (
             |  SELECT source, CAST(SUM(n_docs) AS BIGINT) AS n_docs,
             |    CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
             |    CAST(SUM(n_chars) AS BIGINT) AS n_chars,
             |    CAST(COUNT(*) AS BIGINT) AS n_langs
             |  FROM c GROUP BY source)
             |SELECT b.source, b.n_docs, b.n_tokens, b.n_chars, b.n_langs,
             |  lt.top_lang,
             |  CAST((lt.top_docs * 1000000) // b.n_docs AS BIGINT) AS top_lang_ppm,
             |  CAST((b.n_tokens * 1000000) // b.n_docs AS BIGINT) AS mean_tokens_ppm
             |FROM b JOIN lt USING (source) ORDER BY b.source""".stripMargin),
    ),
    QueryDef(
      "q291_dag_aa_test",
      dagAaTest,
      // q280's one-shot oracle verbatim: the 4-cycle counter merge must be
      // indistinguishable from the batch derivation
      Some("""WITH e AS (
             |  SELECT epoch_ns(ts) // 86400000000000 AS day,
             |    CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)),1,15)) AS BIGINT) % 2 AS arm,
             |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
             |  FROM events),
             |g AS (SELECT day,
             |   CAST(SUM(CASE WHEN arm=0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             |   CAST(SUM(CASE WHEN arm=0 THEN conv ELSE 0 END) AS BIGINT) AS c1,
             |   CAST(SUM(CASE WHEN arm=1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             |   CAST(SUM(CASE WHEN arm=1 THEN conv ELSE 0 END) AS BIGINT) AS c2
             | FROM e GROUP BY day),
             |z AS (SELECT day, n1, c1, n2, c2,
             |  CASE WHEN (c1+c2) = 0 OR (c1+c2) = (n1+n2) OR n1 = 0 OR n2 = 0 THEN NULL
             |    ELSE CAST(CAST(n1+n2 AS HUGEINT)*(c1*n2 - c2*n1)*(c1*n2 - c2*n1)*1000000
             |         // (CAST(c1+c2 AS HUGEINT)*((n1+n2)-(c1+c2))*n1*n2) AS BIGINT)
             |    END AS z2_ppm
             | FROM g)
             |SELECT day, n1, c1, n2, c2, z2_ppm,
             |  COALESCE(z2_ppm > 4000000, FALSE) AS flagged
             |FROM z ORDER BY day""".stripMargin),
    ),
    QueryDef(
      "q160_dag_scd",
      dagScd,
      // q140's one-shot oracle verbatim: the incremental merge must be
      // indistinguishable from recompacting all history
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
             |r AS (
             |  SELECT user_id, island, MIN(event_type) AS event_type,
             |    MIN(ts) AS valid_from, COUNT(*) AS n_events
             |  FROM i GROUP BY user_id, island)
             |SELECT user_id, event_type, valid_from,
             |  lead(valid_from) OVER (PARTITION BY user_id ORDER BY island) AS valid_to,
             |  n_events,
             |  lead(valid_from) OVER (PARTITION BY user_id ORDER BY island) IS NULL AS is_current
             |FROM r ORDER BY user_id, valid_from""".stripMargin),
    ),
    QueryDef(
      "q88_dag_curation",
      dagCuration,
      Some(s"""WITH base AS (
              |  SELECT doc_id, text, string_split(text,' ') AS tokens,
              |    len(string_split(text,' ')) AS t, LENGTH(text) AS c
              |  FROM documents),
              |scored AS (
              |  SELECT doc_id, text,
              |    CAST(len(list_filter(tokens, w -> w IN (${graft.ext.TextAnalysis.EnStopwords.map(w => s"'$w'").mkString(",")}))) AS DOUBLE)/t AS sr,
              |    ROUND(LEAST(t/50.0,1.0)*0.4 +
              |      (CAST(len(list_filter(tokens, w -> w IN (${graft.ext.TextAnalysis.EnStopwords.map(w => s"'$w'").mkString(",")}))) AS DOUBLE)/t)*0.3 +
              |      CASE WHEN (c-(t-1))/CAST(t AS DOUBLE) BETWEEN 3 AND 8 THEN 0.3 ELSE 0.0 END, 6) AS quality
              |  FROM base),
              |filtered AS (SELECT doc_id, text FROM scored WHERE sr >= 0.05 AND quality >= 0.5)
              |SELECT doc_id, md5(text) AS fp FROM filtered
              |WHERE doc_id IN (SELECT MIN(doc_id) FROM filtered GROUP BY text)
              |ORDER BY doc_id""".stripMargin),
    ),

    QueryDef(
      "q39_dag_changes",
      dagChanges,
      Some("""WITH hourly AS (
             |  SELECT user_id,
             |    ((epoch_ns(ts) - 1) // 3600000000000 + 1) * 3600 AS bucket_end, value,
             |    ROW_NUMBER() OVER (
             |      PARTITION BY user_id, ((epoch_ns(ts) - 1) // 3600000000000 + 1) * 3600
             |      ORDER BY ts DESC, event_id DESC) AS rn
             |  FROM events),
             |seq AS (
             |  SELECT user_id, bucket_end, value,
             |    LAG(value) OVER (PARTITION BY user_id ORDER BY bucket_end) AS prev
             |  FROM hourly WHERE rn = 1)
             |SELECT user_id, bucket_end, value FROM seq
             |WHERE prev IS NULL OR value != prev
             |ORDER BY user_id, bucket_end""".stripMargin),
    ),
  )
}
