package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
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

  /** Runs `df` through a one-fold dag — one source, one
    * [[TableOps.foldState]] node, one sink — feeding one cycle per slice
    * predicate, in order, and returns the final held table. A slice goes in
    * with count 1: a non-empty mark that costs no Spark job (an empty slice
    * folds in as a no-op merge). */
  private def foldCycles(df: DataFrame, slices: Seq[Column], name: String)(
      seed: DataFrame => DataFrame)(merge: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val dag = new Dag
    val source = dag.sourceStream(SparkBatch(df.sparkSession.emptyDataFrame, 0), name = name)
    val state = TableOps.foldState(dag, source)(seed)(merge)
    dag.sink(name, state)
    for (p <- slices) { source.setStream(SparkBatch(df.where(p), 1)); dag.execute() }
    state.getValue
  }

  /** `n` slices by `key mod n`. */
  private def modSlices(key: String, n: Int): Seq[Column] =
    (0 until n).map(k => pmod(col(key), lit(n)) === k)

  /** `n` equal-width ranges of the long `key` over its actual [min, max]
    * (one scalar aggregate — two longs to the driver — so data outside any
    * assumed span is still covered), in ASCENDING order: `dagCuration`'s
    * greedy-equals-global argument relies on it. */
  private def rangeSlices(df: DataFrame, key: Column, n: Int): Seq[Column] = {
    val bounds = df.agg(min(key), max(key)).head()
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val width = math.max(1L, (hi - lo) / n + 1)
    (0 until n).map(k => key >= lo + k * width && key < lo + (k + 1) * width)
  }

  /** Incremental word count (the reference's flagship streaming example)
    * fed through dag cycles; final accumulated state must equal the global
    * batch word count. */
  private def dagWordCount(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val counts = (df: DataFrame) => df.select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    foldCycles(docs, modSlices("doc_id", 5), "counts")(counts) { (held, df) =>
      held.unionByName(counts(df)).groupBy("word").agg(sum("cnt").as("cnt"))
    }.select(col("word"), col("cnt").cast("long").as("cnt")).orderBy("word")
  }

  /** Last-by-key upsert state fed through dag cycles (W4 as an incremental
    * pipeline); final state must equal the batch latest-row-per-key. */
  private def dagLastBy(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val events = tbl(s, dir, "events")
    val last = (df: DataFrame) => TableOps.lastByKeys(df, Seq("user_id"), Seq("ts", "event_id"))
    foldCycles(events, modSlices("event_id", 4), "latest")(last)(
      (held, df) => last(held.unionByName(df)))
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
    // Not a TableOps.foldState node: the emissions join the held state as of
    // BEFORE this cycle's upsert, which a downstream node could not read.
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
    // (fp, doc_id): the batch's survivors, min doc_id per text fingerprint
    val batchKept = (df: DataFrame) => df
      .where(TextAnalysis.stopwordRatio(col("text")) >= 0.05 &&
        TextAnalysis.qualityScore(col("text"), TextAnalysis.tokenCount(col("text"))) >= 0.5)
      .select(md5(col("text")).as("fp"), col("doc_id"))
      .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
    // ascending ranges: greedy == global min-id
    foldCycles(docs, rangeSlices(docs, col("doc_id"), 5), "kept")(batchKept) { (held, df) =>
      held.unionByName(batchKept(df).join(held.select(col("fp")), Seq("fp"), "left_anti"))
    }.select(col("doc_id"), col("fp")).orderBy(col("doc_id"))
  }

  /** SCD-2 history build as INCREMENTAL view maintenance through dag
    * cycles: each cycle compacts one bounded ts slice
    * ([[graft.ext.EventFunnel.scdIntervals]]) and merges it into the held
    * interval state ([[graft.ext.EventFunnel.mergeScdIntervals]] — the
    * streaming twin's transition as DataFrame joins). Four 180-hour
    * slices cover the corpus; the final state must equal the one-shot
    * batch compaction (q140's oracle shared). Per-cycle cost is
    * slice-sized + an open-runs join — never the accumulated history. */
  private def dagScd(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import graft.ext.EventFunnel.{mergeScdIntervals, scdIntervals}
    val events = tbl(s, dir, "events")
    val hr = expr("(ts - 1704067200000000000L) div 3600000000000L")
    foldCycles(events, rangeSlices(events, hr, 4), "history")(scdIntervals)(
      (held, df) => mergeScdIntervals(held, scdIntervals(df)))
      .orderBy(col("user_id"), col("valid_from"))
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
    // (source, lang, n_docs, n_tokens, n_chars)
    val counters = (df: DataFrame) => df.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"))
    val c = foldCycles(docs, rangeSlices(docs, col("doc_id"), 4), "card")(counters) {
      (held, df) => held.unionByName(counters(df))
        .groupBy(col("source"), col("lang"))
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"), sum(col("n_chars")).as("n_chars"))
    }
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
    // (day, n1, c1, n2, c2)
    val counters = (df: DataFrame) => df
      .select(expr("ts div 86400000000000").as("day"),
        pmod(graft.ext.Sampling.portableHash(col("user_id")), lit(2)).as("arm"),
        (col("event_type") === "purchase").cast("long").as("conv"))
      .groupBy("day")
      .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n1"),
        sum(when(col("arm") === 0, col("conv")).otherwise(0L)).as("c1"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n2"),
        sum(when(col("arm") === 1, col("conv")).otherwise(0L)).as("c2"))
    val c = foldCycles(ev, rangeSlices(ev, col("event_id"), 4), "aa")(counters) {
      (held, df) => held.unionByName(counters(df)).groupBy("day")
        .agg(sum("n1").as("n1"), sum("c1").as("c1"), sum("n2").as("n2"), sum("c2").as("c2"))
    }
    graft.ext.Evaluation.withZ2Ppm(c).orderBy(col("day"))
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
      // q140's one-shot oracle: the incremental merge must be
      // indistinguishable from recompacting all history
      Some(graft.ext.OpsQueries.ScdIntervalsSql),
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
