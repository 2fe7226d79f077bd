package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Tagged input row for [[Streaming.streamingAsofJoin]]: `side` 0 =
  * reference (quote), 1 = probe (trade). Top-level for Encoder derivation. */
final case class AsofEvent(k: Long, ts: Long, side: Int, id: Long, value: Double)

/** Held reference state per key: the latest (ts, value) seen. */
final case class AsofHeld(ts: Long, value: Double)

/** Probe row enriched with the prevailing reference value. */
final case class AsofMatch(id: Long, k: Long, ts: Long,
    asofTs: Option[Long], asofValue: Option[Double])

/** Per-key state for [[Streaming.streamingHourlyAnomalies]]: integer
  * moments over closed hours plus the open (hour, count). Top-level for
  * Encoder derivation. */
final case class AnomalyMoments(h: Long, s: Long, q: Long, openHr: Long, openN: Long)

object AnomalyMoments {
  /** Close the open hour: fold its count into the moments, then decide the
    * flag with the batch operator's integer cut and z formula. */
  def close(key: String, st: AnomalyMoments): (HourFlag, AnomalyMoments) = {
    val n = st.openN
    val h = st.h + 1; val s = st.s + n; val q = st.q + n * n
    val num = h * n - s
    val den = h * q - s * s
    val z = if (den == 0) 0.0 else num.toDouble / math.sqrt(den.toDouble)
    val flag = if (num * num > 4 * den) 1L else 0L
    (HourFlag(key, st.openHr, n, z, flag), AnomalyMoments(h, s, q, st.openHr, 0L))
  }
}

/** Closed-hour anomaly decision emitted by
  * [[Streaming.streamingHourlyAnomalies]]. */
final case class HourFlag(eventType: String, hr: Long, n: Long, z: Double, isAnomaly: Long)

/** Structured Streaming mappings for the engine's stateful operators
  * (SURVEY.md §2.1 E3/E7/W4): the production path when a query runs as one
  * continuous stream instead of driver-orchestrated cycles.
  *
  * Scale notes: all of these are keyed-state operators — state lives
  * partitioned by key in the state store (RocksDB at cluster scale), sized
  * by distinct keys, not input rows. Watermarks bound state for windowed
  * aggregations.
  */
object Streaming {

  /** Streaming last-by-key upsert (W4 as a continuous query): keeps the
    * row with the max ordering per key via `flatMapGroupsWithState` in
    * Update mode — emits only keys touched by the micro-batch, matching the
    * reference's update-propagation contract (only changed keys flow). */
  def streamingLastByKeys[T: Encoder, K: Encoder](
      ds: Dataset[T], keyOf: T => K, newerThan: (T, T) => Boolean): Dataset[T] =
    ds.groupByKey(keyOf)
      .flatMapGroupsWithState[T, T](OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (_: K, rows: Iterator[T], state: GroupState[T]) =>
          var current = state.getOption
          var changed = false
          rows.foreach { r =>
            if (current.forall(c => newerThan(r, c))) { current = Some(r); changed = true }
          }
          current.foreach(state.update)
          if (changed) current.iterator else Iterator.empty
      }

  /** Streaming running word/key count in Update mode — the reference's
    * flagship kafka example (`examples/kafka_concepts.py:12-31`): emits
    * (key, count) for keys touched this micro-batch only. */
  def runningCounts(words: DataFrame, keyCol: String): DataFrame =
    words.groupBy(col(keyCol)).count()

  /** Tumbling event-time window aggregation with a watermark bounding state
    * (replay `frequency` bucketing as a continuous query). */
  def windowedSum(events: DataFrame, tsCol: String, valueCol: String,
      window: String, lateness: String): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window))
      .agg(count(lit(1)).as("event_cnt"), sum(col(valueCol)).as("sum_value"))
      .select(col("window.start").as("bucket_start"), col("event_cnt"), col("sum_value"))

  /** Sliding event-time window aggregation (window + slide). */
  def slidingSum(events: DataFrame, tsCol: String, valueCol: String,
      window: String, slide: String, lateness: String): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window, slide))
      .agg(count(lit(1)).as("event_cnt"), sum(col(valueCol)).as("sum_value"))
      .select(col("window.start").as("bucket_start"), col("event_cnt"), col("sum_value"))

  /** Session windows with an inactivity gap — the built-in counterpart of
    * [[TransformWithStateOps.inactivitySessions]]. */
  def sessionCounts(events: DataFrame, tsCol: String, keyCol: String,
      gap: String, lateness: String): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("event_cnt"))
      .select(col(keyCol), col("session_window.start").as("session_start"), col("event_cnt"))

  /** Native stream-stream INTERVAL join — q210's incident correlation as
    * a continuous query: two event STREAMS joined on a ± time-range
    * condition, both sides watermarked so Spark bounds the buffered state
    * (each side retains only rows inside watermark + window; inner-join
    * matches emit as they arrive, the watermark only gates eviction).
    * This is the one streaming join shape the stream-static
    * ([[streamingIncrementalNearDups]]) and keyed-state as-of
    * ([[streamingAsofJoin]]) twins can't express: both sides unbounded,
    * correlation purely temporal. Columns must be TimestampType (the
    * engine's long-nanos convention truncates to micros at this
    * boundary — Spark's event-time machinery is microsecond-grained). */
  def streamingIntervalJoin(left: DataFrame, right: DataFrame,
      leftTs: String, rightTs: String, windowSec: Long,
      lateness: String): DataFrame = {
    require(windowSec >= 1, "window must be at least one second")
    // Spark requires an EQUALITY predicate in stream-stream joins — the
    // RangeJoin blocking trick supplies one: bucket width = the window,
    // the left row explodes into its bucket ± 1, the right row keeps its
    // single bucket, so every ±window pair meets in EXACTLY one bucket
    // (the right row's) and no dedup is needed. State stays bounded by
    // watermark + window per bucket; matches emit as they arrive.
    val wUs = windowSec * 1000000L
    val l = left
      .withColumn("_b0", expr(s"floor(unix_micros($leftTs) / ${wUs}L)"))
      .withColumn("_lb", explode(expr("array(_b0 - 1, _b0, _b0 + 1)")))
      .drop("_b0")
      .withWatermark(leftTs, lateness)
    val r = right
      .withColumn("_rb", expr(s"floor(unix_micros($rightTs) / ${wUs}L)"))
      .withWatermark(rightTs, lateness)
    // The range condition is expressed DIRECTLY on the watermarked
    // timestamp columns with interval arithmetic: Spark's
    // StreamingJoinHelper only derives state-eviction watermarks from
    // Cast/Add/Subtract/Multiply/TimestampAdd-shaped terms over watermarked
    // attributes — a `unix_micros(ts)` form is opaque to it, so with the
    // earlier encoding neither side's join state was ever evicted (output
    // correct, state unbounded). With `r.ts >= l.ts - W && r.ts <= l.ts + W`
    // both sides get a state watermark = input watermark − W and buffered
    // rows age out. StreamingSpec asserts numRowsTotal stabilizes.
    l.join(r,
        col("_lb") === col("_rb") &&
          col(rightTs) >= col(leftTs) - expr(s"INTERVAL $windowSec SECONDS") &&
          col(rightTs) <= col(leftTs) + expr(s"INTERVAL $windowSec SECONDS"))
      .drop("_lb", "_rb")
  }

  /** Per-key cutoff (E8 as a continuous operator): suppress records whose
    * value is unchanged vs the previous record for the key — changelog
    * suppression via keyed state. */
  def streamingCutoff[T: Encoder, K: Encoder, V](
      ds: Dataset[T], keyOf: T => K, valueOf: T => V): Dataset[T] =
    ds.groupByKey(keyOf)
      .flatMapGroupsWithState[T, T](OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (_: K, rows: Iterator[T], state: GroupState[T]) =>
          val out = Seq.newBuilder[T]
          var prev = state.getOption
          rows.foreach { r =>
            if (!prev.exists(p => valueOf(p) == valueOf(r))) { out += r; prev = Some(r) }
          }
          prev.foreach(state.update)
          out.result().iterator
      }

  /** Streaming exact dedup: first occurrence of each content fingerprint
    * passes, later duplicates are dropped — the continuous twin of
    * `ext.Dedup.exactDedupStats`' survivor selection. State = one entry per
    * distinct fingerprint, partitioned by the dedup key (RocksDB at
    * scale). Unbounded retention: use [[streamingDedupBounded]] when a
    * lateness horizon applies. */
  def streamingDedup(docs: DataFrame, textCol: String): DataFrame =
    docs.withColumn("fp", md5(col(textCol))).dropDuplicates("fp")

  /** Watermark-bounded streaming dedup: duplicates are only suppressed
    * within the lateness horizon, so state is dropped once the watermark
    * passes — the 100 TB-curation shape (state size is bounded by the
    * horizon, not the corpus). */
  def streamingDedupBounded(docs: DataFrame, textCol: String, tsCol: String,
      lateness: String): DataFrame =
    docs.withColumn("fp", md5(col(textCol)))
      .withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark("fp")

  /** Streaming curation filter: the ext quality/language scores are pure
    * Column expressions, so they run unchanged on a stream — map-only,
    * stateless, full codegen. */
  def streamingQualityFilter(docs: DataFrame, textCol: String,
      minQuality: Double): DataFrame = {
    val t = graft.ext.TextAnalysis
    docs.withColumn("quality",
        t.qualityScore(col(textCol), t.tokenCount(col(textCol))))
      .where(col("quality") >= minQuality)
  }

  /** Streaming AS-OF join — the continuous twin of
    * [[graft.operators.AsofJoin]]: each probe row is enriched with the
    * latest reference row at-or-before its timestamp for the key. Both
    * streams arrive unioned as tagged [[AsofEvent]]s; state per key is ONE
    * [[AsofHeld]] (the newest reference seen), so state size = distinct
    * keys, not history length.
    *
    * Within a micro-batch, rows are ordered by (ts, side, id) — reference
    * before probe at equal ts, so matches are inclusive like the batch
    * operator. ACROSS batches the operator is forward-looking: a reference
    * row arriving in a later batch than a probe it would have matched does
    * not retro-correct the already-emitted probe (the same contract as the
    * reference engine's lookup-join on keyed state,
    * `examples/etfs.py:124-131` — enrichment uses state as of processing
    * time). Out-of-ORDER reference rows are ignored if older than the held
    * one, keeping the held value monotone in ts; the deterministic batch
    * operator remains the replay/backfill semantics. */
  def streamingAsofJoin(in: Dataset[AsofEvent]): Dataset[AsofMatch] = {
    implicit val heldEnc: Encoder[AsofHeld] = Encoders.product[AsofHeld]
    implicit val outEnc: Encoder[AsofMatch] = Encoders.product[AsofMatch]
    implicit val keyEnc: Encoder[Long] = Encoders.scalaLong
    in.groupByKey(_.k)
      .flatMapGroupsWithState[AsofHeld, AsofMatch](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (k: Long, rows: Iterator[AsofEvent], state: GroupState[AsofHeld]) =>
          var held = state.getOption
          val out = Seq.newBuilder[AsofMatch]
          rows.toSeq.sortBy(r => (r.ts, r.side, r.id)).foreach { r =>
            if (r.side == 0) {
              if (held.forall(_.ts <= r.ts)) held = Some(AsofHeld(r.ts, r.value))
            } else {
              // held is always <= r.ts here for same-batch references
              // (sorted order); cross-batch held values may be newer — the
              // documented forward-looking contract matches only when the
              // held reference is not in the probe's future
              val m = held.filter(_.ts <= r.ts)
              out += AsofMatch(r.id, k, r.ts, m.map(_.ts), m.map(_.value))
            }
          }
          held.foreach(state.update)
          out.result().iterator
      }
  }

  /** STREAM-STATIC incremental near-dup: a stream of new documents checked
    * against a static, precomputed corpus index — the continuous twin of
    * `ext.Dedup.incrementalNearDups` (q70) and the nightly-ingest dedup
    * run as a continuous query.
    *
    * Every stream-side stage is map-only (hashed shingles, the codegen'd
    * `graft_minhash` signature, band-key explode), so it runs on an
    * unbounded stream without stateful aggregation; the corpus side is a
    * STATIC DataFrame joined per micro-batch (Spark's stream-static inner
    * join — at scale the corpus band-key table is a bucketed/broadcast
    * artifact the index build precomputes). `dropDuplicates` keeps one
    * emission per (new_id, corpus_id) across band collisions AND across
    * batches; its state is one entry per MATCHED pair (bounded by true-dup
    * volume, not stream length).
    *
    * @param newDocs streaming (idCol, textCol) documents
    * @param corpus  static corpus documents */
  def streamingIncrementalNearDups(newDocs: DataFrame, corpus: DataFrame,
      textCol: String, idCol: String, threshold: Double = 0.5,
      k: Int = 3): DataFrame = {
    import graft.ext.Dedup
    // STREAM side: sig + band explode in ONE projection chain, carrying
    // the shingle set through (joining the signature stream back to the
    // shingle stream would be a stream-stream self-join needing
    // watermarks). The band layout comes from Dedup.bandKeysExpr — the
    // same definition the batch operator uses, so the two cannot diverge.
    val newBands = Dedup.hashedShingleSets(newDocs, textCol, idCol, k)
      .withColumn("sig", expr("graft_minhash(s, 64)"))
      .select(col("doc_id").as("new_id"), col("s").as("sa"),
        explode(Dedup.bandKeysExpr(2, 64)).as("bk"))
    // STATIC side: band keys WITHOUT the shingle payload (the batch
    // operator's shape) — shingles join back per CANDIDATE after the band
    // join, so the dominant join input carries (corpus_id, bk) only
    // instead of duplicating each corpus doc's array 32x per band.
    // cached: the corpus side is re-evaluated EVERY micro-batch and feeds
    // two branches (band keys + the per-candidate shingle join) — without
    // the cache each batch tokenizes/hashes the whole static corpus twice.
    // Deliberately a bare .cache(), NOT PinnedCache: the blocks must live
    // as long as the query runs; release is stopping the stream.
    val shCorp = Dedup.hashedShingleSets(corpus, textCol, idCol, k).cache()
    val corpBands = Dedup.bandKeys(Dedup.minhashSignatures(shCorp), 2, 64)
      .select(col("doc_id").as("corpus_id"), col("bk"))
    newBands
      .join(corpBands, "bk") // stream-static inner join on band keys
      .join(shCorp.select(col("doc_id").as("corpus_id"), col("s").as("sb")),
        "corpus_id") // stream-static again: shingles per candidate only
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard", col("inter").cast("double")
        / (size(col("sa")) + size(col("sb")) - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("new_id"), col("corpus_id"), round(col("jaccard"), 6).as("jaccard"))
      .dropDuplicates("new_id", "corpus_id")
  }

  /** Continuous distinct-count monitoring — the streaming twin of
    * `ext.Sketches.kmvDistinct` (q60): per key, a bounded KMV sketch
    * (k smallest distinct portable hashes) updated per micro-batch,
    * emitting (key, n_sketch, est_distinct) for keys touched by the batch.
    * State per key is ONE Array[k+1] of longs regardless of stream length —
    * cardinality tracking over an unbounded stream in fixed memory — and
    * the sketch state after any prefix equals the batch sketch of the same
    * input SET (the same insert function, associative + commutative), so
    * stream and batch estimates agree exactly. Inputs are (key, hash)
    * pairs — hash with `Sampling.portableHash` upstream. */
  def streamingKmvDistinct(pairs: Dataset[(String, Long)], k: Int): Dataset[(String, Long, Double)] = {
    implicit val bufEnc: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    implicit val outEnc: Encoder[(String, Long, Double)] =
      Encoders.tuple(Encoders.STRING, Encoders.scalaLong, Encoders.scalaDouble)
    implicit val keyEnc: Encoder[String] = Encoders.STRING
    pairs.groupByKey(_._1)
      .flatMapGroupsWithState[Array[Long], (String, Long, Double)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[(String, Long)], state: GroupState[Array[Long]]) =>
          val buf = state.getOption.getOrElse(graft.ext.Sketches.newBuffer(k))
          rows.foreach(r => graft.ext.Sketches.insertMinK(buf, r._2, k))
          state.update(buf)
          Iterator.single((key, buf(0), graft.ext.Sketches.estimate(buf, k)))
      }
  }

  /** Event-time WINDOWED distinct-count estimation on a stream: the KMV
    * sketch as a windowed streaming aggregation (the continuous twin of
    * q71's daily-distinct). The `MinK` udaf is merge-order independent, so
    * incremental state-store merges across micro-batches give exactly the
    * batch sketch of each window's input set; the watermark bounds window
    * state. Per-window state is one <= k-long buffer — distinct-per-hour
    * dashboards over unbounded streams in fixed memory per window. */
  def streamingWindowedKmvDistinct(events: DataFrame, tsCol: String,
      itemCol: org.apache.spark.sql.Column, window: String, lateness: String,
      k: Int): DataFrame =
    events
      .where(itemCol.isNotNull) // match kmvDistinct's null handling
      .withWatermark(tsCol, lateness)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window))
      .agg(graft.ext.Sketches.kMinValues(k)(graft.ext.Sampling.portableHash(itemCol)).as("hs"))
      .select(col("window.start").as("bucket_start"),
        size(col("hs")).cast("long").as("n_sketch"),
        graft.ext.Sketches.estimateCol(col("hs"), k).as("est_distinct"))

  /** Streaming Count-Min counters — the continuous twin of
    * [[graft.ext.Sketches.cmsCounters]]: the same explode-by-depth + keyed
    * count, run as a streaming aggregation in Update mode. Because every
    * counter is a plain SUM over the portable bucket hash, the state-store
    * merge across micro-batches gives EXACTLY the batch counter table of
    * the union of all batches — frequency monitoring over unbounded
    * streams in depth×width fixed state. */
  def streamingCmsCounters(items: DataFrame, itemCol: org.apache.spark.sql.Column,
      depth: Int, width: Int): DataFrame =
    items.select(itemCol.as("item"))
      .where(col("item").isNotNull)
      .select(explode(sequence(lit(0), lit(depth - 1))).as("j"), col("item"))
      .groupBy(col("j"), graft.ext.Sketches.cmsBucket(col("j"), col("item"), width).as("bucket"))
      .agg(count(lit(1)).as("c"))

  /** ONLINE hourly anomaly flags per key — the streaming twin of
    * [[graft.ext.CorpusMining.hourlyAnomalies]]. State per event type =
    * integer moments over CLOSED hours (H, S=Σn, Q=Σn²) plus the open
    * (hour, count). An hour closes when a later hour arrives for the key;
    * its count first joins the moments, then the flag is decided by the
    * SAME pure-integer cut as the batch operator — (H·n − S)² > 4(H·Q − S²)
    * — against the moments as of close time (the online difference from
    * the batch op's full-history stats, documented, tested). The final
    * open hour stays pending — a stream has no last hour.
    *
    * Assumes per-key nondecreasing hours (replay/event-time order within
    * key) — late hours are folded into the stats but flagged only if the
    * open hour regresses is not supported; the dag replay drivers feed
    * time-ordered cycles, matching this contract. State is 5 longs per
    * key. */
  def streamingHourlyAnomalies(ev: Dataset[(String, Long)]): Dataset[HourFlag] = {
    implicit val stEnc: Encoder[AnomalyMoments] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[AnomalyMoments]()
    implicit val outEnc: Encoder[HourFlag] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[HourFlag]()
    implicit val keyEnc: Encoder[String] = Encoders.STRING
    ev.groupByKey(_._1)
      .flatMapGroupsWithState[AnomalyMoments, HourFlag](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[(String, Long)], state: GroupState[AnomalyMoments]) =>
          var st = state.getOption.getOrElse(AnomalyMoments(0L, 0L, 0L, -1L, 0L))
          val out = scala.collection.mutable.ArrayBuffer.empty[HourFlag]
          rows.toSeq.groupBy(_._2).toSeq.sortBy(_._1).foreach { case (hr, batch) =>
            val cnt = batch.size.toLong
            if (st.openHr < 0 || hr == st.openHr)
              st = st.copy(openHr = hr, openN = st.openN + cnt)
            else { // hr > openHr: close the open hour
              require(hr > st.openHr,
                s"out-of-order hour $hr after ${st.openHr} for key $key (unsupported)")
              val (flagged, closed) = AnomalyMoments.close(key, st)
              out += flagged
              st = closed.copy(openHr = hr, openN = cnt)
            }
          }
          state.update(st)
          out.iterator
      }
  }

  /** ONLINE inter-event gaps per key — the streaming twin of q90's batch
    * lag: state is the key's last timestamp (one long), each event emits
    * its gap to the predecessor (first event per key emits none). Under
    * in-order arrival per key the emitted gap multiset equals the batch
    * `ts - lag(ts)` exactly (tested). Feeding the emitted gaps into a
    * windowed aggregation gives continuous stream-health quantiles. */
  def streamingEventGaps[K: Encoder](ev: Dataset[(K, Long)]): Dataset[(K, Long)] = {
    implicit val stEnc: Encoder[Long] = Encoders.scalaLong
    implicit val outEnc: Encoder[(K, Long)] =
      Encoders.tuple(implicitly[Encoder[K]], Encoders.scalaLong)
    ev.groupByKey(_._1)
      .flatMapGroupsWithState[Long, (K, Long)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: K, rows: Iterator[(K, Long)], state: GroupState[Long]) =>
          var last = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[(K, Long)]
          rows.toSeq.sortBy(_._2).foreach { case (_, ts) =>
            last.foreach(prev => out += ((key, ts - prev)))
            last = Some(ts)
          }
          last.foreach(state.update)
          out.iterator
      }
  }
}
