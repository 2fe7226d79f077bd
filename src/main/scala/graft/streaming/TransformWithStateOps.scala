package graft.streaming

import scala.collection.mutable
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming._

/** Spark-4-native stateful operators on `transformWithState` — keyed value
  * state AND per-key timers in one API, the direct analog of the engine's
  * state nodes + `TimerManager` (SURVEY.md E3/E7; reference
  * `beavers/dag.py:95-154,501-518`). Requires the RocksDB state store
  * provider.
  *
  * Most twins are one of two keyed folds: [[fold]] (one `ValueState` per
  * key) or [[mapFold]] (rows merged into a `MapState`, then read out).
  * The rest — timers, `ListState`, read-your-writes within a batch, or a
  * map plus running totals kept by deltas — are hand-written processors
  * behind the same [[wire]]. Spark calls `handleInputRows` only for keys
  * with rows in the batch (`TransformWithStateExec.processNewData` groups
  * the batch with `GroupedIterator`), so no step sees an empty batch. */
object TransformWithStateOps {

  private implicit val stringEnc: Encoder[String] = Encoders.STRING
  private implicit val longEnc: Encoder[Long] = Encoders.scalaLong
  private implicit val intEnc: Encoder[Int] = Encoders.scalaInt
  private implicit val boolEnc: Encoder[Boolean] = Encoders.scalaBoolean
  private def enc[T](implicit e: Encoder[T]): Encoder[T] = e
  private implicit def tuple2Enc[A: Encoder, B: Encoder]: Encoder[(A, B)] =
    Encoders.tuple(enc[A], enc[B])
  private implicit def tuple3Enc[A: Encoder, B: Encoder, C: Encoder]: Encoder[(A, B, C)] =
    Encoders.tuple(enc[A], enc[B], enc[C])
  private implicit def tuple4Enc[A: Encoder, B: Encoder, C: Encoder, D: Encoder]
      : Encoder[(A, B, C, D)] = Encoders.tuple(enc[A], enc[B], enc[C], enc[D])
  private implicit def tuple5Enc[A: Encoder, B: Encoder, C: Encoder, D: Encoder,
      E: Encoder]: Encoder[(A, B, C, D, E)] =
    Encoders.tuple(enc[A], enc[B], enc[C], enc[D], enc[E])

  /** The plumbing every twin shares: key `ds` by `key` and run `p` over it. */
  private def wire[I, K: Encoder, O <: Product : TypeTag](ds: Dataset[I],
      mode: OutputMode = OutputMode.Update(), time: TimeMode = TimeMode.None())(
      key: I => K)(p: StatefulProcessor[K, I, O]): Dataset[O] =
    ds.groupByKey(key).transformWithState(p, time, mode)(Encoders.product[O])

  /** One `ValueState` per key, `zero` until first written: `step(key,
    * state, rows)` returns the new state and the rows to emit. */
  private final class FoldProcessor[K, I, S, O](zero: S, stateEnc: Encoder[S],
      step: (K, S, Iterator[I]) => (S, IterableOnce[O]))
      extends StatefulProcessor[K, I, O] {

    @transient private var st: ValueState[S] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[S]("st", stateEnc, TTLConfig.NONE)

    override def handleInputRows(key: K, rows: Iterator[I],
        timerValues: TimerValues): Iterator[O] = {
      val (s, out) = step(key, if (st.exists()) st.get() else zero, rows)
      st.update(s)
      out.iterator
    }
  }

  /** A keyed [[FoldProcessor]] stream; the state encoder follows the type
    * of `zero`. */
  private def fold[I, K: Encoder, S: Encoder, O <: Product : TypeTag](ds: Dataset[I],
      mode: OutputMode = OutputMode.Update())(key: I => K, zero: S)(
      step: (K, S, Iterator[I]) => (S, IterableOnce[O])): Dataset[O] =
    wire(ds, mode)(key)(new FoldProcessor(zero, enc[S], step))

  /** An associative, commutative merge and what an absent entry reads as. */
  private final case class Merge[V](zero: V, f: (V, V) => V)
  private val addLong = Merge[Long](0L, _ + _)
  private val maxLong = Merge[Long](0L, math.max)
  private val addPair = Merge[(Long, Long)]((0L, 0L), (a, b) => (a._1 + b._1, a._2 + b._2))
  private val addQuad = Merge[(Long, Long, Long, Long)]((0L, 0L, 0L, 0L),
    (a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3, a._4 + b._4))

  /** A `MapState` per key, one state row per entry: each row maps to one
    * `(entry, value)`; the batch's values merge per entry first, then into
    * the map (written only when the entry changes). `readout(key, touched,
    * map)` sees the entries this batch touched with their merged values and
    * the map, and returns the rows to emit and the entries to drop (applied
    * after it returns, so its rows must not read the map lazily). */
  private final class MapFoldProcessor[K, I, E, V, O](entryEnc: Encoder[E],
      valueEnc: Encoder[V], entry: I => (E, V), merge: Merge[V],
      readout: (K, collection.Map[E, V], MapState[E, V]) => (IterableOnce[O], IterableOnce[E]))
      extends StatefulProcessor[K, I, O] {

    @transient private var st: MapState[E, V] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getMapState[E, V]("st", entryEnc, valueEnc, TTLConfig.NONE)

    override def handleInputRows(key: K, rows: Iterator[I],
        timerValues: TimerValues): Iterator[O] = {
      val touched = mutable.HashMap.empty[E, V]
      rows.foreach { r =>
        val (e, v) = entry(r)
        touched(e) = merge.f(touched.getOrElse(e, merge.zero), v)
      }
      touched.mapValuesInPlace { (e, v) =>
        val old = if (st.containsKey(e)) st.getValue(e) else merge.zero
        val now = merge.f(old, v)
        if (now != old) st.updateValue(e, now)
        now
      }
      val (out, drop) = readout(key, touched, st)
      drop.iterator.foreach(st.removeKey)
      out.iterator
    }
  }

  /** A keyed [[MapFoldProcessor]] stream. */
  private def mapFold[I, K: Encoder, E: Encoder, V: Encoder, O <: Product : TypeTag](
      ds: Dataset[I])(key: I => K, entry: I => (E, V), merge: Merge[V])(
      readout: (K, collection.Map[E, V], MapState[E, V]) => (IterableOnce[O], IterableOnce[E]))
      : Dataset[O] =
    wire(ds)(key)(new MapFoldProcessor(enc[E], enc[V], entry, merge, readout))

  final case class KeyedEvent(key: String, eventTimeMs: Long)
  final case class SessionResult(key: String, events: Long, lastEventMs: Long)

  /** Per-key inactivity sessions: accumulate a count per key; (re)arm an
    * event-time timer `gapMs` past the latest event (one upcoming timer per
    * key, like `TimerManager`); when the watermark passes it, emit the
    * session and clear state. */
  final class InactivitySessionProcessor(gapMs: Long)
      extends StatefulProcessor[String, KeyedEvent, SessionResult] {

    @transient private var counts: ValueState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getValueState[(Long, Long)]("counts", TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[KeyedEvent],
        timerValues: TimerValues): Iterator[SessionResult] = {
      val prev = if (counts.exists()) counts.get() else (0L, 0L)
      var n = prev._1
      var lastTs = prev._2
      rows.foreach { r => n += 1; lastTs = math.max(lastTs, r.eventTimeMs) }
      counts.update((n, lastTs))
      // one upcoming timer per key: clear any previous, arm at last+gap
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
      getHandle.registerTimer(lastTs + gapMs)
      Iterator.empty
    }

    override def handleExpiredTimer(key: String, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[SessionResult] = {
      val out =
        if (counts.exists()) Iterator.single(SessionResult(key, counts.get()._1, counts.get()._2))
        else Iterator.empty
      counts.clear()
      out
    }
  }

  /** Wire the processor into a stream keyed by `key` with an event-time
    * watermark already applied to `eventTimeMs`'s source column. */
  def inactivitySessions(ds: Dataset[KeyedEvent], gapMs: Long): Dataset[SessionResult] =
    wire(ds, time = TimeMode.EventTime())(_.key)(new InactivitySessionProcessor(gapMs))

  final case class GroupToken(grp: String, w: String)
  final case class GroupTopK(grp: String, w: String, c: Long, rk: Long)

  /** Continuous per-group top-k (q61's streaming twin): exact token counts
    * in `MapState` keyed by group, refreshed top-k emitted for every group
    * a micro-batch touches (untouched groups emit nothing — the
    * reference's only-changed-keys propagation contract).
    *
    * State shape at scale: one map per group, sized by that group's
    * vocabulary — the same asymptotics as the batch counts table q61
    * aggregates, but sharded by group key across the state store (RocksDB)
    * instead of materialized per query. Per batch, cost is
    * O(vocab log vocab) for TOUCHED groups only; the input stream itself
    * never re-aggregates. Production variants can swap the exact map for
    * the bounded Misra-Gries summary ([[graft.ext.Sketches.FreqItems]])
    * when per-group vocabularies are unbounded. */
  def groupTopK(ds: Dataset[GroupToken], k: Int): Dataset[GroupTopK] =
    mapFold(ds)(_.grp, r => (r.w, 1L), addLong) { (key, _, counts) =>
      // q61's ordering exactly: count desc, token asc, rank 1..k
      (counts.iterator().toArray
        .sortBy { case (w, c) => (-c, w) }
        .take(k).iterator.zipWithIndex
        .map { case ((w, c), i) => GroupTopK(key, w, c, i + 1L) }, Nil)
    }

  final case class TaskAttempt(task: Long, ok: Boolean)
  final case class PassAtKReport(task: Long, n: Long, c: Long,
      pass1_ppm: Long, pass3_ppm: Long, pass5_ppm: Long)

  /** Continuous pass@k — the streaming twin of
    * [[graft.ext.Evaluation.passAtK]] at ks = (1, 3, 5): per task TWO
    * longs of ValueState (attempts, successes — constant size forever);
    * every micro-batch re-emits the report for touched tasks once
    * n ≥ 5 (the batch operator's n ≥ max(ks) filter, so final state ≡
    * the batch frame). The stepwise ppm recurrence is shared via
    * [[graft.ext.Evaluation.passAtKPpmJvm]] — one formula, two runtimes
    * (the quarterLog2Jvm discipline); TransformWithStateSpec pins the
    * twin across batch splits. */
  def passAtKStream(ds: Dataset[TaskAttempt]): Dataset[PassAtKReport] =
    fold(ds)(_.task, (0L, 0L)) { (key, s, rows) =>
      var (n, c) = s
      rows.foreach { r => n += 1L; if (r.ok) c += 1L }
      ((n, c), Option.when(n >= 5L)(PassAtKReport(key, n, c,
        graft.ext.Evaluation.passAtKPpmJvm(n, c, 1),
        graft.ext.Evaluation.passAtKPpmJvm(n, c, 3),
        graft.ext.Evaluation.passAtKPpmJvm(n, c, 5))))
    }

  final case class RateEvent(key: Long, ok: Boolean)
  final case class WilsonReport(key: Long, n: Long, p: Long,
      rate_ppm: Long, wilson_lb_ppm: Long)

  /** Continuous Wilson lower-bound rate ranking — the streaming twin of
    * [[graft.ext.Evaluation.wilsonLowerBound]] (z = 2): per key TWO
    * longs of ValueState (trials, successes), every micro-batch
    * re-emitting the touched keys' reports through the SAME integer
    * chain as the batch op (1e12-scaled floored radicand →
    * [[graft.ext.Sampling.isqrtDecJvm]] → one floor — one formula, two
    * runtimes, the passAtKPpmJvm discipline, BigInt mirroring the batch
    * op's decimal(38,0) rails), so the live leaderboard at every prefix
    * equals the batch frame on the same rows. The n > 6·10¹² decimal-
    * domain rail throws, matching the batch raise_error. */
  def streamingWilson(ds: Dataset[RateEvent]): Dataset[WilsonReport] =
    fold(ds)(_.key, (0L, 0L)) { (key, s, rows) =>
      var (n, p) = s
      rows.foreach { r => n += 1L; if (r.ok) p += 1L }
      require(n <= 6000000000000L,
        s"wilson stream: n = $n > 6e12 overflows the decimal(38,0) radicand")
      val sq = BigInt(p) * (n - p) * 1000000000000L / n + 1000000000000L
      val lb = ((BigInt(p) + 2) * 1000000 -
        2 * graft.ext.Sampling.isqrtDecJvm(sq)) / (n + 4)
      ((n, p), Iterator.single(WilsonReport(key, n, p,
        (BigInt(p) * 1000000 / n).toLong, lb.toLong)))
    }

  final case class GroupId(grp: String, id: Long)
  final case class DistinctCount(grp: String, n_distinct: Long, n_words: Long)

  /** Continuous exact distinct over a BOUNDED non-negative id domain —
    * the streaming twin of [[graft.ext.Sketches.bitmapDistinct]] (the
    * dashboard-DAU shape): per group, `MapState[word → mask]` holds the
    * same 64-packed `bit_or` words the batch aggregate shuffles, and a
    * (n_distinct, n_words) ValueState pair is maintained by DELTAS —
    * each batch ORs the incoming bits per touched word and adds
    * `bit_count(new & ~old)`, so cost per batch ∝ touched words, state
    * ∝ ⌈occupied-domain/64⌉ forever, and the running counter is
    * bit-for-bit the batch readout at every prefix (not just at the
    * end). The non-negative domain contract is enforced loudly (the
    * batch op's raise_error, here an IllegalArgumentException).
    * TransformWithStateSpec pins the twin across batch splits. */
  final class BitmapDistinctProcessor
      extends StatefulProcessor[String, GroupId, DistinctCount] {

    @transient private var words: MapState[Long, Long] = _
    @transient private var tot: ValueState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      words = getHandle.getMapState[Long, Long]("words", TTLConfig.NONE)
      tot = getHandle.getValueState[(Long, Long)]("tot", TTLConfig.NONE)
    }

    override def handleInputRows(key: String, rows: Iterator[GroupId],
        timerValues: TimerValues): Iterator[DistinctCount] = {
      val incoming = mutable.Map.empty[Long, Long]
      rows.foreach { r =>
        require(r.id >= 0L,
          s"bitmapDistinct stream: negative id ${r.id} outside the documented non-negative domain")
        val w = r.id / 64L
        incoming(w) = incoming.getOrElse(w, 0L) | (1L << (r.id % 64L).toInt)
      }
      var (nd, nw) = if (tot.exists()) tot.get() else (0L, 0L)
      incoming.foreach { case (w, m) =>
        val old = if (words.containsKey(w)) words.getValue(w) else 0L
        val added = m & ~old
        if (added != 0L) {
          words.updateValue(w, old | m)
          nd += java.lang.Long.bitCount(added).toLong
          if (old == 0L) nw += 1L
        }
      }
      tot.update((nd, nw))
      Iterator.single(DistinctCount(key, nd, nw))
    }
  }

  def streamingBitmapDistinct(ds: Dataset[GroupId]): Dataset[DistinctCount] =
    wire(ds)(_.grp)(new BitmapDistinctProcessor)

  final case class CatEvent(grp: String, cat: String)
  final case class SimpsonReport(grp: String, n_rows: Long,
      n_categories: Long, simpson_ppm: Long)

  /** Continuous SIMPSON diversity per group — the streaming twin of
    * [[graft.ext.Evaluation.simpsonDiversity]] (the live mixture-
    * concentration dashboard): per group `MapState[cat → count]` plus a
    * (n, n_categories, Σc²) ValueState maintained by DELTAS — a count
    * moving c → c+k moves Σc² by (c+k)² − c², so cost per batch ∝
    * touched categories and the emitted ppm is bit-for-bit the batch
    * readout at every prefix (BigInt at the emit division mirrors the
    * batch decimal(38,0) rail). Per-group rail: n ≤ 3·10⁹ rows keeps
    * Σc² ≤ n² under 2⁶³ in state — enforced loudly (split the group
    * key past that; the batch op itself has no such ceiling). */
  final class SimpsonProcessor
      extends StatefulProcessor[String, CatEvent, SimpsonReport] {

    @transient private var counts: MapState[String, Long] = _
    @transient private var tot: ValueState[(Long, Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      counts = getHandle.getMapState[String, Long]("counts", TTLConfig.NONE)
      tot = getHandle.getValueState[(Long, Long, Long)]("tot", TTLConfig.NONE)
    }

    override def handleInputRows(key: String, rows: Iterator[CatEvent],
        timerValues: TimerValues): Iterator[SimpsonReport] = {
      val incoming = mutable.Map.empty[String, Long]
      rows.foreach(r =>
        incoming(r.cat) = incoming.getOrElse(r.cat, 0L) + 1L)
      var (n, k, c2) = if (tot.exists()) tot.get() else (0L, 0L, 0L)
      incoming.foreach { case (cat, add) =>
        val old = if (counts.containsKey(cat)) counts.getValue(cat) else 0L
        val nw = old + add
        counts.updateValue(cat, nw)
        c2 += nw * nw - old * old
        n += add
        if (old == 0L) k += 1L
      }
      require(n <= 3000000000L,
        s"simpson stream: n = $n > 3e9 overflows the long Σc² state — split the group")
      tot.update((n, k, c2))
      val ppm = 1000000L - (BigInt(c2) * 1000000 / (BigInt(n) * n)).toLong
      Iterator.single(SimpsonReport(key, n, k, ppm))
    }
  }

  def streamingSimpson(ds: Dataset[CatEvent]): Dataset[SimpsonReport] =
    wire(ds)(_.grp)(new SimpsonProcessor)

  final case class PairedOutcome(grp: String, aOk: Int, bOk: Int)
  final case class McNemarReport(grp: String, n: Long, b: Long, c: Long,
      chi2_ppm: Long)

  /** Continuous McNEMAR per group — the streaming twin of
    * [[graft.ext.Evaluation.mcnemar]] (the live A-vs-B classifier
    * monitor): state is THREE scalar counters (n, b, c) maintained by
    * deltas — the cheapest twin in the file (O(1) state, cost ∝ batch
    * rows) — and the emitted chi2 matches the batch operator at every
    * prefix (BigInt at the emit division mirrors the batch
    * decimal(38,0) rail; both truncate a non-negative dividend). While
    * b + c = 0 the statistic is undefined: the BATCH operator raises,
    * but a stream must stay alive while disagreements have not yet
    * arrived, so the twin emits the explicit −1 sentinel until the
    * first asymmetric disagreement lands (spec-pinned both ways). */
  def streamingMcNemar(ds: Dataset[PairedOutcome]): Dataset[McNemarReport] =
    fold(ds)(_.grp, (0L, 0L, 0L)) { (key, s, rows) =>
      var (n, b, c) = s
      rows.foreach { r =>
        n += 1L
        if (r.aOk == 1 && r.bOk == 0) b += 1L
        else if (r.aOk == 0 && r.bOk == 1) c += 1L
      }
      val chi2 = if (b + c == 0L) -1L
        else ((BigInt(b) - c).pow(2) * 1000000 / (BigInt(b) + c)).toLong
      ((n, b, c), Iterator.single(McNemarReport(key, n, b, c, chi2)))
    }

  final case class SourceGram(src: String, g: String)
  final case class BoilerCand(source: String, gram: String, lb: Long, n: Long)

  /** Continuous per-source boilerplate candidates — the streaming twin of
    * [[graft.ext.CorpusMining.boilerplate]], closing the one gap that kept
    * the batch op batch-only: a crawl's per-source gram vocabulary is
    * UNBOUNDED, so exact `MapState` counting (the [[groupTopK]] shape)
    * would grow state without limit. Instead each source keeps ONE
    * Misra-Gries summary ([[graft.ext.Sketches.FreqItems]]) of its n-gram
    * stream in `ValueState`: k counters + a total, fixed size forever.
    * The fold calls the batch aggregator's own `reduce` — the two paths
    * share transition functions, so the sketch guarantees (G1 counters
    * never overcount beyond the shared bound; G3 every gram with
    * f·(k+1) > n is tracked) hold verbatim; `TransformWithStateSpec`
    * asserts both against an exact recount across batch splits.
    *
    * Every micro-batch re-emits the full candidate list for TOUCHED
    * sources only (the reference's only-changed-keys propagation
    * contract), ordered by counter desc then gram, with the counter as
    * the count lower bound and the source's running gram total `n`.
    * Downstream consumers needing exact counts recount the ≤ k candidates
    * (the q98 `guaranteedHeavyHitters` pattern) — candidates are bounded,
    * so the recount broadcast-probes.
    *
    * Input is a streaming `documents` frame: split → n-gram explode
    * (map-only, the batch op's exact gram definition via
    * [[graft.ext.TextAnalysis.ngramsFromTokens]]) → keyed summary update. */
  def streamingBoilerplate(docs: DataFrame, textCol: String,
      srcCol: String, n: Int, k: Int): Dataset[BoilerCand] = {
    import org.apache.spark.sql.functions._
    implicit val bufEnc: Encoder[graft.ext.FreqBuf] = Encoders.product[graft.ext.FreqBuf]
    val mg = new graft.ext.Sketches.FreqItems(k)
    val grams = docs.select(col(srcCol).as("src"), split(col(textCol), " ").as("toks"))
      .select(col("src"), explode(graft.ext.TextAnalysis.ngramsFromTokens("toks", n)).as("g"))
      .as(Encoders.product[SourceGram])
    fold(grams)(_.src, mg.zero) { (key, s, rows) =>
      var buf = s
      rows.foreach(r => buf = mg.reduce(buf, r.g))
      (buf, buf.counts.toArray.sortBy { case (g, c) => (-c, g) }.iterator
        .map { case (g, c) => BoilerCand(key, g, c, buf.n) })
    }
  }

  final case class ShardedKey(shard: Int, key: String)
  final case class SeenFlag(key: String, dup: Boolean)

  /** Streaming "seen before?" dedup with FIXED state on an unbounded
    * stream — the Bloom tradeoff moved into the state store: exact
    * streaming dedup ([[Streaming.streamingDedup]]-style keyed state)
    * grows with the distinct-key count forever, while this holds m bits
    * per shard regardless of stream length, never misses a true repeat
    * (no false negatives), and flags a bounded false-positive fraction of
    * first-sights as dups (~(1-e^{-jn/m})^j). The bit layout is EXACTLY
    * [[graft.operators.BloomJoin]]'s (md5 double-hash via
    * `positionsJvm`, pinned equal to the Column form in its spec), so a
    * filter primed by the batch aggregate and one built row-by-row here
    * are interchangeable. State is a SPARSE word map (occupied words
    * only, <= m/64 entries) — the [[streamingGridQuantiles]] bound style.
    * Shard keys ([[ShardedKey.shard]] = any stable hash of the key) to
    * spread the filters across the state store. Each row's flag reads the
    * bits earlier rows of the same batch set, so this stays hand-written. */
  final class BloomDedupProcessor(m: Int, j: Int)
      extends StatefulProcessor[Int, ShardedKey, SeenFlag] {

    @transient private var words: MapState[Long, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      words = getHandle.getMapState[Long, Long]("words", TTLConfig.NONE)

    override def handleInputRows(key: Int, rows: Iterator[ShardedKey],
        timerValues: TimerValues): Iterator[SeenFlag] = {
      rows.map { r =>
        val pos = graft.operators.BloomJoin.positionsJvm(r.key, m, j)
        var dup = true
        var i = 0
        while (i < pos.length) {
          val w = pos(i) >> 6
          val bit = 1L << (pos(i) & 63L).toInt
          val cur = if (words.containsKey(w)) words.getValue(w) else 0L
          if ((cur & bit) == 0L) { dup = false; words.updateValue(w, cur | bit) }
          i += 1
        }
        SeenFlag(r.key, dup)
      }
    }
  }

  def streamingBloomDedup(ds: Dataset[ShardedKey], m: Int, j: Int): Dataset[SeenFlag] =
    wire(ds)(_.shard)(new BloomDedupProcessor(m, j))

  final case class SourceDoc(source: String, text: String)
  final case class FunnelCounts(source: String, total: Long, dropped: Long, kept: Long)

  /** Per-source (total, dropped, kept) counters under the keep predicate
    * `keep` — two longs of state per source, touched sources only. */
  private def keptCounts(ds: Dataset[SourceDoc])(keep: String => Boolean)
      : Dataset[FunnelCounts] =
    fold(ds)(_.source, (0L, 0L)) { (key, s, rows) =>
      var (total, kept) = s
      rows.foreach { r =>
        total += 1
        if (keep(r.text)) kept += 1
      }
      ((total, kept), Iterator.single(FunnelCounts(key, total, total - kept, kept)))
    }

  /** Live per-source Gopher-gate attrition counters — the streaming half
    * of the batch curation funnel (q113/q114): as documents stream in,
    * each source's (total, dropped, kept) counters update via the JVM
    * mirror of the EXACT integer rules the batch operator applies
    * ([[graft.ext.TextAnalysis.gopherKeepJvm]], pinned equal in the
    * spec), so a dashboard watches gate attrition in real time and the
    * nightly batch report reconciles to the same numbers. State: two
    * longs per source. Emits refreshed counters for touched sources only
    * (the only-changed-keys contract). */
  def streamingGopherFunnel(ds: Dataset[SourceDoc]): Dataset[FunnelCounts] =
    keptCounts(ds)(graft.ext.TextAnalysis.gopherKeepJvm)

  final case class ContamCounts(source: String, docs: Long,
      contaminated: Long, gram_hits: Long)

  /** Live per-source decontamination counters — the streaming half of the
    * batch eval-overlap screen (q125): as documents stream in, each
    * source's (docs-with-grams, contaminated, total-gram-hits) counters
    * update via the JVM mirror of the batch gram hashing
    * ([[graft.ext.Curation.gramHashesJvm]], pinned equal in the spec), so
    * a live crawl dashboard shows benchmark leakage per source and the
    * nightly q125 report reconciles exactly. The eval gram set is MODEL
    * STATE carried in the fold (benchmark-sized — the same
    * broadcast-shape as the batch probe; swap for the Bloom layout at
    * very large eval suites). Keyed state: three longs per source.
    * Emits refreshed counters for touched sources only. */
  def streamingDecontamination(ds: Dataset[SourceDoc], evalGrams: Set[Long],
      k: Int = 3, thresholdPpm: Long = 500000L): Dataset[ContamCounts] =
    fold(ds)(_.source, (0L, 0L, 0L)) { (key, s, rows) =>
      var (docs, contam, hits) = s
      rows.foreach { r =>
        graft.ext.Curation.contaminationJvm(r.text, evalGrams, k, thresholdPpm)
          .foreach { case (_, nHit, flag) =>
            docs += 1; hits += nHit; if (flag) contam += 1
          }
      }
      ((docs, contam, hits), Iterator.single(ContamCounts(key, docs, contam, hits)))
    }

  final case class GroupValue(grp: String, v: Double)
  final case class QuantileRow(grp: String, n: Long, pct: Long, value: Double)

  /** Continuous per-group grid quantiles — the streaming twin of
    * [[graft.ext.Histogram.gridQuantiles]] (q103). State per group is the
    * bin-count map on the power-of-two grid: bounded by the OCCUPIED bin
    * count (≤ domain × scale), never by the row count, so it is fixed-size
    * on an unbounded stream the same way the batch operator's shuffle is.
    * Bins merge by addition (the map IS a mergeable sketch), and the bin
    * id `floor(v · scale)` is the exact same IEEE-754-exact computation
    * the batch path and the DuckDB oracle use — so the final emission
    * equals the batch answer on the same rows regardless of how the
    * stream was batched (asserted in `TransformWithStateSpec`).
    *
    * Emits refreshed quantile rows (one per requested percent, ceil-rank
    * convention) for TOUCHED groups only — the reference's
    * only-changed-keys propagation contract. */
  def streamingGridQuantiles(ds: Dataset[GroupValue], scale: Int,
      percents: Seq[Int]): Dataset[QuantileRow] = {
    require(scale >= 1 && (scale & (scale - 1)) == 0, "scale must be a power of two")
    // exact: scale is 2^k
    mapFold(ds)(_.grp, r => (math.floor(r.v * scale).toLong, 1L), addLong) { (key, _, bins) =>
      val sorted = bins.iterator().toArray.sortBy(_._1)
      val n = sorted.iterator.map(_._2).sum
      (percents.iterator.map { p =>
        val target = (n * p + 99) / 100
        var cum = 0L
        var i = 0
        var hit = Long.MinValue
        while (i < sorted.length && hit == Long.MinValue) {
          cum += sorted(i)._2
          if (cum >= target) hit = sorted(i)._1
          i += 1
        }
        QuantileRow(key, n, p.toLong, hit / scale.toDouble)
      }, Nil)
    }
  }

  /** Live per-source attrition counters for the LINEAR quality classifier
    * (q122's streaming half, the [[streamingGopherFunnel]] counters with
    * the model swapped in): margins via the JVM mirror of the exact integer
    * rule ([[graft.ext.Curation.linearMarginJvm]], pinned equal to the
    * Column form), two longs of state per source, touched sources only. */
  def streamingQualityGate(ds: Dataset[SourceDoc], weights: Map[String, Long],
      bias: Long): Dataset[FunnelCounts] =
    keptCounts(ds)(t => graft.ext.Curation.linearMarginJvm(t, weights, bias) > 0L)

  final case class GroupWeekBin(grp: String, wk: Long, bin: Long)
  final case class WeeklyDrift(grp: String, wk: Long, n_cur: Long, n_prev: Long,
      ks_scaled: Long, ks: Double)

  /** Continuous week-over-week grid-KS drift — the streaming twin of
    * [[graft.ext.Histogram.weeklyKsDrift]] (q111). State per group is the
    * `(week, bin) -> count` map: bounded by weeks x occupied grid bins
    * (the gridBins state-bound argument), never by row count. Bin ids and
    * week ids are computed by the SAME expressions as the batch operator
    * (`floor(v*scale)` exact on the power-of-two grid; `ts div weekNs`),
    * and the KS recomputation is the same integer cross-multiplication up
    * to one final correctly-rounded division — so every emission equals
    * the batch operator run over the rows seen so far, regardless of how
    * the stream was batched (asserted in `TransformWithStateSpec`).
    *
    * Each micro-batch re-emits the (wk-1 -> wk) comparison rows AFFECTED
    * by that batch — weeks touched as the current side and weeks whose
    * successor is present (touched as the previous side) — for touched
    * groups only; pairs missing either side stay silent (the batch
    * operator's n_cur > 0 AND n_prev > 0 guard). In production the week
    * map is pruned by retention (drop weeks below the watermark week);
    * kept unbounded here to reconcile with the full-history batch op.
    *
    * Input is a streaming frame carrying the group/value/ts columns; week
    * and bin derivation use the batch operator's exact expressions. */
  def streamingWeeklyKsDrift(df: DataFrame,
      group: org.apache.spark.sql.Column, value: org.apache.spark.sql.Column,
      tsNanosCol: String, scale: Int): Dataset[WeeklyDrift] = {
    require(scale >= 1 && (scale & (scale - 1)) == 0, "scale must be a power of two")
    import org.apache.spark.sql.functions._
    val weekNs = 7L * 24 * 3600 * 1000000000L
    val bins = df.select(group.as("grp"), expr(s"$tsNanosCol div ${weekNs}L").as("wk"),
        floor(value * scale).cast("long").as("bin"))
      .as(Encoders.product[GroupWeekBin])
    mapFold(bins)(_.grp, r => ((r.wk, r.bin), 1L), addLong) { (key, touched, counts) =>
      // weeks whose (wk-1 -> wk) comparison this batch may have changed
      val wks = touched.keySet.map(_._1)
      val state = counts.iterator().toArray
      val weeks = state.iterator.map(_._1._1).toSet
      val affected = (wks.iterator ++ wks.iterator.map(_ + 1L)).toSeq
        .distinct.sorted
        .filter(w => weeks.contains(w) && weeks.contains(w - 1L))
      (affected.iterator.map { w =>
        val cur = state.iterator.filter(_._1._1 == w)
          .map { case ((_, b), c) => b -> c }.toMap
        val prev = state.iterator.filter(_._1._1 == w - 1L)
          .map { case ((_, b), c) => b -> c }.toMap
        val nCur = cur.valuesIterator.sum
        val nPrev = prev.valuesIterator.sum
        val bins = (cur.keySet ++ prev.keySet).toArray.sorted
        var cumCur = 0L; var cumPrev = 0L; var best = 0L
        bins.foreach { b =>
          cumCur += cur.getOrElse(b, 0L)
          cumPrev += prev.getOrElse(b, 0L)
          val scaled = math.abs(cumCur * nPrev - cumPrev * nCur)
          if (scaled > best) best = scaled
        }
        WeeklyDrift(key, w, nCur, nPrev, best,
          best.toDouble / (nCur * nPrev))
      }, Nil)
    }
  }

  final case class SourceTokens(source: String, n_tok: Long)
  final case class MixtureRow(source: String, docs: Long, tokens: Long,
      weight_ppm: Long, target_tokens: Long, rate_ppm: Long,
      expected_tokens: Long, oversubscribed: Boolean)

  /** Live token-budget mixture attrition — the streaming twin of
    * [[graft.ext.Sampling.mixturePlanFromCounts]] (q115/q118): as docs
    * stream in, each source's (docs, tokens) counters update and the
    * refreshed plan row re-derives with the SAME integer ppm arithmetic
    * (targets from ppm products, rate as capped integer division,
    * oversubscription flag) — the dashboard view of "which sources have
    * already met their budget share". State: two longs per source. Emits
    * touched sources only. Zero-token sources emit rate 1,000,000 (take
    * everything — vacuously met; the batch form's ANSI division guards
    * this corner by construction since a counted doc implies a row). */
  def streamingMixturePlan(ds: Dataset[SourceTokens], budgetTokens: Long,
      weightsPpm: Map[String, Long]): Dataset[MixtureRow] =
    fold(ds)(_.source, (0L, 0L)) { (key, s, rows) =>
      var (docs, tokens) = s
      rows.foreach { r => docs += 1; tokens += r.n_tok }
      val w = weightsPpm.getOrElse(key, 0L)
      val target = budgetTokens * w / 1000000L
      val rate = if (tokens > 0) math.min(1000000L, target * 1000000L / tokens)
        else 1000000L
      ((docs, tokens), Iterator.single(MixtureRow(key, docs, tokens, w, target, rate,
        tokens * rate / 1000000L, target > tokens)))
    }

  final case class SpanOcc(h: Long, docId: Long, pos: Long)
  final case class SpanNovel(docId: Long, pos: Long, novel: Boolean)

  /** Streaming first-occurrence span novelty — the incremental twin of
    * [[graft.ext.Dedup.spanNoveltyProfile]] (Lee et al.
    * keep-first-occurrence span dedup): spans stream in keyed by their
    * 60-bit hash; the FIRST occurrence of a hash is novel, every later
    * one is a dup. Within one micro-batch the winner among same-hash rows
    * is the minimal (docId, pos) — exactly the batch window's
    * `row_number() ... ORDER BY doc_id, pos` — so the decision is
    * ORDER-INDEPENDENT of iterator/arrival order inside a batch, and for
    * any corpus-order-preserving split into micro-batches (doc i's spans
    * never arrive after doc j's, i < j) the final streamed counts
    * reconcile bit-for-bit with the batch profile (pinned in the spec).
    *
    * State: one boolean per DISTINCT span hash — the exact-novelty cost
    * (unbounded like any exact streaming dedup; [[streamingBloomDedup]]
    * is the fixed-memory alternative when a false-positive fraction is
    * acceptable). Keying by the span hash itself spreads state uniformly
    * across the store's key space. Spans are the batch op's exact
    * definition ([[graft.ext.Dedup.spanFrame]], map-only). */
  def streamingSpanNovelty(docs: DataFrame, textCol: String,
      idCol: String, k: Int): Dataset[SpanNovel] = {
    val spans = graft.ext.Dedup.spanFrame(docs, textCol, idCol, k)
      .toDF("docId", "pos", "h")
      .selectExpr("h", "docId", "cast(pos as long) as pos")
      .as(Encoders.product[SpanOcc])
    fold(spans)(_.h, false) { (_, seen, rows) =>
      val batch = rows.toVector
      val winner =
        if (seen) None
        else Some(batch.minBy(r => (r.docId, r.pos)))
      (true, batch.iterator.map(r => SpanNovel(r.docId, r.pos, winner.contains(r))))
    }
  }

  final case class UserEvent(userId: Long, eventType: String, ts: Long)
  final case class FunnelState(userId: Long, sTs: Long, converted: Boolean, ttcNs: Long)

  /** Live two-stage conversion funnel — the streaming twin of
    * [[graft.ext.EventFunnel.conversionFunnel]] (batch q131): per user,
    * anchor at the FIRST `startType` event, convert on the earliest
    * `convType` event inside (anchor, anchor + windowNs]. State is two
    * longs per user (anchor ts, best time-to-convert; -1 = unset) — no
    * event buffering, which is exact under the per-user ts-ordered
    * arrival the replay/Kafka sources guarantee (an anchor always
    * precedes the conversions it can claim; cross-user interleaving is
    * free). Emits the refreshed row for each touched user that has
    * anchored; the final emission per user reconciles bit-for-bit with
    * the batch funnel (pinned in the spec). ttcNs = -1 until converted
    * (the Dataset row stays non-null; the batch op's null maps to it). */
  def streamingFunnel(ds: Dataset[UserEvent], startType: String, convType: String,
      windowNs: Long): Dataset[FunnelState] =
    fold(ds)(_.userId, (-1L, -1L)) { (key, s, rows) =>
      var (sTs, ttc) = s
      // within one micro-batch rows may interleave arbitrarily; process in
      // ts order so the batch == stream contract holds per micro-batch too
      rows.toVector.sortBy(r => (r.ts, r.eventType)).foreach { r =>
        if (r.eventType == startType && (sTs < 0 || r.ts < sTs)) sTs = r.ts
        else if (r.eventType == convType && sTs >= 0 &&
            r.ts > sTs && r.ts <= sTs + windowNs) {
          val d = r.ts - sTs
          if (ttc < 0 || d < ttc) ttc = d
        }
      }
      ((sTs, ttc), Option.when(sTs >= 0)(FunnelState(key, sTs, ttc >= 0, ttc)))
    }

  final case class GroupHash(grp: String, h: Long)
  final case class HllReport(grp: String, v_zero: Long, s_sum: Long,
      raw_est: Double, est_distinct: Option[Double])

  /** A hash's HLL register: (bucket, rho). floorMod, not %: the batch twin
    * buckets by pmod(h, 64). h is contractually the NON-NEGATIVE 60-bit
    * portable hash (where the two agree), but a stray negative hash must
    * not land in a bucket the 0..63 estimator loop silently never reads. */
  private def hllReg(h: Long): (Long, Long) =
    (java.lang.Math.floorMod(h, 64L), graft.ext.Sketches.hllRhoJvm(h).toLong)

  /** The 64-bucket estimator both HLL twins read out with: (v_zero, s_sum,
    * raw estimate, the estimate once no register is zero) over the
    * registers `reg(bucket)`. */
  private def hll(reg: Long => Long): (Long, Long, Double, Option[Double]) = {
    var vZero = 0L
    var sSum = 0L
    var b = 0L
    while (b < 64) {
      val m = reg(b)
      if (m == 0L) vZero += 1
      sSum += 1L << (55 - m)
      b += 1
    }
    val raw = graft.ext.Sketches.hllRawEstimate(sSum)
    (vZero, sSum, raw, if (vZero == 0) Some(raw) else None)
  }

  /** Continuous per-group HyperLogLog — the streaming twin of
    * [[graft.ext.Sketches.hllDistinct]] (q133). State per group is the
    * sparse register map (bucket -> max rho): at most 64 entries forever,
    * the canonical fixed-memory cardinality sketch on an unbounded
    * stream. Register update is MAX — associative, commutative,
    * idempotent — so the state after any prefix equals the batch sketch
    * of the same input SET regardless of batching, and the emission
    * (dyadic sum + the identical literal fold, [[graft.ext.Sketches
    * .hllRawEstimate]]) bit-matches the batch report (asserted in
    * TransformWithStateSpec). Inputs are (group, hash) pairs — hash with
    * `Sampling.portableHash` upstream, exactly like the batch path. */
  def streamingHllDistinct(ds: Dataset[GroupHash]): Dataset[HllReport] =
    mapFold(ds)(_.grp, r => hllReg(r.h), maxLong) { (key, _, regs) =>
      val (vZero, sSum, raw, est) =
        hll(b => if (regs.containsKey(b)) regs.getValue(b) else 0L)
      (Iterator.single(HllReport(key, vZero, sSum, raw, est)), Nil)
    }

  final case class TimedEvent(user_id: Long, event_type: String, ts: Long,
      event_id: Long)
  final case class ScdRow(user_id: Long, event_type: String, valid_from: Long,
      valid_to: Option[Long], n_events: Long, is_current: Boolean)

  /** Streaming twin of [[graft.ext.EventFunnel.scdIntervals]] (q140) —
    * continuous SCD-type-2 history build. State per user is ONLY the open
    * run (event_type, valid_from, n_events; n_events = 0 before the first
    * event): a closed interval is emitted exactly once, at the moment the
    * attribute changes, and never touched again; the open run is
    * re-emitted every batch it grows (Update-mode upsert keyed by
    * (user_id, valid_from) — a later "closed" row for the same run
    * supersedes its earlier "open" emissions). So the reconciled view (all
    * closed rows + the latest row per open run) equals the batch
    * compaction of the same prefix, for ANY batch split, provided each
    * user's events arrive in (ts, event_id) order — the replay/Kafka
    * priming contract; within a batch the fold sorts per key.
    * Bounded state: 3 scalars per user, independent of history length. */
  def streamingScdIntervals(ds: Dataset[TimedEvent]): Dataset[ScdRow] =
    fold(ds)(_.user_id, ("", 0L, 0L)) { (key, s, rows) =>
      var (t, from, n) = s
      val out = Seq.newBuilder[ScdRow]
      rows.toArray.sortBy(e => (e.ts, e.event_id)).foreach { e =>
        if (n > 0 && t == e.event_type) n += 1
        else {
          if (n > 0) out += ScdRow(key, t, from, Some(e.ts), n, is_current = false)
          t = e.event_type; from = e.ts; n = 1L
        }
      }
      out += ScdRow(key, t, from, None, n, is_current = true)
      ((t, from, n), out.result())
    }

  final case class TypedHour(event_type: String, hr: Long)
  final case class BurstRow(event_type: String, hr: Long, n: Long, trail: Long,
      burst: Boolean)

  /** Streaming twin of [[graft.ext.EventFunnel.hourlyBursts]] (q152) —
    * continuous rate-anomaly monitoring. State per event type: the sparse
    * hour→count map PRUNED to the trailing ~26 hours (older hours can
    * never contribute to a future baseline under event-time-ordered
    * arrival — the replay/Kafka priming contract) plus the type's first
    * hour; bounded forever regardless of stream length. Each batch
    * re-emits the refreshed row for every touched (type, hour) — trails
    * are computed AFTER absorbing the whole batch and BEFORE pruning, so
    * upsert-by-(type, hr) reconciles exactly with the batch RANGE window
    * (asserted in TransformWithStateSpec). */
  final class BurstProcessor(factor: Int)
      extends StatefulProcessor[String, TypedHour, BurstRow] {

    @transient private var counts: MapState[Long, Long] = _
    @transient private var firstHr: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      counts = getHandle.getMapState[Long, Long]("counts", TTLConfig.NONE)
      firstHr = getHandle.getValueState[Long]("firstHr", TTLConfig.NONE)
    }

    override def handleInputRows(key: String, rows: Iterator[TypedHour],
        timerValues: TimerValues): Iterator[BurstRow] = {
      val touched = mutable.SortedSet[Long]()
      var fh = if (firstHr.exists()) firstHr.get() else Long.MaxValue
      rows.foreach { r =>
        val c = if (counts.containsKey(r.hr)) counts.getValue(r.hr) else 0L
        counts.updateValue(r.hr, c + 1L)
        touched += r.hr
        if (r.hr < fh) fh = r.hr
      }
      firstHr.update(fh)
      val out = touched.toSeq.map { h =>
        var trail = 0L
        var i = h - 24
        while (i <= h - 1) {
          if (counts.containsKey(i)) trail += counts.getValue(i)
          i += 1
        }
        val n = counts.getValue(h)
        BurstRow(key, h, n, trail, h >= fh + 24 && n * 24 > trail * factor)
      }
      val cutoff = touched.max - 25
      counts.iterator().toArray.foreach { case (h, _) =>
        if (h < cutoff) counts.removeKey(h)
      }
      out.iterator
    }
  }

  def streamingHourlyBursts(ds: Dataset[TypedHour], factor: Int): Dataset[BurstRow] =
    wire(ds)(_.event_type)(new BurstProcessor(factor))

  final case class PathInstance(user_id: Long, path: String)

  /** Streaming twin of [[graft.ext.EventFunnel.pathCounts]]' n-gram
    * EXTRACTION stage: per user, hold only the last n−1 event types (one
    * tiny ValueState string), emit one completed length-n path per event
    * once the window fills. The multiset of emitted paths equals the
    * batch lead-window n-grams under per-user (ts, event_id)-ordered
    * arrival (within a batch the fold sorts), so any downstream
    * count — batch rollup or a keyed counting stage — reconciles exactly.
    * State is O(n) per user forever (the held types join on \u0001 —
    * event-type values must not contain that control char); emission is
    * append-only. */
  def streamingPathInstances(ds: Dataset[TimedEvent], n: Int): Dataset[PathInstance] =
    fold(ds, OutputMode.Append())(_.user_id, "") { (key, s, rows) =>
      var held: Vector[String] =
        if (s.nonEmpty) s.split('\u0001').toVector else Vector.empty
      val out = Seq.newBuilder[PathInstance]
      rows.toArray.sortBy(e => (e.ts, e.event_id)).foreach { e =>
        held = (held :+ e.event_type).takeRight(n)
        if (held.length == n) out += PathInstance(key, held.mkString(" > "))
      }
      // persist only the last n-1 types: the oldest held entry is dropped
      // by the next append anyway, so this keeps the documented O(n-1)
      // state bound with identical emissions
      (held.takeRight(math.max(n - 1, 0)).mkString("\u0001"), out.result())
    }

  final case class SourceToken(source: String, w: String)
  final case class KlDriftRow(source: String, n_tokens: Long, vocab: Long,
      kl_q4: Long, kl_mq4: Long)

  /** Streaming twin of [[graft.ext.TextAnalysis.vocabKlDrift]] (q158) —
    * continuous vocabulary-drift monitoring. KL(P_s ‖ P_rest) couples
    * every source through the rest-of-corpus margin AND the global
    * vocabulary (a new token reshapes every source's smoothed dense
    * frame), so the reduction is inherently one global grid: the state is
    * the (source, token) → count map — the exact sources × vocabulary
    * metadata frame the batch operator materializes, bounded by the
    * monitoring vocabulary, never by row count — and the fold runs
    * single-keyed (the token-count EXPLODE upstream is still parallel;
    * only the vocabulary-sized reduction is one task, same as the batch
    * plan's final sources-sized rollup). Every batch re-emits ALL
    * sources' refreshed rows (any update moves every source's rest
    * margin); each emission equals the batch operator over the rows seen
    * so far regardless of batching (TransformWithStateSpec), via the
    * [[graft.ext.TextAnalysis.quarterLog2Jvm]] pinned kernel.
    * Tokenization is the batch operator's exact expression (map-side,
    * parallel); the single-key grouping feeds the global reduction. */
  def streamingVocabKlDrift(docs: DataFrame,
      textCol: String, srcCol: String): Dataset[KlDriftRow] = {
    import org.apache.spark.sql.functions._
    import graft.ext.TextAnalysis.quarterLog2Jvm
    val toks = docs.select(col(srcCol).as("source"),
        explode(graft.ext.TextAnalysis.tokens(col(textCol))).as("w"))
      .as(Encoders.product[SourceToken])
    mapFold(toks)(_ => 0, r => ((r.source, r.w), 1L), addLong) { (_, _, counts) =>
      val state = counts.iterator().toArray
      val tot = mutable.Map.empty[String, Long].withDefaultValue(0L)
      state.foreach { case ((_, w), c) => tot(w) += c }
      val vocab = tot.keys.toArray
      val totAll = tot.valuesIterator.sum
      val v = vocab.length.toLong
      val bySource = state.groupBy(_._1._1)
      (bySource.keys.toArray.sorted.iterator.map { s =>
        val ca = bySource(s).map { case ((_, w), c) => w -> c }.toMap
          .withDefaultValue(0L)
        val nTokens = ca.valuesIterator.sum
        val na = nTokens + v
        val nb = (totAll - nTokens) + v
        var kl = 0L
        vocab.foreach { w =>
          val a = ca(w); val b = tot(w) - a
          kl += (a + 1) * (quarterLog2Jvm((a + 1) * nb) - quarterLog2Jvm((b + 1) * na))
        }
        KlDriftRow(s, nTokens, v, kl, math.max(kl, 0L) * 1000L / na)
      }, Nil)
    }
  }

  final case class AlphaMixtureRow(source: String, docs: Long, tokens: Long,
      w_sqrt: Long, weight_ppm: Long, target_tokens: Long, rate_ppm: Long,
      expected_tokens: Long, oversubscribed: Boolean)

  /** Streaming twin of [[graft.ext.Sampling.alphaMixturePlan]] keyed the
    * q162 way (per canonicalized HOST) — the live crawl-budget allocator.
    * Unlike [[streamingMixturePlan]] (fixed externally-supplied weights),
    * the alpha = 1/2 weights DERIVE from the accumulating per-host token
    * totals, and the sqrt-sum normalizer couples every host — so the
    * state is the host → (docs, tokens) map (host-cardinality-bounded,
    * two longs each) under a single key, and every batch re-emits the
    * whole refreshed plan (any host's growth re-divides the budget; the
    * emission IS the plan table, so its size equals the batch output).
    * Arithmetic is the batch planner's exact integer ppm chain on the
    * [[graft.ext.Sampling.isqrtJvm]] pinned kernel; every emission equals
    * the batch operator over rows seen so far (TransformWithStateSpec). */
  def streamingAlphaMixturePlan(ds: Dataset[SourceTokens],
      budgetTokens: Long): Dataset[AlphaMixtureRow] =
    mapFold(ds)(_ => 0, r => (r.source, (1L, r.n_tok)), addPair) { (_, _, counts) =>
      import graft.ext.Sampling.isqrtJvm
      val state = counts.iterator().toArray
      val sumSqrt = state.iterator.map { case (_, (_, t)) => isqrtJvm(t) }.sum
      (state.sortBy(_._1).iterator.map { case (host, (docs, tokens)) =>
        val w = isqrtJvm(tokens)
        // sumSqrt == 0 (every host total still 0, e.g. a first batch of
        // empty-text docs) would divide by zero; w is 0 for every host
        // then, so weight 0 is the correct limit — mirrors the tokens == 0
        // rate guard below, which already yields rate = 1e6 (take all).
        val wp = if (sumSqrt > 0) w * 1000000L / sumSqrt else 0L
        val target = budgetTokens * wp / 1000000L
        // tokens = 0: take everything (vacuously met) — the batch form
        // never divides there because a counted doc implies a row
        val rate = if (tokens > 0) math.min(1000000L, target * 1000000L / tokens)
          else 1000000L
        AlphaMixtureRow(host, docs, tokens, w, wp, target, rate,
          tokens * rate / 1000000L, target > tokens)
      }, Nil)
    }

  final case class TypedWeek(event_type: String, wk: Long)
  final case class EwmaRow(event_type: String, wk: Long, n: Long, ewma: Long,
      burst: Boolean)

  /** Streaming twin of [[graft.ext.EventFunnel.ewmaBursts]] (q181) — the
    * O(1)-state temporal smoother running AS actual keyed state: per
    * event type, (current week, its count so far, the EWMA of the
    * previous occupied week). Under event-time-ordered arrival (the
    * replay/Kafka priming contract) a week folds into the baseline when
    * a later week first appears — exactly the batch recursion over
    * occupied weeks — and the current week re-emits a provisional row
    * each batch (its fold-so-far), so upsert-by-(type, wk) reconciles
    * with the batch operator over the rows seen so far
    * (TransformWithStateSpec). Weeks with zero events occupy no state
    * and no recursion step, matching the batch rollup. */
  def streamingEwmaBursts(ds: Dataset[TypedWeek], factor: Int): Dataset[EwmaRow] = {
    def ewma(prevS: Long, n: Long): Long =
      if (prevS < 0) n else (3 * prevS + n) / 4
    // (wk, n, prevS); prevS = -1 encodes "no previous occupied week"
    fold(ds)(_.event_type, (Long.MinValue, 0L, -1L)) { (key, s, rows) =>
      var (wk, n, prevS) = s
      val out = mutable.LinkedHashMap.empty[Long, EwmaRow]
      def emit(): Unit = if (wk != Long.MinValue)
        out(wk) = EwmaRow(key, wk, n, ewma(prevS, n),
          prevS >= 0 && n > prevS * factor)
      rows.toArray.sortBy(_.wk).foreach { r =>
        if (r.wk == wk || wk == Long.MinValue) {
          if (wk == Long.MinValue) wk = r.wk
          n += 1
        } else {
          require(r.wk > wk, s"out-of-order week ${r.wk} after $wk")
          emit() // close the finished week with its final count
          prevS = ewma(prevS, n); wk = r.wk; n = 1
        }
      }
      emit() // provisional row for the still-open week
      ((wk, n, prevS), out.valuesIterator.toSeq)
    }
  }

  final case class ArrivalEvent(event_type: String, event_id: Long, ts: Long)
  final case class LatenessRow(event_type: String, n_events: Long,
      n_late_1h: Long, n_late_1d: Long, max_late_ns: Long)

  /** Streaming twin of [[graft.ext.EventFunnel.latenessAudit]] (q185) —
    * the live watermark-delay dashboard: per type, how far behind the
    * running max event time arrivals land (what would a 1h/1d watermark
    * drop?). The batch window max(ts) OVER (... ORDER BY event_id) folds
    * into FIVE longs of per-type state (running max ts + four counters):
    * late = max(maxTs − ts, 0) since the window max includes the current
    * row. Arrival order = event_id — per type, batches must split the
    * event_id order (the replay/Kafka priming contract; within a batch
    * the fold sorts). Update-mode upsert by type reconciles with the
    * batch rollup after any prefix. */
  def streamingLatenessAudit(ds: Dataset[ArrivalEvent]): Dataset[LatenessRow] = {
    val hour = 3600000000000L
    val day = 86400000000000L
    fold(ds)(_.event_type, (Long.MinValue, 0L, 0L, 0L, 0L)) { (key, s, rows) =>
      var (maxTs, n, n1h, n1d, maxLate) = s
      rows.toArray.sortBy(_.event_id).foreach { e =>
        val late = if (maxTs == Long.MinValue) 0L else math.max(maxTs - e.ts, 0L)
        n += 1
        if (late > hour) n1h += 1
        if (late > day) n1d += 1
        if (late > maxLate) maxLate = late
        if (e.ts > maxTs || maxTs == Long.MinValue) maxTs = e.ts
      }
      ((maxTs, n, n1h, n1d, maxLate),
        Iterator.single(LatenessRow(key, n, n1h, n1d, maxLate)))
    }
  }

  final case class KeyedArrival(user_id: Long, event_type: String, ts: Long,
      event_id: Long)
  final case class DebounceRow(user_id: Long, event_type: String,
      n_events: Long, n_kept: Long, n_dropped: Long)

  /** Streaming twin of q204's debounce rollup — live retry-storm
    * monitoring. State per (user, type): ONE long (the previous raw
    * event's ts — the batch lag contract) plus the three counters,
    * merged downstream per type by the caller; here the fold keys
    * on (user, type) and emits per-key counter rows each batch, which
    * upsert-reconcile to the batch rollup after summing per type
    * (asserted in TransformWithStateSpec). Requires per-(user, type)
    * (ts, event_id)-ordered arrival across batches — the priming
    * contract; within a batch the fold sorts. */
  def streamingDebounce(ds: Dataset[KeyedArrival],
      intervalNs: Long): Dataset[DebounceRow] =
    fold(ds)(e => (e.user_id, e.event_type), (Long.MinValue, 0L, 0L)) { (key, s, rows) =>
      var (prevTs, n, kept) = s
      rows.toArray.sortBy(e => (e.ts, e.event_id)).foreach { e =>
        n += 1
        if (prevTs == Long.MinValue || e.ts - prevTs > intervalNs) kept += 1
        prevTs = e.ts
      }
      ((prevTs, n, kept), Iterator.single(DebounceRow(key._1, key._2, n, kept, n - kept)))
    }

  final case class UserWeek(user_id: Long, wk: Long)
  final case class GrowthEvent(user_id: Long, wk: Long, cls: String)

  /** Streaming half of q198's growth accounting: per-user classification
    * of each newly active week as new / retained / resurrected, from ONE
    * long of state (the last active week; Long.MinValue = never seen).
    * Each (user, week) first-activation emits exactly one
    * immutable classification row (append semantics); the per-week flow
    * rollup is a downstream aggregation of these emissions, equal to the
    * batch flows for any prefix ending on a week boundary. Requires
    * per-user week-ordered arrival (priming contract); within a batch
    * the fold sorts and dedups weeks. */
  def streamingGrowthEvents(ds: Dataset[UserWeek]): Dataset[GrowthEvent] =
    fold(ds, OutputMode.Append())(_.user_id, Long.MinValue) { (key, s, rows) =>
      val out = Seq.newBuilder[GrowthEvent]
      var lastWk = s
      rows.toArray.map(_.wk).distinct.sorted.foreach { wk =>
        if (wk > lastWk) {
          val cls =
            if (lastWk == Long.MinValue) "new"
            else if (lastWk == wk - 1) "retained"
            else "resurrected"
          out += GrowthEvent(key, wk, cls)
          lastWk = wk
        }
      }
      (lastWk, out.result())
    }

  final case class DocMeta(source: String, lang: String, n_tok: Long,
      n_chars: Long)
  final case class CardRow(source: String, n_docs: Long, n_tokens: Long,
      n_chars: Long, n_langs: Long, top_lang: String, top_lang_ppm: Long,
      mean_tokens_ppm: Long)

  /** Streaming twin of the q236 dataset card: per-source counters (three
    * longs) plus the (lang → doc count) map — language-cardinality-
    * bounded state — re-derive the full card row every batch the source
    * is touched. Majority lang ties break to the smallest lang (the
    * batch struct-min convention). Update-mode upsert by source equals
    * the batch card over any prefix. */
  final class CardProcessor
      extends StatefulProcessor[String, DocMeta, CardRow] {

    @transient private var sums: ValueState[(Long, Long, Long)] = _
    @transient private var langs: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      sums = getHandle.getValueState[(Long, Long, Long)]("sums", TTLConfig.NONE)
      langs = getHandle.getMapState[String, Long]("langs", TTLConfig.NONE)
    }

    override def handleInputRows(key: String, rows: Iterator[DocMeta],
        timerValues: TimerValues): Iterator[CardRow] = {
      var (nDocs, nTok, nCh) =
        if (sums.exists()) sums.get() else (0L, 0L, 0L)
      rows.foreach { d =>
        nDocs += 1; nTok += d.n_tok; nCh += d.n_chars
        val c = if (langs.containsKey(d.lang)) langs.getValue(d.lang) else 0L
        langs.updateValue(d.lang, c + 1)
      }
      sums.update((nDocs, nTok, nCh))
      val lm = langs.iterator().toArray
      val (topLang, topN) = lm.minBy { case (l, c) => (-c, l) }
      Iterator.single(CardRow(key, nDocs, nTok, nCh, lm.length.toLong,
        topLang, (topN * 1000000L) / nDocs, (nTok * 1000000L) / nDocs))
    }
  }

  def streamingCard(ds: Dataset[DocMeta]): Dataset[CardRow] =
    wire(ds)(_.source)(new CardProcessor)

  final case class WeekHash(grp: String, wk: Long, h: Long)
  final case class SlidingHllRow(grp: String, wk: Long, v_zero: Long,
      s_sum: Long, raw_est: Double, est_distinct: Option[Double])

  /** Streaming twin of [[graft.ext.Sketches.slidingHllDistinct]]'s sketch
    * half (q182) — continuous trailing-`windowWeeks` distinct-count
    * monitoring. State per group: the sparse ((week, bucket) → max rho)
    * register map PRUNED to the trailing `windowWeeks` weeks (under
    * event-time-ordered arrival across batches — the replay/Kafka priming
    * contract — an older week can never feed a future trailing window),
    * i.e. ≤ windowWeeks·64 small longs per group forever. Each batch
    * absorbs its rows, re-emits the refreshed report for every OCCUPIED
    * target week the batch can have changed (weeks in [min batch week,
    * max seen week] — a trailing window only takes registers from weeks
    * ≤ its own), then prunes. Upsert by (grp, wk) reconciles bit-exactly
    * with the batch operator's sketch columns; the batch form's exact
    * `n_exact` audit column is deliberately NOT mirrored — carrying exact
    * distincts would defeat the fixed-memory sketch. */
  def streamingSlidingHll(ds: Dataset[WeekHash],
      windowWeeks: Int): Dataset[SlidingHllRow] = {
    require(windowWeeks >= 1 && windowWeeks <= 64, "windowWeeks in [1,64]")
    val entry = (r: WeekHash) => { val (b, rho) = hllReg(r.h); ((r.wk, b), rho) }
    mapFold(ds)(_.grp, entry, maxLong) { (key, touched, regs) =>
      val minB = touched.keysIterator.map(_._1).min
      val state = regs.iterator().toArray
      val weeks = state.iterator.map(_._1._1).toSet
      val maxW = weeks.max
      val out = weeks.toArray.sorted.iterator
        .filter(w => w >= minB && w <= maxW)
        .map { w =>
          val (vZero, sSum, raw, est) = hll { b =>
            var m = 0L
            state.foreach { case ((sw, sb), sm) =>
              if (sb == b && sw <= w && sw > w - windowWeeks && sm > m) m = sm
            }
            m
          }
          SlidingHllRow(key, w, vZero, sSum, raw, est)
        }.toArray
      // prune: weeks below maxW - (windowWeeks-1) can't feed any window
      // a future (event-time-ordered) batch will emit
      (out, state.iterator.map(_._1).filter(_._1 <= maxW - windowWeeks))
    }
  }

  final case class HourErr(hr: Long, e: Long)
  final case class SloBurnRow(hr: Long, err: Long, tot: Long,
      share_s_ppm: Long, share_l_ppm: Long, burn_s_centi: Long,
      burn_l_centi: Long, alert: Boolean)

  /** Streaming twin of [[graft.ext.EventFunnel.sloBurnRate]] (q251) — the
    * multi-window multi-burn SLO monitor AS a continuous query. Exactly
    * the (key, window) MapState shape: state is the hourly (err, tot)
    * rollup — hours-cardinality, and PRUNED to the trailing `longW` hours
    * under event-time-ordered arrival (an older hour can never feed a
    * future row's trailing window), so state is ≤ longW pairs forever.
    * Each batch absorbs its rows and re-emits the refreshed q251 row for
    * every retained hour ≥ the batch's min hour (a trailing window reads
    * only hours ≤ its own, so earlier rows are final); upsert-by-hr
    * reconciles bit-exactly with the batch operator over rows seen so
    * far — same integer chain: share ppm, burn centi, two-threshold
    * alert. */
  def streamingSloBurnRate(ds: Dataset[HourErr], budgetPpm: Long,
      shortW: Int, longW: Int, fastCenti: Long,
      slowCenti: Long): Dataset[SloBurnRow] = {
    require(budgetPpm > 0 && shortW >= 1 && longW >= shortW)
    mapFold(ds)(_ => 0, r => (r.hr, (r.e, 1L)), addPair) { (_, touched, counts) =>
      val minB = touched.keysIterator.min
      val state = counts.iterator().toArray.sortBy(_._1)
      val maxH = state.last._1
      val out = state.iterator
        .filter { case (h, _) => h >= minB }
        .map { case (h, (err, tot)) =>
          var (errS, totS, errL, totL) = (0L, 0L, 0L, 0L)
          state.foreach { case (h2, (e2, t2)) =>
            if (h2 <= h && h2 > h - shortW) { errS += e2; totS += t2 }
            if (h2 <= h && h2 > h - longW) { errL += e2; totL += t2 }
          }
          val shareS = errS * 1000000L / totS
          val shareL = errL * 1000000L / totL
          val burnS = shareS * 100L / budgetPpm
          val burnL = shareL * 100L / budgetPpm
          SloBurnRow(h, err, tot, shareS, shareL, burnS, burnL,
            burnS >= fastCenti && burnL >= slowCenti)
        }.toArray
      // prune: hours at or below maxH - longW can't feed any trailing
      // window an event-time-ordered future batch will emit
      (out, state.iterator.map(_._1).filter(_ <= maxH - longW))
    }
  }

  final case class AaEvent(day: Long, arm: Long, conv: Long)
  final case class AaRow(day: Long, n1: Long, c1: Long, n2: Long, c2: Long,
      z2_ppm: Option[Long], flagged: Boolean)

  /** One event's per-day two-arm contingency delta (n1, c1, n2, c2). */
  private val aaCell = (r: AaEvent) =>
    (r.day, if (r.arm == 0) (1L, r.conv, 0L, 0L) else (0L, 0L, 1L, r.conv))

  /** Streaming twin of the q280 A/A experiment-calibration monitor: the
    * per-day two-arm contingency lives as (day -> n1,c1,n2,c2) MapState —
    * days are independent (no cross-day window), so each batch touches
    * only its own days' counters and re-emits the refreshed q280 row for
    * exactly those days; upsert-by-day reconciles with the batch operator
    * over rows seen so far. z² is the same exact rational as
    * [[graft.ext.Evaluation.withZ2Ppm]] ([[graft.ext.Evaluation.z2PpmJvm]]).
    * State = four longs per active day, forever bounded by the day
    * cardinality. critPpm = z²·10⁶ alert threshold (q280 uses 4·10⁶ —
    * |z| > 2). */
  def streamingAaTest(ds: Dataset[AaEvent], critPpm: Long): Dataset[AaRow] =
    mapFold(ds)(_ => 0, aaCell, addQuad) { (_, touched, _) =>
      (touched.toArray.sortBy(_._1).iterator.map { case (d, (n1, c1, n2, c2)) =>
        val z2 = graft.ext.Evaluation.z2PpmJvm(n1, c1, n2, c2)
        AaRow(d, n1, c1, n2, c2, z2, z2.exists(_ > critPpm))
      }, Nil)
    }

  /** Streaming twin of the q288 peeking audit's cumulative z² (the 'aa'
    * scenario as a continuous monitor): per-day contingency DELTAS live in
    * MapState; each batch re-derives the prefix-cumulative z² for every
    * day ≥ the batch's min touched day (a prefix window reads all days ≤
    * its own, so later batches invalidate every later day's row — the
    * inverse of SloBurn's trailing-window finality). Upsert-by-day equals
    * the batch prefix derivation over rows seen so far. State is one
    * 4-long tuple per day, bounded by day cardinality; prefixes need the
    * full day history, so nothing prunes (days, not events). */
  def streamingPeekingAudit(ds: Dataset[AaEvent], critPpm: Long): Dataset[AaRow] =
    mapFold(ds)(_ => 0, aaCell, addQuad) { (_, touched, deltas) =>
      val minDay = touched.keysIterator.min
      val state = deltas.iterator().toArray.sortBy(_._1)
      var (n1, c1, n2, c2) = (0L, 0L, 0L, 0L)
      val out = Array.newBuilder[AaRow]
      state.foreach { case (d, (dn1, dc1, dn2, dc2)) =>
        n1 += dn1; c1 += dc1; n2 += dn2; c2 += dc2
        if (d >= minDay) {
          val z2 = graft.ext.Evaluation.z2PpmJvm(n1, c1, n2, c2)
          out += AaRow(d, n1, c1, n2, c2, z2, z2.exists(_ > critPpm))
        }
      }
      (out.result(), Nil)
    }

  final case class CdcToken(doc_id: Long, p: Long, h: Long)
  final case class CdcChunk(doc_id: Long, cid: Long, len: Long, fpc: Long,
      open: Boolean)

  /** Streaming twin of the q289 content-defined chunker
    * ([[graft.ext.Dedup.cdcChunks]]) — the ingestion-side shape: tokens
    * stream per document; a chunk CLOSES the moment its boundary token
    * arrives (3-token window fingerprint ≡ 0 mod 16, computed from the
    * two retained trailing hashes — O(1) state per doc, no token
    * buffering) and emits a final row; the still-open tail chunk re-emits
    * provisionally each batch (open = true), so closed ∪ open always
    * equals the batch chunk frame over tokens seen so far. Requires
    * per-doc position-ordered arrival (in-batch rows are sorted here;
    * cross-batch order is the priming contract). State: seven longs per
    * in-flight document, kept until the doc's stream ends (production
    * would TTL on a document-complete marker). */
  def streamingCdcChunks(ds: Dataset[CdcToken]): Dataset[CdcChunk] =
    // (lastH2, lastH1, pos, chunkStart, (sumH, sumPH, cid))
    fold(ds)(_.doc_id, (0L, 0L, 0L, 1L, (0L, 0L, 0L))) { (key, s, rows) =>
      var (h2, h1, pos, start, (sumH, sumPH, cid)) = s
      val out = Array.newBuilder[CdcChunk]
      rows.toArray.sortBy(_.p).foreach { tk =>
        require(tk.p == pos + 1, s"doc $key: token ${tk.p} after $pos")
        pos = tk.p
        sumH += tk.h; sumPH += pos * tk.h
        val isBoundary = pos >= 3 && {
          val s1 = h2 + h1 + tk.h
          val s2 = (pos - 2) * h2 + (pos - 1) * h1 + pos * tk.h
          val fp = s2 - (pos - 3) * s1
          // fp is non-negative by construction (position-weighted sums of
          // non-negative hashes over the window)
          fp % 16L == 0L
        }
        if (isBoundary) {
          out += CdcChunk(key, cid, pos - start + 1,
            sumPH - (start - 1) * sumH, open = false)
          cid += 1; start = pos + 1; sumH = 0L; sumPH = 0L
        }
        h2 = h1; h1 = tk.h
      }
      if (pos >= start) // provisional open tail
        out += CdcChunk(key, cid, pos - start + 1,
          sumPH - (start - 1) * sumH, open = true)
      ((h2, h1, pos, start, (sumH, sumPH, cid)), out.result())
    }

  final case class TouchEvent(user_id: Long, event_type: String, ts: Long,
      event_id: Long)
  final case class TouchCredit(user_id: Long, event_type: String,
      n_touches: Long, credit_ppm_sum: Long)

  /** Streaming twin of the q257 U-shaped multi-touch attribution — the
    * conversion-triggered finalization shape: per user, pre-conversion
    * touches BUFFER in keyed state; the first 'purchase' replays the
    * buffered path through the exact batch credit rule (single touch
    * 1e6; first/last 400000; middles 200000 floor-divided), emits one
    * final row per touched event type, and collapses state to a
    * converted flag — append semantics, nothing re-emits. Post-
    * conversion events cost one flag read. Under event-time-ordered
    * arrival (the priming contract; in-batch ties resolved by the same
    * (ts, event_id) total order) emissions equal the batch operator
    * over any prefix. State bound: converted users hold one boolean;
    * unconverted users hold their touch path (production would add a
    * TTL horizon — the credit rule itself needs the full path). */
  final class MultitouchProcessor
      extends StatefulProcessor[Long, TouchEvent, TouchCredit] {

    @transient private var converted: ValueState[Boolean] = _
    @transient private var touches: ListState[(String, Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      converted = getHandle.getValueState[Boolean]("converted", TTLConfig.NONE)
      touches = getHandle.getListState[(String, Long, Long)]("touches", TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[TouchEvent],
        timerValues: TimerValues): Iterator[TouchCredit] = {
      if (converted.exists() && converted.get()) return Iterator.empty
      val batch = rows.toArray.sortBy(r => (r.ts, r.event_id))
      val out = Array.newBuilder[TouchCredit]
      var done = false
      batch.foreach { r =>
        if (!done) {
          if (r.event_type == "purchase") {
            val path = touches.get().toArray
            val n = path.length.toLong
            if (n > 0) {
              val credits = path.zipWithIndex.map { case ((tp, _, _), i) =>
                val rk = i + 1L
                val c = if (n == 1) 1000000L
                  else if (rk == 1L || rk == n) 400000L
                  else 200000L / (n - 2L)
                (tp, c)
              }
              credits.groupBy(_._1).toArray.sortBy(_._1).foreach { case (tp, cs) =>
                out += TouchCredit(key, tp, cs.length.toLong, cs.map(_._2).sum)
              }
            }
            converted.update(true)
            touches.clear()
            done = true
          } else {
            touches.appendValue((r.event_type, r.ts, r.event_id))
          }
        }
      }
      out.result().iterator
    }
  }

  def streamingMultitouch(ds: Dataset[TouchEvent]): Dataset[TouchCredit] =
    wire(ds, OutputMode.Append())(_.user_id)(new MultitouchProcessor)

  final case class SrcStatus(source: String, status: String)
  final case class DiffCountRow(source: String, status: String, n_docs: Long)

  /** Streaming twin of the q227 corpus snapshot diff — the release
    * provenance report maintained continuously as documents stream in.
    * The batch form diffs two derived views with a full-outer join; but
    * each doc's (status) cell is decidable FROM THE DOC ALONE (view
    * membership from its id hash, content change by digest comparison —
    * the same Column expressions as q227), so the stream needs no join
    * at all: a stateless classification followed by a keyed running
    * count. State = one long per (source, status) cell — a ≤
    * sources×4-row living report; upsert-by-(source, status) reconciles
    * with the batch operator over docs seen so far at EVERY batch
    * boundary, not just the end. */
  def streamingSnapshotDiff(docs: DataFrame): Dataset[DiffCountRow] = {
    import org.apache.spark.sql.functions._
    val h = graft.ext.Sampling.portableHash(col("doc_id"))
    val in1 = pmod(h, lit(10)) =!= 0
    val in2 = pmod(h, lit(13)) =!= 0
    val d1 = md5(col("text"))
    val d2 = md5(when(pmod(h, lit(7)) === 0,
      concat(col("text"), lit(" [rev2]"))).otherwise(col("text")))
    val classified = docs
      .where(in1 || in2)
      .select(col("source"),
        when(!in1, "added")
          .when(!in2, "removed")
          .when(d1 =!= d2, "changed")
          .otherwise("unchanged").as("status"))
      .as(Encoders.product[SrcStatus])
    fold(classified)(r => (r.source, r.status), 0L) { (key, s, rows) =>
      val cur = s + rows.size
      (cur, Iterator.single(DiffCountRow(key._1, key._2, cur)))
    }
  }
}
