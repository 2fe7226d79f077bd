package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{broadcast, col}

/** The per-round policy every iterative ladder in [[Graphs]] shares, in one
  * place:
  *
  *  - the EDGE-PIN TIER of the static edge side and the FRONTIER-HINT
  *    policy for the per-round frames joined against it ([[pin]],
  *    [[hinter]], [[hintIfSmall]]);
  *  - the per-round EAGER MATERIALIZATION ([[step]]) and the trace of
  *    round states ([[trace]]);
  *  - the settled/frontier delta-BFS loop ([[frontier]]).
  *
  * A ladder calls these instead of `localCheckpoint` / `PinnedCache.pin` /
  * size gates of its own, so a change of cadence or tiering is a change
  * here. */
private[ext] object Ladder {

  /** Below this many edge rows the per-round joins broadcast the small edge
    * side anyway: the plain pin is kept and a pre-partition would be pure
    * overhead (measured, r15 subset A/B: ball-probe ladders over the
    * incremental forms' ≤few-k-edge balls lost 20–30% to the repartition
    * and the second cache materialization). */
  private val PartitionRows = 32768L

  /** Above this many rows the per-round frames are broadcast-hinted instead
    * (see [[hinter]]). */
  private val HintRows = 500000L

  /** Broadcast-hint an already-materialized model-state frame when it is
    * ACTUALLY small. `localCheckpoint` erases precise stats (the
    * LogicalRDD reports the default size), so without the hint Spark
    * plans SortMergeJoin and PAYS the big side's exchange before AQE's
    * runtime conversion can see the real size — measured 2× the full
    * recompute's shuffle on incrementalKatz at 1M edges
    * (MaintenanceCostSpec). The count is a cheap action over
    * already-materialized partitions; above the threshold the frame is
    * returned unhinted — ball-sized state IS graph-sized on an expander,
    * and force-broadcasting what might not fit trades a shuffle for an
    * OOM. The gate is rows AND estimated bytes (rows × Σ field
    * defaultSize, ADVICE r13): a near-threshold WIDE frame — e.g. a
    * labeledBfs (seed, node, d) ball at 2M rows — estimates tens of MB
    * and must not be force-broadcast under the repo's 2 GB-driver
    * stress profile just because its row count squeaked under the cap. */
  private def hintIfSmall(df: DataFrame,
      maxRows: Long = 2000000L, maxBytes: Long = 48L << 20): DataFrame = {
    val rowBytes = df.schema.map(_.dataType.defaultSize.toLong).sum.max(1L)
    val n = df.count()
    if (n <= maxRows && n * rowBytes <= maxBytes) broadcast(df) else df
  }

  /** ONE gating decision per operator call for the frontier/ball hints:
    * each [[hintIfSmall]] costs a count JOB per round (~50 ms of
    * scheduling), which only amortizes when the scanned side is big
    * enough that the exchange it avoids dominates — measured +1.4 s on
    * q312's ~8k-edge host graph (24 pointless count jobs) vs a 122 →
    * 0.1 MB shuffle cut on the 1M-edge ring forest. Below the threshold
    * the un-hinted plan's exchanges are a few MB and CHEAPER than the
    * jobs; above it the jobs are noise against the scans. The count
    * itself runs once per call on an already-pinned/checkpointed frame. */
  def hinter(big: DataFrame): DataFrame => DataFrame = hinterFor(big.count())

  private def hinterFor(rows: Long): DataFrame => DataFrame =
    if (rows > HintRows) hintIfSmall(_) else identity

  /** A pinned static edge frame and its tier (see [[pin]]). */
  final class Pin private[Ladder] (val edges: DataFrame, rows: Long) {

    /** The frontier hinter of this tier: [[hintIfSmall]] above the
      * [[hinter]] gate, identity below it. */
    val hint: DataFrame => DataFrame = hinterFor(rows)

    /** `df` (default: the pinned edges) pinned for a per-round join keyed
      * on `key`. Between the gates it is hash-partitioned by `key` ONCE
      * before the pin, so every round's join reuses that partitioning
      * instead of re-exchanging the static side per round — the
      * labelPropagation idiom (r14 change 4; a cached frame's
      * outputPartitioning survives InMemoryTableScan); measured
      * 1.16–1.40× same-window on q187/q220/q307/q309. Outside the gates
      * it is a plain pin: small graphs broadcast the edge side per round,
      * and on big graphs the rounds broadcast the frontier ([[hint]]), so
      * an upfront repartition would be a pure extra full-graph exchange.
      * Results are partitioning-independent; only the plan changes. */
    def by(key: String, df: DataFrame = edges): DataFrame =
      if (rows >= PartitionRows && rows <= HintRows)
        PinnedCache.pin(df.repartition(col(key)))
      else if (df eq edges) edges
      else PinnedCache.pin(df)
  }

  /** Pin an edge frame for a per-round JOIN LADDER and decide its tier
    * with one count (guide §2.4 "two operations keyed the same way can
    * share one exchange"). */
  def pin(e: DataFrame): Pin = {
    val raw = PinnedCache.pin(e)
    new Pin(raw, raw.count())
  }

  /** One round's eager materialization: a flat lineage per round (each
    * round's shuffle is reused, never re-planned into the next round —
    * the connectedComponents idiom). */
  def step(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** The round states of a fixed-round ladder: `init` (as given), then
    * `next(state, r)` for r = 1..`rounds`, each materialized by [[step]]
    * and then passed through `hint`. `eager = false` skips the per-round
    * materialization so plan audits can see the full lineage. */
  def trace(init: DataFrame, rounds: Int, hint: DataFrame => DataFrame = identity,
      eager: Boolean = true)(next: (DataFrame, Int) => DataFrame): IndexedSeq[DataFrame] =
    (1 to rounds).scanLeft(init)((s, r) =>
      if (eager) hint(step(next(s, r))) else next(s, r))

  /** Settled/frontier delta BFS: level 0 is `seed`; level r is
    * `expand(level r−1, r)` minus every row whose `keys` an earlier level
    * already settled. Only the new frontier is materialized per round; the
    * settled set is a union of the levels, scanned by the anti-join and
    * never re-aggregated (exact wherever a key is first reached at its
    * minimum — BFS monotonicity). Returns the levels 0..`rounds`. */
  def frontier(seed: DataFrame, keys: Seq[String], rounds: Int,
      hint: DataFrame => DataFrame = identity)
      (expand: (DataFrame, Int) => DataFrame): IndexedSeq[DataFrame] = {
    val levels = scala.collection.mutable.ArrayBuffer(hint(step(seed)))
    var settled = levels.head
    for (r <- 1 to rounds) {
      levels += hint(step(expand(levels.last, r).join(settled, keys, "left_anti")))
      settled = settled.unionByName(levels.last)
    }
    levels.toIndexedSeq
  }
}
